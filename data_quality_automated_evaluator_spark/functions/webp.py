"""Pure-stdlib lossless WebP (VP8L) encoder.

Closes the last chart-export parity gap with the reference
(``plot.py:67-71`` offers png/jpeg/webp/svg/pdf through plotly/kaleido).

The encoder emits a spec-conformant VP8L stream: no transforms, no
color cache, one prefix-code group, literal pixels plus LZ77
back-references for horizontal (distance 1) and vertical (distance =
width) runs — the two run shapes that dominate chart rasters — with
real canonical prefix codes built per image by package-merge
(length-limited, optimal). Its round-trip tests decode with
``tests/image_decoders.py``.

Reference: the public "WebP Lossless Bitstream Specification"
(RFC 9649 §3-§5): LSB-first bit packing, DEFLATE-style canonical
prefix codes transmitted MSB-first, the 19-symbol code-length code
with order [17,18,0,1,...,15], prefix-coded LZ77 lengths/distances
(distance codes >120 are plain ``distance_code - 120``), and the
green/red/blue/alpha/distance five-code group.
"""

from __future__ import annotations

import struct

import numpy as np

_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_NUM_LEN_CODES = 24        # green symbols 256..279 are length prefix codes
_NUM_DIST_CODES = 40
_MAX_LZ_LEN = 4096         # largest value the 24 length prefix codes reach


class WebpFormatError(ValueError):
    pass


# ---------------------------------------------------------------------------
# bit I/O: fixed-width values are LSB-first; canonical prefix codes are
# written/read MSB-first (DEFLATE convention, spec §2)

class _BitWriter:
    def __init__(self) -> None:
        self._acc = 0
        self._n = 0
        self._out = bytearray()

    def bits(self, value: int, n: int) -> None:
        self._acc |= (value & ((1 << n) - 1)) << self._n
        self._n += n
        while self._n >= 8:
            self._out.append(self._acc & 0xFF)
            self._acc >>= 8
            self._n -= 8

    def code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.bits((code >> i) & 1, 1)

    def flush(self) -> bytes:
        if self._n:
            self._out.append(self._acc & 0xFF)
            self._acc = 0
            self._n = 0
        return bytes(self._out)


# ---------------------------------------------------------------------------
# canonical prefix codes

def _package_merge(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Optimal length-limited code lengths (package-merge)."""
    items = sorted((f, (s,)) for s, f in freqs.items() if f > 0)
    n = len(items)
    if n == 0:
        return {}
    if n == 1:
        return {items[0][1][0]: 1}
    if n > (1 << limit):
        raise WebpFormatError("alphabet too large for code-length limit")
    orig = [(w, syms) for w, syms in items]
    cur = list(orig)
    for _ in range(limit - 1):
        packaged = [
            (cur[i][0] + cur[i + 1][0], cur[i][1] + cur[i + 1][1])
            for i in range(0, len(cur) - 1, 2)
        ]
        cur = sorted(orig + packaged)
    lengths: dict[int, int] = {}
    for _, syms in cur[: 2 * n - 2]:
        for s in syms:
            lengths[s] = lengths.get(s, 0) + 1
    return lengths


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """lengths {sym: len} → {sym: (code, len)} per DEFLATE canonical rules."""
    by_len: dict[int, list[int]] = {}
    for s, ln in lengths.items():
        if ln:
            by_len.setdefault(ln, []).append(s)
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    for ln in range(1, max(by_len, default=0) + 1):
        code <<= 1
        for s in sorted(by_len.get(ln, ())):
            codes[s] = (code, ln)
            code += 1
    return codes


# ---------------------------------------------------------------------------
# LZ77 prefix-coded values (spec §4.2.2)

def _prefix_encode_value(v: int) -> tuple[int, int, int]:
    """value (>=1) → (prefix_code, extra_bits_value, extra_bits_count)."""
    x = v - 1
    if x < 4:
        return x, 0, 0
    b = x.bit_length() - 1
    e = b - 1
    s = (x >> e) & 1
    return 2 * b + s, x & ((1 << e) - 1), e


# ---------------------------------------------------------------------------
# prefix-code (de)serialization (spec §4.2.1)

def _write_code_lengths(bw: _BitWriter, lengths: list[int]) -> None:
    """Normal-form prefix code: RLE the length array with 16/17/18, code
    the RLE stream with the 19-symbol code-length code."""
    tokens: list[tuple[int, int, int]] = []  # (symbol, extra_val, extra_bits)
    i = 0
    n = len(lengths)
    while i < n:
        v = lengths[i]
        run = 1
        while i + run < n and lengths[i + run] == v:
            run += 1
        if v == 0:
            left = run
            while left >= 11:
                take = min(left, 138)
                tokens.append((18, take - 11, 7))
                left -= take
            while left >= 3:
                take = min(left, 10)
                tokens.append((17, take - 3, 3))
                left -= take
            tokens.extend((0, 0, 0) for _ in range(left))
        else:
            # literal first so prev_code_len == v, then 16-repeats
            tokens.append((v, 0, 0))
            left = run - 1
            while left >= 3:
                take = min(left, 6)
                tokens.append((16, take - 3, 2))
                left -= take
            tokens.extend((v, 0, 0) for _ in range(left))
        i += run
    freqs: dict[int, int] = {}
    for s, _, _ in tokens:
        freqs[s] = freqs.get(s, 0) + 1
    cl_lengths = _package_merge(freqs, 7)
    if len(cl_lengths) == 1:
        # a complete 1-symbol code-length code needs a dummy partner
        (only,) = cl_lengths
        cl_lengths = {only: 1, (0 if only != 0 else 1): 1}
    cl_codes = _canonical_codes(cl_lengths)
    num_codes = max(
        (idx + 1 for idx, s in enumerate(_CL_ORDER) if cl_lengths.get(s, 0)),
        default=4,
    )
    num_codes = max(num_codes, 4)
    bw.bits(num_codes - 4, 4)
    for s in _CL_ORDER[:num_codes]:
        bw.bits(cl_lengths.get(s, 0), 3)
    bw.bits(0, 1)  # no explicit max_symbol
    for s, ev, eb in tokens:
        c, ln = cl_codes[s]
        bw.code(c, ln)
        if eb:
            bw.bits(ev, eb)


def _write_prefix_code(
    bw: _BitWriter, freqs: dict[int, int], alphabet: int
) -> dict[int, tuple[int, int]]:
    used = sorted(s for s, f in freqs.items() if f > 0)
    if not used:
        used = [0]
    if len(used) <= 2 and max(used) < 256:
        bw.bits(1, 1)                     # simple code
        bw.bits(len(used) - 1, 1)
        first = used[0]
        if first <= 1:
            bw.bits(0, 1)
            bw.bits(first, 1)
        else:
            bw.bits(1, 1)
            bw.bits(first, 8)
        if len(used) == 2:
            bw.bits(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    bw.bits(0, 1)                         # normal code
    if len(used) == 1:
        # complete the tree with an unused partner symbol
        partner = 0 if used[0] != 0 else 1
        lengths = {used[0]: 1, partner: 1}
    elif len(used) == 2:
        lengths = {used[0]: 1, used[1]: 1}
    else:
        lengths = _package_merge(
            {s: f for s, f in freqs.items() if f > 0}, 15
        )
    arr = [lengths.get(s, 0) for s in range(alphabet)]
    _write_code_lengths(bw, arr)
    return _canonical_codes(lengths)


# ---------------------------------------------------------------------------
# encode

def encode_webp(img: np.ndarray) -> bytes:
    """uint8 array of shape (H, W, 3|4) → lossless WebP bytes."""
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise WebpFormatError("expected (H, W, 3|4) uint8 image")
    h, w = int(img.shape[0]), int(img.shape[1])
    if not (0 < w <= 1 << 14 and 0 < h <= 1 << 14):
        raise WebpFormatError("image side must be in [1, 16384]")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.shape[2] == 3:
        a = np.full((h, w), 255, np.uint8)
        r, g, b = img[..., 0], img[..., 1], img[..., 2]
    else:
        r, g, b, a = (img[..., i] for i in range(4))
    has_alpha = bool((a != 255).any())
    # pack to one uint32 per pixel for fast run detection
    argb = (
        (a.astype(np.uint32) << 24)
        | (r.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | b.astype(np.uint32)
    ).ravel()
    n = argb.size

    # greedy LZ77 over the two run shapes charts produce: distance 1
    # (horizontal run) and distance w (copy of the row above)
    eq1 = np.zeros(n, bool)
    eq1[1:] = argb[1:] == argb[:-1]
    eqw = np.zeros(n, bool)
    if n > w:
        eqw[w:] = argb[w:] == argb[:-w]
    tokens: list[tuple[int, int, int]] = []  # (kind 0=lit,1=copy, x, y)
    g_freq: dict[int, int] = {}
    r_freq: dict[int, int] = {}
    b_freq: dict[int, int] = {}
    a_freq: dict[int, int] = {}
    d_freq: dict[int, int] = {}
    i = 0
    while i < n:
        best_len = 0
        best_dist = 0
        for dist, eq in ((1, eq1), (w, eqw)):
            if dist <= i and eq[i]:
                j = i
                stop = min(n, i + _MAX_LZ_LEN)
                while j < stop and eq[j]:
                    j += 1
                if j - i > best_len:
                    best_len = j - i
                    best_dist = dist
        if best_len >= 3:
            tokens.append((1, best_len, best_dist))
            lp, _, _ = _prefix_encode_value(best_len)
            dp, _, _ = _prefix_encode_value(best_dist + 120)
            g_freq[256 + lp] = g_freq.get(256 + lp, 0) + 1
            d_freq[dp] = d_freq.get(dp, 0) + 1
            i += best_len
        else:
            px = int(argb[i])
            tokens.append((0, i, px))
            gg = (px >> 8) & 0xFF
            rr = (px >> 16) & 0xFF
            bb = px & 0xFF
            aa = px >> 24
            g_freq[gg] = g_freq.get(gg, 0) + 1
            r_freq[rr] = r_freq.get(rr, 0) + 1
            b_freq[bb] = b_freq.get(bb, 0) + 1
            a_freq[aa] = a_freq.get(aa, 0) + 1
            i += 1

    bw = _BitWriter()
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(1 if has_alpha else 0, 1)
    bw.bits(0, 3)       # version
    bw.bits(0, 1)       # no transforms
    bw.bits(0, 1)       # no color cache
    bw.bits(0, 1)       # no meta prefix image
    g_codes = _write_prefix_code(bw, g_freq, 256 + _NUM_LEN_CODES)
    r_codes = _write_prefix_code(bw, r_freq, 256)
    b_codes = _write_prefix_code(bw, b_freq, 256)
    a_codes = _write_prefix_code(bw, a_freq, 256)
    d_codes = _write_prefix_code(bw, d_freq, _NUM_DIST_CODES)
    for kind, x, y in tokens:
        if kind == 0:
            px = y
            c, ln = g_codes[(px >> 8) & 0xFF]
            bw.code(c, ln)
            c, ln = r_codes[(px >> 16) & 0xFF]
            bw.code(c, ln)
            c, ln = b_codes[px & 0xFF]
            bw.code(c, ln)
            c, ln = a_codes[px >> 24]
            bw.code(c, ln)
        else:
            lp, lev, leb = _prefix_encode_value(x)
            c, ln = g_codes[256 + lp]
            bw.code(c, ln)
            if leb:
                bw.bits(lev, leb)
            dp, dev, deb = _prefix_encode_value(y + 120)
            c, ln = d_codes[dp]
            bw.code(c, ln)
            if deb:
                bw.bits(dev, deb)
    payload = b"\x2f" + bw.flush()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk
