"""Pure-stdlib lossless WebP (VP8L) codec: real encode/decode.

Closes the last chart-export parity gap with the reference
(``plot.py:67-71`` offers png/jpeg/webp/svg/pdf through plotly/kaleido).

The encoder emits a spec-conformant VP8L stream: no transforms, no
color cache, one prefix-code group, literal pixels plus LZ77
back-references for horizontal (distance 1) and vertical (distance =
width) runs — the two run shapes that dominate chart rasters — with
real canonical prefix codes built per image by package-merge
(length-limited, optimal). The decoder covers that subset plus color
cache and the simple-code forms, i.e. any transform-free single-group
VP8L stream; transforms / meta prefix images / lossy VP8 raise
``WebpFormatError`` so callers fall through to their honest seams.

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
_HASH_MUL = 0x1E35A7BD     # color-cache hash (spec §4.2.3)


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


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self._d = data
        self._pos = 0      # bit position

    def bits(self, n: int) -> int:
        v = 0
        for i in range(n):
            p = self._pos + i
            byte = p >> 3
            if byte >= len(self._d):
                raise WebpFormatError("truncated VP8L stream")
            v |= ((self._d[byte] >> (p & 7)) & 1) << i
        self._pos += n
        return v


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


class _PrefixDecoder:
    """Bit-by-bit canonical decode; a 0-length table returns its single
    symbol without consuming bits (simple code with one symbol)."""

    def __init__(self, lengths: dict[int, int]) -> None:
        used = {s: ln for s, ln in lengths.items() if ln > 0}
        if not used:
            raise WebpFormatError("empty prefix code")
        if len(used) == 1:
            # libwebp treats a single-symbol code as 0 bits per symbol
            (self._only,) = used
            self._map: dict[tuple[int, int], int] = {}
            return
        self._only = None
        self._map = {
            (ln, code): s
            for s, (code, ln) in _canonical_codes(used).items()
        }

    @classmethod
    def single(cls, symbol: int) -> "_PrefixDecoder":
        d = cls.__new__(cls)
        d._only = symbol
        d._map = {}
        return d

    def read(self, br: _BitReader) -> int:
        if self._only is not None:
            return self._only
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | br.bits(1)
            sym = self._map.get((ln, code))
            if sym is not None:
                return sym
        raise WebpFormatError("invalid prefix code in stream")


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


def _prefix_decode_value(code: int, br: _BitReader) -> int:
    if code < 4:
        return code + 1
    e = (code - 2) >> 1
    offset = (2 + (code & 1)) << e
    return offset + br.bits(e) + 1


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


def _read_prefix_code(br: _BitReader, alphabet: int) -> _PrefixDecoder:
    if br.bits(1):                        # simple
        num_symbols = br.bits(1) + 1
        if br.bits(1):
            sym0 = br.bits(8)
        else:
            sym0 = br.bits(1)
        if num_symbols == 1:
            return _PrefixDecoder.single(sym0)
        sym1 = br.bits(8)
        return _PrefixDecoder({sym0: 1, sym1: 1})
    num_codes = br.bits(4) + 4
    cl_lengths: dict[int, int] = {}
    for s in _CL_ORDER[:num_codes]:
        cl_lengths[s] = br.bits(3)
    cl_dec = _PrefixDecoder({s: ln for s, ln in cl_lengths.items() if ln})
    max_symbol = alphabet
    if br.bits(1):
        length_nbits = 2 + 2 * br.bits(3)
        max_symbol = 2 + br.bits(length_nbits)
    lengths: dict[int, int] = {}
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        c = cl_dec.read(br)
        if c < 16:
            if c:
                lengths[sym] = c
                prev = c
            sym += 1
        elif c == 16:
            rep = 3 + br.bits(2)
            for _ in range(rep):
                if sym < alphabet:
                    lengths[sym] = prev
                sym += 1
        elif c == 17:
            sym += 3 + br.bits(3)
        else:
            sym += 11 + br.bits(7)
    return _PrefixDecoder(lengths)


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


# ---------------------------------------------------------------------------
# decode

def decode_webp(data: bytes) -> np.ndarray:
    """Lossless WebP bytes → uint8 array (H, W, 3) or (H, W, 4)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise WebpFormatError("not a WebP container")
    pos = 12
    payload = None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            payload = body
            break
        if tag in (b"VP8 ", b"VP8X"):
            raise WebpFormatError(f"unsupported WebP variant {tag!r}")
        pos += 8 + size + (size & 1)
    if payload is None or not payload or payload[0] != 0x2F:
        raise WebpFormatError("no VP8L chunk")
    br = _BitReader(payload[1:])
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bits(1)                      # alpha hint
    if br.bits(3) != 0:
        raise WebpFormatError("unknown VP8L version")
    if br.bits(1):
        raise WebpFormatError("VP8L transforms not supported")
    cache_bits = 0
    if br.bits(1):
        cache_bits = br.bits(4)
        if not 1 <= cache_bits <= 11:
            raise WebpFormatError("invalid color cache size")
    if br.bits(1):
        raise WebpFormatError("meta prefix image not supported")
    cache_size = (1 << cache_bits) if cache_bits else 0
    g_dec = _read_prefix_code(br, 256 + _NUM_LEN_CODES + cache_size)
    r_dec = _read_prefix_code(br, 256)
    b_dec = _read_prefix_code(br, 256)
    a_dec = _read_prefix_code(br, 256)
    d_dec = _read_prefix_code(br, _NUM_DIST_CODES)
    n = w * h
    out = np.empty(n, np.uint32)
    cache = [0] * cache_size
    i = 0
    while i < n:
        s = g_dec.read(br)
        if s < 256:
            rr = r_dec.read(br)
            bb = b_dec.read(br)
            aa = a_dec.read(br)
            px = (aa << 24) | (rr << 16) | (s << 8) | bb
            out[i] = px
            i += 1
        elif s < 256 + _NUM_LEN_CODES:
            length = _prefix_decode_value(s - 256, br)
            dcode = _prefix_decode_value(d_dec.read(br), br)
            dist = _plane_code_to_distance(w, dcode)
            if dist > i or i + length > n:
                raise WebpFormatError("back-reference out of range")
            for k in range(length):
                out[i + k] = out[i + k - dist]
            if cache_size:
                for k in range(length):
                    px = int(out[i + k])
                    cache[(_HASH_MUL * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
            i += length
            continue
        else:
            px = cache[s - 256 - _NUM_LEN_CODES]
            out[i] = px
            i += 1
        if cache_size:
            cache[(_HASH_MUL * int(px) & 0xFFFFFFFF) >> (32 - cache_bits)] = int(px)
    a = (out >> 24).astype(np.uint8).reshape(h, w)
    r = ((out >> 16) & 0xFF).astype(np.uint8).reshape(h, w)
    g = ((out >> 8) & 0xFF).astype(np.uint8).reshape(h, w)
    b = (out & 0xFF).astype(np.uint8).reshape(h, w)
    if (a != 255).any():
        return np.stack([r, g, b, a], axis=-1)
    return np.stack([r, g, b], axis=-1)


# spec §4.2.2: the first 120 distance codes are 2-D neighbor offsets
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (2, 8), (-2, 8), (7, 5), (-7, 5), (5, 7), (-5, 7), (8, 3),
    (-3, 8), (3, 8), (6, 7), (-6, 7), (7, 6), (-7, 6), (8, 4),
)


def _plane_code_to_distance(w: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * w + dx)
