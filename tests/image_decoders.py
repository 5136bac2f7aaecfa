"""Decoders for the chart exporter's image encoders, the references
their round-trip tests compare against.

- ``decode_jpeg``: baseline sequential DCT (ITU-T T.81): marker walk,
  DQT (8/16-bit), SOF0, DHT, DRI/RSTn restart handling, per-MCU Huffman
  decode with byte-stuffing, dequant + dezigzag, orthonormal IDCT,
  chroma upsampling for any (h, v) sampling factors, JFIF YCbCr→RGB.
  Progressive, arithmetic and 12-bit streams raise ``JpegFormatError``.
- ``decode_png``: 8-bit color types 0/2/4/6, non-interlaced, all five
  scanline filters (RFC 2083).
- ``decode_webp``: any transform-free single-group VP8L stream, with
  color cache and the simple-code forms (RFC 9649 §3-§5); transforms,
  meta prefix images and lossy VP8 raise ``WebpFormatError``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from data_quality_automated_evaluator_spark.functions.jpeg import ZIGZAG, JpegFormatError, _T
from data_quality_automated_evaluator_spark.functions.png import _SIG, PngFormatError
from data_quality_automated_evaluator_spark.functions.webp import (
    _CL_ORDER,
    _NUM_DIST_CODES,
    _NUM_LEN_CODES,
    WebpFormatError,
    _canonical_codes,
)

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # PNG color type -> channels
_HASH_MUL = 0x1E35A7BD  # WebP color-cache hash (spec §4.2.3)
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


# --- JPEG ------------------------------------------------------------------


def _build_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: {(length, code) -> symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[vi]
            vi += 1
            code += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-stuffing removal; RSTn markers are handled by the caller."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                # pad with 1-bits past the end (T.81 F.2.2.5 allows the
                # final byte's tail to be padding)
                self.buf = (self.buf << 8) | 0xFF
                self.nbits += 8
                continue
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # a real marker: rewind and pad — caller resyncs
                    self.pos -= 1
                    self.buf = (self.buf << 8) | 0xFF
                    self.nbits += 8
                    continue
            self.buf = (self.buf << 8) | b
            self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.buf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return v

    def decode_huff(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise JpegFormatError("invalid huffman code in entropy stream")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map ``size``-bit magnitude to signed value."""
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode baseline sequential JPEG bytes → HxWx3 uint8 RGB (grayscale
    is replicated to 3 channels). Raises :class:`JpegFormatError` for
    non-JPEG or unsupported (progressive/arithmetic/12-bit) input."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        raise JpegFormatError("not a JPEG (missing SOI)")
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None           # (h, w, components)
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegFormatError("marker desync")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if prec == 0:
                    q = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(np.int64)
                    i += 64
                else:
                    q = np.frombuffer(seg[i : i + 128], dtype=">u2").astype(np.int64)
                    i += 128
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = q
                quant[tid] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                table = _build_decode_table(bits, vals)
                (huff_dc if cls == 0 else huff_ac)[tid] = table
                i += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline/ext seq)
            if seg[0] != 8:
                raise JpegFormatError("only 8-bit precision supported")
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, qid = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "q": qid})
            frame = (int(h), int(w), comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegFormatError(
                f"unsupported SOF marker 0x{marker:02x} (progressive/"
                "arithmetic/hierarchical) — baseline sequential only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise JpegFormatError("SOS before SOF")
            ns = seg[0]
            scan_map = {}
            for c in range(ns):
                cid, tids = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_map[cid] = (tids >> 4, tids & 0x0F)
            scan_start = pos + 2 + seg_len
            return _decode_scan(
                data, scan_start, frame, scan_map, quant, huff_dc, huff_ac,
                restart_interval,
            )
        pos += 2 + seg_len
    raise JpegFormatError("no SOS marker found")


def _decode_scan(data, start, frame, scan_map, quant, huff_dc, huff_ac,
                 restart_interval) -> np.ndarray:
    h, w, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        planes.append(
            np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        )
    # split entropy stream on restart markers so each interval resets
    # cleanly (T.81 E.1.2); the reader itself never crosses a marker
    reader = _JpegBitReader(data[start:])
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                _skip_to_rst(reader)
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t = huff_dc[scan_map[c["id"]][0]]
                ac_t = huff_ac[scan_map[c["id"]][1]]
                q = quant[c["q"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        block = _decode_block(reader, dc_t, ac_t, preds, ci, q)
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1
    # upsample to full MCU-padded resolution, then crop
    full_h, full_w = mcus_y * vmax * 8, mcus_x * hmax * 8
    out_planes = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out_planes.append(p[:full_h, :full_w][:h, :w])
    if len(out_planes) == 1:
        g = np.clip(np.round(out_planes[0] + 128.0), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=2)
    y = out_planes[0] + 128.0
    cb = out_planes[1]
    cr = out_planes[2]
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _skip_to_rst(reader: _JpegBitReader) -> None:
    """Advance the reader past the next RSTn marker and reset bit state."""
    d, p = reader.data, reader.pos
    while p + 1 < len(d):
        if d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
            reader.pos = p + 2
            reader.buf = 0
            reader.nbits = 0
            return
        p += 1
    raise JpegFormatError("expected restart marker")


def _decode_block(reader, dc_t, ac_t, preds, ci, q) -> np.ndarray:
    zz = np.zeros(64, dtype=np.float64)
    size = reader.decode_huff(dc_t)
    diff = _extend(reader.read_bits(size), size)
    preds[ci] += diff
    zz[0] = preds[ci]
    k = 1
    while k < 64:
        rs = reader.decode_huff(ac_t)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise JpegFormatError("AC run past end of block")
        zz[k] = _extend(reader.read_bits(size), size)
        k += 1
    coef = np.zeros(64, dtype=np.float64)
    coef[ZIGZAG] = zz
    coef = coef.reshape(8, 8) * q
    return _T.T @ coef @ _T  # IDCT (values still centered on 0)


# --- PNG -------------------------------------------------------------------


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array of shape (H, W, C)."""
    if len(data) < 8 or data[:8] != _SIG:
        raise PngFormatError("not a PNG signature")
    pos = 8
    idat = []
    w = h = None
    ch = None
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            if length < 13:
                raise PngFormatError("short IHDR")
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", chunk[:13]
            )
            if depth != 8:
                raise PngFormatError(f"unsupported bit depth {depth}")
            if color not in _CHANNELS:
                raise PngFormatError(f"unsupported color type {color}")
            if interlace != 0:
                raise PngFormatError("interlaced PNG not supported")
            ch = _CHANNELS[color]
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise PngFormatError("missing IHDR/IDAT")
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise PngFormatError("truncated pixel data")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        base = y * (stride + 1)
        f = raw[base]
        row = np.frombuffer(raw[base + 1:base + 1 + stride], dtype=np.uint8)
        if f == 0:
            rec = row.copy()
        elif f == 1:  # Sub: prefix sum per channel column (mod 256)
            rec = (
                row.reshape(w, ch).astype(np.int64).cumsum(axis=0) % 256
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up: uint8 addition wraps mod 256 by itself
            rec = row + prev
        elif f in (3, 4):  # Average / Paeth: left-dependence → pixel loop
            rec = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - ch]) if x >= ch else 0
                up = int(prev[x])
                if f == 3:
                    pred = (left + up) >> 1
                else:
                    ul = int(prev[x - ch]) if x >= ch else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise PngFormatError(f"bad filter type {f}")
        out[y] = rec
        prev = out[y]
    return out.reshape(h, w, ch)


# --- WebP ------------------------------------------------------------------


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

    def read(self, br: _WebpBitReader) -> int:
        if self._only is not None:
            return self._only
        code = 0
        for ln in range(1, 16):
            code = (code << 1) | br.bits(1)
            sym = self._map.get((ln, code))
            if sym is not None:
                return sym
        raise WebpFormatError("invalid prefix code in stream")


def _prefix_decode_value(code: int, br: _WebpBitReader) -> int:
    if code < 4:
        return code + 1
    e = (code - 2) >> 1
    offset = (2 + (code & 1)) << e
    return offset + br.bits(e) + 1


def _read_prefix_code(br: _WebpBitReader, alphabet: int) -> _PrefixDecoder:
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
    br = _WebpBitReader(payload[1:])
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


def _plane_code_to_distance(w: int, code: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DIST_MAP[code - 1]
    return max(1, dy * w + dx)
class _WebpBitReader:
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
