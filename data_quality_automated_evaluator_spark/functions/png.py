"""Pure-stdlib PNG codec (zlib + numpy): real decode/encode.

The chart exporter's matplotlib-free PNG path, with the decoder as the
encoder's round-trip reference: PNG is fully decodable with nothing
but ``zlib`` (stdlib) and numpy.

Supported: 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
6 (RGBA), non-interlaced — the overwhelming majority of real-world
PNGs. All five scanline filters (None/Sub/Up/Average/Paeth) are
implemented; Sub/Up are vectorized, Average/Paeth fall back to a
per-pixel loop (correctness over speed — thumbnails and test fixtures
dominate this path; a codec library replaces it wholesale at scale).

Reference: the public PNG specification (RFC 2083) filter definitions.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_COLOR_FOR_CH = {1: 0, 2: 4, 3: 2, 4: 6}


class PngFormatError(ValueError):
    pass


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


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """uint8 (H, W, C) array → PNG bytes. ``filter_type`` selects the
    per-scanline filter (0 default; 1/2/3/4 exist mainly to exercise the
    decoder's unfilter paths in tests)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    if ch not in _COLOR_FOR_CH:
        raise PngFormatError(f"unsupported channel count {ch}")
    img = np.ascontiguousarray(img, dtype=np.uint8)
    stride = w * ch
    lines = []
    prev = np.zeros(stride, dtype=np.uint8)
    flat = img.reshape(h, stride)
    for y in range(h):
        rec = flat[y]
        if filter_type == 0:
            filt = rec
        elif filter_type == 1:
            left = np.concatenate([np.zeros(ch, np.uint8), rec[:-ch]])
            filt = rec - left
        elif filter_type == 2:
            filt = rec - prev
        elif filter_type in (3, 4):
            filt = np.empty(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(rec[x - ch]) if x >= ch else 0
                up = int(prev[x])
                if filter_type == 3:
                    pred = (left + up) >> 1
                else:
                    ul = int(prev[x - ch]) if x >= ch else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                filt[x] = (int(rec[x]) - pred) & 0xFF
        else:
            raise PngFormatError(f"bad filter type {filter_type}")
        lines.append(bytes([filter_type]) + filt.tobytes())
        prev = rec

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, _COLOR_FOR_CH[ch], 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return _SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
