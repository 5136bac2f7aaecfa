"""Pure-stdlib PNG encoder (zlib + numpy).

The chart exporter's matplotlib-free PNG path; its round-trip tests
decode with ``tests/image_decoders.py``.

Writes 8-bit depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
6 (RGBA), non-interlaced, with any of the five scanline filters
(None/Sub/Up/Average/Paeth).

Reference: the public PNG specification (RFC 2083) filter definitions.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"
_COLOR_FOR_CH = {1: 0, 2: 4, 3: 2, 4: 6}


class PngFormatError(ValueError):
    pass


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
