"""Baseline JPEG codec — pure stdlib + numpy, no third-party deps.

The chart exporter's ``fmt="jpeg"`` encoder; its round-trip tests
decode with the baseline sequential DCT decoder (ITU-T T.81 / ISO
10918-1) in ``tests/image_decoders.py``. ``encode_jpeg`` writes
baseline 4:4:4 or 4:2:0 (or grayscale) with the Annex-K quantization
tables scaled by the libjpeg quality formula and the Annex-K "typical"
Huffman tables. The entropy loop is per-block Python (fine for
chart-sized images); the DCT and color math are vectorized.

Everything here derives from the public JPEG specification; the DCT
matrix identity is F = T·B·Tᵀ with the orthonormal DCT-II matrix T, so
the inverse is B = Tᵀ·F·T.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["JpegFormatError", "encode_jpeg"]


class JpegFormatError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Shared tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K base quantization tables (natural order)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K "typical" Huffman tables: (bits[1..16], symbols)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
for _b, _v in ((AC_LUMA_BITS, AC_LUMA_VALS), (AC_CHROMA_BITS, AC_CHROMA_VALS),
               (DC_LUMA_BITS, DC_LUMA_VALS), (DC_CHROMA_BITS, DC_CHROMA_VALS)):
    assert sum(_b) == len(_v), "huffman table counts must match symbol list"


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    k = n.reshape(-1, 1)
    t = 0.5 * np.cos((2 * n + 1) * k * np.pi / 16.0)
    t[0, :] /= np.sqrt(2.0)
    return t


_T = _dct_matrix()          # orthonormal: forward F = T B Tᵀ, inverse B = Tᵀ F T


def _build_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: {symbol -> (code, length)}."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[vi]] = (code, length)
            vi += 1
            code += 1
        code <<= 1
    return out


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
        self.acc &= (1 << self.nbits) - 1

    def pad_byte(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-padding per spec

    def marker(self, byte: int) -> None:
        """Emit a raw marker (RSTn) — byte-aligned, never stuffed."""
        self.pad_byte()
        self.out += bytes([0xFF, byte])

    def flush(self) -> bytes:
        self.pad_byte()
        return bytes(self.out)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude-bits) for a signed coefficient (T.81 F.1.2.1)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def encode_jpeg(
    img: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Encode HxWx3 (RGB) or HxW uint8 → baseline JFIF JPEG.

    ``subsampling``: ``"444"`` (no chroma subsampling — max fidelity) or
    ``"420"`` (2x2 box-averaged chroma — the dominant web-JPEG shape;
    the dominant web-JPEG shape's interleaved MCUs).
    ``restart_interval`` > 0 writes DRI and emits RSTn markers every N
    MCUs (resyncable streams, the large-scan production layout).
    """
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    if img.ndim != 3 or img.shape[2] not in (1, 3):
        raise JpegFormatError("expected HxW or HxWx{1,3} uint8 array")
    if subsampling not in ("444", "420"):
        raise JpegFormatError("subsampling must be '444' or '420'")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise JpegFormatError("empty image")
    gray = img.shape[2] == 1
    f = img.astype(np.float64)
    if gray:
        planes = [f[:, :, 0] - 128.0]
        qtabs = [_scaled_quant(QUANT_LUMA, quality)]
        qsel = [0]
        samp = [(1, 1)]
    else:
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b - 128.0
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b
        qtabs = [_scaled_quant(QUANT_LUMA, quality),
                 _scaled_quant(QUANT_CHROMA, quality)]
        qsel = [0, 1, 1]
        if subsampling == "420":
            # pad to even dims then 2x2 box-average the chroma planes
            eh, ew = -(-h // 2) * 2, -(-w // 2) * 2
            cbp = np.pad(cb, ((0, eh - h), (0, ew - w)), mode="edge")
            crp = np.pad(cr, ((0, eh - h), (0, ew - w)), mode="edge")
            cb = cbp.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(eh // 2, 2, ew // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
    dc_enc = [_build_encode_table(DC_LUMA_BITS, DC_LUMA_VALS),
              _build_encode_table(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_enc = [_build_encode_table(AC_LUMA_BITS, AC_LUMA_VALS),
              _build_encode_table(AC_CHROMA_BITS, AC_CHROMA_VALS)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # pad each plane to its own MCU-grid size by edge replication
    padded = []
    for p, (sh, sv) in zip(planes, samp):
        th, tw = mcus_y * sv * 8, mcus_x * sh * 8
        padded.append(
            np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])), mode="edge")
        )
    qnat = [qtabs[s].reshape(8, 8) for s in qsel]

    writer = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst_n = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.marker(0xD0 + rst_n)
                rst_n = (rst_n + 1) % 8
                preds = [0] * len(planes)
            for ci, p in enumerate(padded):
                sh, sv = samp[ci]
                for by in range(sv):
                    for bx in range(sh):
                        y0 = (my * sv + by) * 8
                        x0 = (mx * sh + bx) * 8
                        block = p[y0 : y0 + 8, x0 : x0 + 8]
                        coef = _T @ block @ _T.T
                        qc = np.round(coef / qnat[ci]).astype(np.int64)
                        zz = qc.reshape(-1)[ZIGZAG]
                        tsel = 0 if qsel[ci] == 0 else 1
                        _encode_block(
                            writer, zz, preds, ci, dc_enc[tsel], ac_enc[tsel]
                        )
            mcu_count += 1
    entropy = writer.flush()

    # --- headers -----------------------------------------------------------
    out = bytearray(b"\xff\xd8")
    out += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HH", 1, 1) + b"\x00\x00")
    for tid, qt in enumerate(qtabs):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid])
        out += bytes(int(qt[z]) for z in ZIGZAG)
    ncomp = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samp[ci]
        out += bytes([ci + 1, (sh << 4) | sv, qsel[ci]])
    for cls, tid, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ):
        if gray and tid == 1:
            continue
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        tsel = 0 if qsel[ci] == 0 else 1
        out += bytes([ci + 1, (tsel << 4) | tsel])
    out += b"\x00\x3f\x00"  # Ss=0, Se=63, Ah/Al=0
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def _encode_block(writer, zz, preds, ci, dc_t, ac_t) -> None:
    dc = int(zz[0])
    diff = dc - preds[ci]
    preds[ci] = dc
    size, bits = _magnitude(diff)
    code, length = dc_t[size]
    writer.write(code, length)
    if size:
        writer.write(bits, size)
    run = 0
    last_nz = 0
    nz = np.flatnonzero(zz[1:])
    last_nz = (nz[-1] + 1) if len(nz) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_t[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_t[(run << 4) | size]
        writer.write(code, length)
        writer.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_t[0x00]  # EOB
        writer.write(code, length)
