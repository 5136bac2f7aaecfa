"""Baseline JPEG codec (functions/jpeg.py): encode→decode round trips
across qualities × subsampling × restart intervals, grayscale,
and honest rejection of unsupported/progressive/truncated input."""

from __future__ import annotations

import numpy as np
import pytest
from image_decoders import decode_jpeg

from data_quality_automated_evaluator_spark.functions.jpeg import (
    JpegFormatError,
    encode_jpeg,
)


def _gradient(w: int, h: int, seed: int = 0) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(xx * 7 + seed) % 256, (yy * 11 + seed) % 256, (xx + yy + seed) % 256],
        axis=2,
    ).astype(np.uint8)


@pytest.mark.parametrize("quality", [95, 85, 50])
@pytest.mark.parametrize("subsampling", ["444", "420"])
@pytest.mark.parametrize("restart", [0, 2])
def test_round_trip(quality, subsampling, restart):
    img = _gradient(37, 23)  # non-multiple-of-8 dims exercise edge padding
    data = encode_jpeg(
        img, quality=quality, subsampling=subsampling, restart_interval=restart
    )
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    dec = decode_jpeg(data)
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int)).mean()
    # 4:2:0 box-averages chroma; higher quality must not be worse
    limit = 4.5 if subsampling == "420" else 3.0
    assert err < limit, (quality, subsampling, restart, err)


def test_quality_monotonic():
    img = _gradient(48, 32)
    errs = []
    for q in (95, 70, 30):
        dec = decode_jpeg(encode_jpeg(img, quality=q))
        errs.append(np.abs(dec.astype(int) - img.astype(int)).mean())
    assert errs[0] <= errs[1] <= errs[2] + 0.5  # lower quality, more error


def test_flat_image_lossless_dc():
    flat = np.full((16, 24, 3), 128, np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, 95)) == 128).all()


def test_grayscale_round_trip():
    g = ((np.arange(23)[:, None] * np.arange(37)[None, :]) % 256).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(g, quality=92))
    assert dec.shape == (23, 37, 3)
    # gray replicates to 3 identical channels
    assert (dec[:, :, 0] == dec[:, :, 1]).all() and (dec[:, :, 1] == dec[:, :, 2]).all()
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).mean() < 3.0


def test_restart_markers_present_and_equivalent():
    img = _gradient(64, 48, seed=3)
    plain = encode_jpeg(img, quality=88)
    rst = encode_jpeg(img, quality=88, restart_interval=2)
    assert b"\xff\xdd" in rst and b"\xff\xdd" not in plain  # DRI written
    # byte-identical pixels: restarts change the container, not the math
    assert (decode_jpeg(rst) == decode_jpeg(plain)).all()


def test_rejections():
    with pytest.raises(JpegFormatError, match="SOI"):
        decode_jpeg(b"not a jpeg at all")
    # progressive (SOF2) is declared out of scope, not mis-decoded
    img = _gradient(16, 16)
    data = bytearray(encode_jpeg(img, 90))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC2
    with pytest.raises(JpegFormatError, match="baseline"):
        decode_jpeg(bytes(data))
    # truncated entropy stream must raise, not return garbage silently
    with pytest.raises(Exception):
        decode_jpeg(encode_jpeg(img, 90)[:40])
