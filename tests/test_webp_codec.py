"""Pure-stdlib lossless WebP / VP8L codec (functions/webp.py).

Round-trips pin decoder-vs-encoder across the pixel layouts the
rasterizer produces (noise = all literals, chart-like = LZ77 runs in
both shapes, >4096-pixel runs = length-cap splits, alpha); chart export
is driven end-to-end. The codec completes the reference's
plot export set (plot.py:67-71: png/jpeg/webp/svg/pdf).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from image_decoders import decode_webp

from data_quality_automated_evaluator_spark.functions.webp import (
    WebpFormatError,
    encode_webp,
)


def _img(h, w, ch, seed=0):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)


def test_round_trip_noise_rgb_and_rgba():
    for ch in (3, 4):
        img = _img(23, 31, ch, seed=ch)
        back = decode_webp(encode_webp(img))
        assert back.shape == img.shape
        assert (back == img).all()


def test_round_trip_chart_like_compresses():
    img = np.full((64, 200, 3), 250, np.uint8)
    img[10:12, :] = (30, 60, 200)
    img[:, 50] = (255, 0, 0)
    img[40:60, 80:180] = (220, 230, 240)
    wb = encode_webp(img)
    assert (decode_webp(wb) == img).all()
    # horizontal + vertical runs must actually engage: flat chart
    # rasters compress orders of magnitude, not percents
    assert len(wb) * 50 < img.size


def test_run_longer_than_lz77_cap_splits_correctly():
    # 80*70 = 5600 identical pixels > the 4096 max back-reference length
    img = np.full((70, 80, 3), 7, np.uint8)
    assert (decode_webp(encode_webp(img)) == img).all()


def test_one_pixel_and_single_row():
    one = np.array([[[1, 2, 3]]], np.uint8)
    assert (decode_webp(encode_webp(one)) == one).all()
    row = _img(1, 40, 3, seed=9)
    assert (decode_webp(encode_webp(row)) == row).all()


def test_alpha_shape_is_preserved_only_when_used():
    opaque = np.dstack([_img(6, 6, 3, seed=1), np.full((6, 6), 255, np.uint8)])
    assert decode_webp(encode_webp(opaque)).shape == (6, 6, 3)
    seethru = opaque.copy()
    seethru[0, 0, 3] = 10
    back = decode_webp(encode_webp(seethru))
    assert back.shape == (6, 6, 4)
    assert (back == seethru).all()


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    seed=st.integers(0, 10_000),
    palette=st.integers(2, 256),
)
def test_round_trip_hypothesis(h, w, seed, palette):
    rng = np.random.RandomState(seed)
    img = (rng.randint(0, palette, size=(h, w, 3)) % 256).astype(np.uint8)
    back = decode_webp(encode_webp(img))
    assert (back == img).all()


def test_decode_rejects_unsupported_and_truncated():
    with pytest.raises(WebpFormatError):
        decode_webp(b"not webp")
    # lossy VP8 chunk is out of codec scope
    lossy = b"RIFF" + struct.pack("<I", 12) + b"WEBP" + b"VP8 " + struct.pack("<I", 0)
    with pytest.raises(WebpFormatError):
        decode_webp(lossy)
    # a stream that declares a transform must be refused, not mis-decoded
    # header: w-1=0 (14 bits), h-1=0 (14), alpha 0, version 0, transform bit 1
    bits = 0 | (1 << 32)
    payload = b"\x2f" + int(bits).to_bytes(5, "little")
    raw = b"VP8L" + struct.pack("<I", len(payload)) + payload + b"\x00"
    with pytest.raises(WebpFormatError):
        decode_webp(b"RIFF" + struct.pack("<I", 4 + len(raw)) + b"WEBP" + raw)
    # truncated entropy data
    good = bytearray(encode_webp(_img(9, 9, 3)))
    with pytest.raises(WebpFormatError):
        decode_webp(bytes(good[:-6]))


def test_render_webp_chart_without_matplotlib(tmp_path):
    import pandas as pd

    from data_quality_automated_evaluator_spark.charts import make_charts
    from data_quality_automated_evaluator_spark.functions.aggregates import (
        TIME_INTERVAL_COL,
    )
    from data_quality_automated_evaluator_spark.operators.evaluate import (
        ColumnEvaluation,
    )

    data = pd.DataFrame(
        {
            TIME_INTERVAL_COL: [f"2024-01-{d:02d}" for d in range(1, 11)],
            "m": [1.0, 2.0, 1.5, 8.0, 1.2, 1.1, 1.4, 1.3, 1.2, 1.6],
        }
    )
    ev = ColumnEvaluation.__new__(ColumnEvaluation)
    ev.column = "m"
    ev.title = "metric m"
    ev.chart_bounds = (0.5, 3.0)
    path = make_charts(data, [ev], str(tmp_path), "grp", fmt="webp")
    assert path.endswith("grp.webp")
    img = decode_webp(open(path, "rb").read())
    assert img.shape[0] > 100 and img.shape[1] > 500 and img.shape[2] == 3
    assert (img < 250).any()
    grey_rows = ((img < 250).any(axis=(1, 2))).sum()
    assert grey_rows > 20
