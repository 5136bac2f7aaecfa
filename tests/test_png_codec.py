"""Pure-stdlib PNG codec (functions/png.py), the chart exporter's encoder.

Round-trips pin the decoder against our encoder across every scanline
filter type and color layout; chart export is driven end-to-end.
"""

from __future__ import annotations

import numpy as np
import pytest
from image_decoders import decode_png

from data_quality_automated_evaluator_spark.functions.png import (
    PngFormatError,
    encode_png,
)


def _img(h, w, ch, seed=0):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_round_trip_all_filters_and_layouts(ch, filter_type):
    img = _img(13, 7, ch, seed=ch * 10 + filter_type)
    back = decode_png(encode_png(img, filter_type=filter_type))
    assert back.shape == img.shape
    assert (back == img).all()


def test_decode_rejects_garbage():
    with pytest.raises(PngFormatError):
        decode_png(b"not a png at all")
    with pytest.raises(PngFormatError):
        decode_png(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8)  # header only


def test_render_png_chart_without_matplotlib(tmp_path):
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
    path = make_charts(data, [ev], str(tmp_path), "grp", fmt="png")
    assert path.endswith("grp.png")
    img = decode_png(open(path, "rb").read())
    assert img.shape[0] > 100 and img.shape[1] > 500 and img.shape[2] == 3
    # the canvas is not blank: series/band/frame pixels darker than white
    assert (img < 250).any()
    # and the outlier band really shades a horizontal region
    grey_rows = ((img < 250).any(axis=(1, 2))).sum()
    assert grey_rows > 20
