from __future__ import annotations

import datetime as dt
import json
import math
import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.functions.aggregates import (
    TIME_INTERVAL_COL,
    n_unique_expr,
)
from data_quality_automated_evaluator_spark.operators.evaluate import evaluate_data
from data_quality_automated_evaluator_spark.operators.preprocess import make_preprocessing


@pytest.fixture(scope="module")
def txn(spark):
    """Small deterministic transactions frame (FIXTURES.md §2 shape)."""
    rng = np.random.default_rng(42)
    n = 2000
    base = dt.datetime(2023, 1, 1)
    ts = [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 30 * 86400, n)]
    amount = np.round(rng.lognormal(3, 1, n), 2)
    amount[rng.random(n) < 0.01] = np.nan
    cat = rng.choice(["a", "b", "c", None], size=n, p=[0.6, 0.25, 0.13, 0.02])
    anomaly = rng.choice(["low_risk", "moderate_risk", "high_risk"], n, p=[0.9, 0.07, 0.03])
    pdf = pd.DataFrame(
        {
            "timestamp": ts,
            "ts_str": [t.strftime("%Y-%m-%d %H:%M:%S") for t in ts],
            "amount": amount,
            "step": rng.integers(0, 1000, n),
            "category": cat,
            "anomaly": anomaly,
            "is_fraud": (rng.random(n) < 0.03).astype("int64"),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _pandas_oracle(pdf: pd.DataFrame, interval_days: int = 1) -> pd.DataFrame:
    p = pdf.copy()
    p["__time_interval"] = p["timestamp"].dt.floor(f"{interval_days}D")
    g = p.groupby("__time_interval")

    def nunique_with_null(s: pd.Series) -> int:
        return s.nunique(dropna=False) if s.isna().any() else s.nunique()

    out = pd.DataFrame(
        {
            "count": g.size(),
            "target_avg": g["is_fraud"].mean(),
            "cat_nunique": g["category"].apply(nunique_with_null),
            "cat_nullratio": g["category"].apply(lambda s: s.isna().mean()),
            "amount_min": g["amount"].min(),
            "amount_max": g["amount"].max(),
            "amount_mean": g["amount"].mean(),
            "amount_median": g["amount"].median(),
            "amount_std": g["amount"].std(ddof=1),
        }
    ).sort_index()
    return out


def test_stage1_matches_pandas(spark, txn):
    df, pdf = txn
    config = {
        "date_column": "timestamp",
        "time_interval": "1d",
        "target_column": "is_fraud",
    }
    res = make_preprocessing(df, config)
    agg = res.aggregate.toPandas().set_index(TIME_INTERVAL_COL).sort_index()
    oracle = _pandas_oracle(pdf)

    assert len(agg) == len(oracle)
    np.testing.assert_array_equal(agg[" __Number of values"].values, oracle["count"].values)
    np.testing.assert_allclose(agg[" __Target average"].values, oracle["target_avg"].values, rtol=1e-12)
    np.testing.assert_array_equal(
        agg["__ category __Number of unique values"].values, oracle["cat_nunique"].values
    )
    np.testing.assert_allclose(
        agg["__ category __Proportion of missing values"].values,
        oracle["cat_nullratio"].values,
        rtol=1e-12,
    )
    for stat, key in [
        ("Min", "amount_min"),
        ("Max", "amount_max"),
        ("Mean", "amount_mean"),
        ("Median", "amount_median"),
        ("Standard deviation", "amount_std"),
    ]:
        np.testing.assert_allclose(
            agg[f"n__ amount __{stat}"].astype(float).values,
            oracle[key].values,
            rtol=1e-9,
            err_msg=stat,
        )
    # metadata records dtype only for numeric columns
    assert res.metadata["amount"] == "double"
    assert res.metadata["category"] is None


def test_filter_and_transform(spark, txn):
    df, pdf = txn
    config = {
        "filter": "select * from self where step > 100 and step < 900",
        "transformations": {
            "target_column": "(anomaly = 'high_risk')::int",
            "date_column": "DATE(ts_str, '%Y-%m-%d %H:%M:%S')",
        },
        "time_interval": "1d",
    }
    res = make_preprocessing(df, config)
    agg = res.aggregate.toPandas()
    mask = (pdf["step"] > 100) & (pdf["step"] < 900)
    assert agg[" __Number of values"].sum() == int(mask.sum())
    expect_avg = (pdf.loc[mask, "anomaly"] == "high_risk").mean()
    got_avg = (
        agg[" __Target average"] * agg[" __Number of values"]
    ).sum() / agg[" __Number of values"].sum()
    assert abs(got_avg - expect_avg) < 1e-9


NAN = float("nan")
NAN_PAYLOAD = struct.unpack("<d", struct.pack("<Q", 0x7FF8000000000001))[0]
NUNIQUE_SCHEMA = "g int, d double, b bigint, s string, f boolean, t timestamp"
DOUBLES = st.none() | st.floats() | st.sampled_from(
    [0.0, -0.0, NAN, -NAN, NAN_PAYLOAD, 1.5, math.inf, -math.inf]
)
NUNIQUE_ROWS = st.lists(
    st.tuples(
        st.integers(0, 3),
        DOUBLES,
        st.none() | st.integers(-2, 2) | st.sampled_from([-(2**63), 2**63 - 1]),
        st.none() | st.sampled_from(["", "a", "A", "a ", "ä"]) | st.text(max_size=3),
        st.none() | st.booleans(),
        st.none()
        | st.sampled_from([dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 1, 0, 0, 1)])
        | st.datetimes(dt.datetime(1970, 1, 2), dt.datetime(2100, 1, 1)),
    ),
    min_size=1,
    max_size=40,
)


def _double_rows(g: int, doubles: list) -> list[tuple]:
    return [(g, d, None, None, None, None) for d in doubles]


@given(NUNIQUE_ROWS)
@example(_double_rows(0, [0.0, -0.0, NAN, NAN, None]))  # zeros collapse, NaN once
@example(_double_rows(0, [NAN, -NAN, NAN_PAYLOAD, 1.0]))  # NaNs count once
@example(_double_rows(0, [None, None]) + _double_rows(1, [NAN, NAN]))  # all-NULL, all-NaN
@example(_double_rows(0, [0.0, -0.0]) + _double_rows(1, [NAN, None, -0.0]))
@settings(max_examples=25, deadline=None)
def test_n_unique_matches_count_distinct(spark, rows):
    """The set-based exact count equals ``countDistinct(c) + max(isnull(c))``
    group by group: NULL counts once, NaN counts once however many NaNs
    (and payloads) a group holds, and -0.0 equals 0.0."""
    df = spark.createDataFrame(rows, NUNIQUE_SCHEMA)
    cols = [f for f in df.schema.fields if f.name != "g"]
    out = df.groupBy("g").agg(
        *[n_unique_expr(f.name, f.dataType).alias(f"new_{f.name}") for f in cols],
        *[
            (F.countDistinct(f.name) + F.max(F.col(f.name).isNull().cast("long")))
            .alias(f"ref_{f.name}")
            for f in cols
        ],
    )
    for row in out.collect():
        for f in cols:
            assert row[f"new_{f.name}"] == row[f"ref_{f.name}"], (f.name, row["g"])


def test_report_sorts_intervals(spark, sf_dir, tmp_path):
    """make_report puts the collected aggregate in time order itself: a
    row-shuffled aggregate gives the same markdown and charts as the
    sorted one, and the chart series run in ascending interval order."""
    from data_quality_automated_evaluator_spark.report import make_report

    res = make_preprocessing(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        {"date_column": "ts", "time_interval": "1d", "target_column": "value"},
    )
    agg = res.aggregate.toPandas().sort_values(TIME_INTERVAL_COL, ignore_index=True)
    shuffled = agg.sample(frac=1, random_state=7)
    assert not shuffled[TIME_INTERVAL_COL].is_monotonic_increasing
    config = {"charts": {"format": "json"}}
    out_sorted = make_report(agg, res.metadata, config, str(tmp_path / "a" / "R.md"))
    out_shuffled = make_report(shuffled, res.metadata, config, str(tmp_path / "b" / "R.md"))
    assert out_shuffled == out_sorted
    charts = sorted(p.name for p in (tmp_path / "a" / "charts").iterdir())
    assert "overview.json" in charts
    expect_x = [str(v) for v in agg[TIME_INTERVAL_COL]]
    for name in charts:
        payload = (tmp_path / "b" / "charts" / name).read_text()
        assert payload == (tmp_path / "a" / "charts" / name).read_text(), name
        assert json.loads(payload)["x"] == expect_x, name


def test_int_epoch_days_cast(spark):
    df = spark.createDataFrame([(19000,), (19001,)], "step int")
    from data_quality_automated_evaluator_spark.operators.preprocess import apply_transformations

    out = apply_transformations(df, {"d": "CAST(step AS DATE)"}).collect()
    assert out[0]["d"] == dt.date(1970, 1, 1) + dt.timedelta(days=19000)


def test_stage2_semantics():
    # hand-computed: nearest-interpolation quantiles, ddof=1 std, sigma-0 guard
    df = pd.DataFrame(
        {
            TIME_INTERVAL_COL: pd.date_range("2023-01-01", periods=5),
            " __Number of values": [10.0, 12.0, 11.0, 13.0, 100.0],
            "n__ x __Mean": [5.0, 5.0, 5.0, 5.0, 5.0],
        }
    )
    res = evaluate_data(df)
    ev = {e.column: e for e in res.evaluations}
    counts = ev[" __Number of values"]
    s = pd.Series([10.0, 12.0, 11.0, 13.0, 100.0])
    assert counts.q1 == s.quantile(0.25, interpolation="nearest")
    assert counts.q3 == s.quantile(0.75, interpolation="nearest")
    assert counts.n_outliers_iqr == 1  # the 100
    const = ev["n__ x __Mean"]
    assert const.n_outliers_zscore == 0  # sigma==0 guard
    assert const.pct_outliers_iqr == 0.0
