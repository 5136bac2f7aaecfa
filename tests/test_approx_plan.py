"""approx_distinct scale path: HLL estimates stay close to exact counts,
and neither plan has the distinct-rewrite Expand."""

from __future__ import annotations

import contextlib
import io
import re

from data_quality_automated_evaluator_spark.operators.preprocess import (
    make_preprocessing,
)

CFG = {
    "date_column": "ts",
    "time_interval": "1d",
    "target_column": "value",
    "columns_to_exclude": ["event_id", "props"],
}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(df) -> list[str]:
    """Operator names of the formatted plan's tree, root first."""
    tree = _plan(df).split("\n\n")[0].splitlines()[1:]
    return [re.sub(r"^[\s|+-]*", "", line).rsplit(" (", 1)[0].strip() for line in tree]


def test_approx_distinct_drops_expand_and_stays_close(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")

    exact = make_preprocessing(events, CFG).aggregate
    approx = make_preprocessing(
        events, {**CFG, "approx_distinct": True, "approx_median": True}
    ).aggregate

    exact_tree, approx_tree = _tree(exact), _tree(approx)
    assert "Expand" not in exact_tree, exact_tree
    assert "Expand" not in approx_tree, approx_tree
    # one partial→final aggregate pair: the final aggregate is the root
    # operator and the only Exchange sits below it (no sort above it)
    assert exact_tree[:2] == ["AdaptiveSparkPlan", "ObjectHashAggregate"], exact_tree
    assert exact_tree.count("Exchange") == 1, exact_tree

    e = exact.toPandas().set_index("__time_interval").sort_index()
    a = approx.toPandas().set_index("__time_interval").sort_index()
    assert len(e) == len(a)
    for col in [c for c in e.columns if "Number of unique values" in c]:
        rel_err = ((a[col] - e[col]).abs() / e[col].clip(lower=1)).max()
        assert rel_err <= 0.10, f"{col}: HLL off by {rel_err:.1%}"
    # non-distinct stats agree between the two plans (float tolerance:
    # partial aggregates can merge in a different order, one ulp-ish)
    import numpy as np

    for col in [c for c in e.columns if "unique" not in c and "Median" not in c]:
        ev, av = e[col].to_numpy(), a[col].to_numpy()
        if ev.dtype.kind == "f":
            np.testing.assert_allclose(av, ev, rtol=1e-9, err_msg=col)
        else:
            assert (ev == av).all(), col
    # percentile_approx(0.5) returns an actual group VALUE within the
    # sketch's rank error; on small daily groups the adjacent-value gap
    # can be large in magnitude, so the gate is RANK-based: the sketch
    # median must land within the exact [p40, p60] band of its group
    import pyspark.sql.functions as F

    bands = (
        events.groupBy(F.date_trunc("DAY", "ts").cast("date").alias("d"))
        .agg(
            F.expr("percentile(value, 0.4)").alias("v_lo"),
            F.expr("percentile(value, 0.6)").alias("v_hi"),
            F.expr("percentile(user_id, 0.4)").alias("u_lo"),
            F.expr("percentile(user_id, 0.6)").alias("u_hi"),
        )
        .toPandas()
        .set_index("d")
        .sort_index()
    )
    for col, lo, hi in [
        ("n__ value __Median", "v_lo", "v_hi"),
        ("n__ user_id __Median", "u_lo", "u_hi"),
    ]:
        av = a[col].sort_index().to_numpy(dtype=float)
        assert (av >= bands[lo].to_numpy() - 1e-9).all(), col
        assert (av <= bands[hi].to_numpy() + 1e-9).all(), col
