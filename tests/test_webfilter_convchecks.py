"""Unit tests for the Gopher/C4 web filters and conversation checks.

The oracle rows (gopher_*, c4_*, conv_drop_propagation, agent_loop,
tool_pairing in CORRECTNESS) value-check these end-to-end vs DuckDB;
here we pin hand-computable cases and the plan shapes.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from references import _run_stats, gopher_repetition_columns

from data_quality_automated_evaluator_spark.functions.webfilter import augmented_lines
from data_quality_automated_evaluator_spark.pipeline.convchecks import (
    agent_loop_stats,
    tool_pairing_stats,
)


def test_run_stats_hand_case(spark):
    # [b, a, b, c, b] sorted → a, b×3, c: dup_elems=3 (the b run),
    # dup_chars=3*1, mode=b count 3
    df = spark.createDataFrame([(["b", "a", "b", "c", "b"],)], "arr array<string>")
    r = df.select(_run_stats(F.col("arr")).alias("s")).select("s.*").first()
    assert r.dup_elems == 3
    assert r.dup_chars == 3
    assert r.best_cnt == 3
    assert r.best_val == "b"


def test_run_stats_tie_breaks_lexicographically(spark):
    df = spark.createDataFrame([(["z", "z", "a", "a"],)], "arr array<string>")
    r = df.select(_run_stats(F.col("arr")).alias("s")).select("s.*").first()
    assert (r.best_cnt, r.best_val) == (2, "a")


def test_run_stats_empty_array(spark):
    df = spark.createDataFrame([([],)], "arr array<string>")
    r = df.select(_run_stats(F.col("arr")).alias("s")).select("s.*").first()
    assert (r.dup_elems, r.dup_chars, r.best_cnt) == (0, 0, 0)


def test_augmented_lines_construction(spark):
    # doc_id=15 (div by 3 and 5, odd): 6 words, 5+15%4=8 per line → one
    # base line, plus duplicate-of-first and a bullet — no ellipsis/
    # lorem/brace/sentences
    df = spark.createDataFrame([(15, "w1 w2 w3 w4 w5 w6")], "doc_id long, text string")
    lines = df.select(
        augmented_lines(F.col("text"), F.col("doc_id")).alias("ls")
    ).first().ls
    assert lines == ["w1 w2 w3 w4 w5 w6", "w1 w2 w3 w4 w5 w6", "- w1"]


def test_gopher_repetition_duplicate_doc(spark):
    # "x x x x": top 2-gram "x x" occurs 3 times, len 3
    df = spark.createDataFrame([(1, "x x x x")], "doc_id long, text string")
    words = F.filter(F.split("text", r"\s+"), lambda w: w != "")
    cols = gopher_repetition_columns(
        F.array(F.col("text")), words, F.length("text")
    )
    r = df.select(*[c.alias(n) for n, c in cols.items()]).first()
    assert r.top_2gram_char_frac == pytest.approx(9 / 7, abs=1e-6)
    assert r.dup_line_frac is None or r.dup_line_frac == 0.0


def test_agent_loop_detects_wedged_agent(spark):
    rows = [
        ("c1", 0, "user", "hi"),
        ("c1", 1, "assistant", "same reply"),
        ("c1", 2, "user", "again?"),
        ("c1", 3, "assistant", "same reply"),
        ("c1", 4, "assistant", "same reply"),
        ("c2", 0, "assistant", "a"),
        ("c2", 1, "assistant", "b"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    out = {r.conv_id: r for r in agent_loop_stats(df).collect()}
    assert out["c1"].n_assistant == 3
    assert out["c1"].n_distinct == 1
    assert out["c1"].n_consec_repeat == 2  # turns 3 and 4 repeat previous
    assert out["c1"].loop_frac == pytest.approx(2 / 3, abs=1e-6)
    assert not out["c1"].loop_ok
    assert out["c2"].loop_ok


def test_tool_pairing_orphans_and_mismatches(spark):
    rows = [
        # conv ok: assistant → tool(with tool col)
        ("c1", 0, "assistant", None),
        ("c1", 1, "tool", "search"),
        # conv bad: tool first (orphan) + assistant with tool col set
        ("c2", 0, "tool", "search"),
        ("c2", 1, "assistant", "oops"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string"
    )
    out = {r.conv_id: r for r in tool_pairing_stats(df).collect()}
    assert out["c1"].tool_ok
    assert out["c2"].n_orphan_tool == 1
    assert out["c2"].n_tool_mismatch == 1  # assistant turn carries a tool
    assert not out["c2"].tool_ok


def test_gopher_metrics_plan_is_map_only(spark, sf_dir):
    """The repetition metrics must not introduce any Exchange beyond the
    deterministic output orderBy."""
    from data_quality_automated_evaluator_spark.entry_queries import QUERIES

    df = QUERIES["gopher_repetition_documents"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1  # only the orderBy's rangepartitioning
    # the counting stage is Arrow-batched (see
    # webfilter.gopher_repetition_stats_arrow) — still map-only: the
    # ArrowEvalPython node must sit under no additional Exchange, and
    # no row-at-a-time BatchEvalPython may appear
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# response_latency_stats — user→assistant gap audit


def test_response_latency_hand_computed(spark):
    import datetime as dt

    from data_quality_automated_evaluator_spark.pipeline.convchecks import (
        response_latency_stats,
    )

    t0 = dt.datetime(2024, 7, 1, 10, 0, 0)

    def turn(conv, idx, role, sec):
        return (conv, idx, role, "txt", None, t0 + dt.timedelta(seconds=sec))

    rows = [
        turn("c1", 0, "user", 0),
        turn("c1", 1, "assistant", 5),     # gap 5
        turn("c1", 2, "user", 10),
        turn("c1", 3, "assistant", 100),   # gap 90 → slow (>60)
        turn("c2", 0, "user", 0),
        turn("c2", 1, "tool", 1),          # not a user→assistant pair
        turn("c2", 2, "assistant", 3),     # prev is tool → excluded
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = response_latency_stats(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_responses"] == 2
    assert r["mean_gap_sec"] == 47.5
    assert r["max_gap_sec"] == 90
    assert r["slow_share"] == 0.5


def test_response_latency_subsecond_truncation(spark):
    import datetime as dt

    from data_quality_automated_evaluator_spark.pipeline.convchecks import (
        response_latency_stats,
    )

    t0 = dt.datetime(2024, 7, 1, 10, 0, 0, 900000)
    rows = [
        ("c", 0, "user", "q", None, t0),
        ("c", 1, "assistant", "a", None,
         t0 + dt.timedelta(seconds=1, microseconds=200000)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    r = response_latency_stats(df).collect()[0]
    # 10:00:00.9 → 10:00:02.1: whole-second truncation gives 2 − 0 = 2
    assert r["max_gap_sec"] == 2
