"""Snapshot diff (operators/diffing.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.operators.diffing import table_diff


def _snap(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, n long")


def test_classification(spark):
    old = _snap(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)])
    new = _snap(spark, [(2, "b", 2), (3, "C!", 3), (4, "d", 4)])
    got = {r["doc_id"]: r["status"] for r in table_diff(old, new).collect()}
    assert got == {1: "removed", 3: "changed", 4: "added"}


def test_null_vs_empty_and_null_equality(spark):
    old = _snap(spark, [(1, None, 1), (2, "", 2)])
    new = _snap(spark, [(1, "", 1), (2, "", 2)])
    got = {r["doc_id"]: r["status"] for r in table_diff(old, new).collect()}
    # NULL -> '' is a change; NULL == NULL and '' == '' are unchanged
    assert got == {1: "changed"}


def test_boundary_shift_detected(spark):
    # ('ab','c') vs ('a','bc') must differ — separator at work
    old = spark.createDataFrame([(1, "ab", "c")], "doc_id long, x string, y string")
    new = spark.createDataFrame([(1, "a", "bc")], "doc_id long, x string, y string")
    assert table_diff(old, new).collect()[0]["status"] == "changed"


def test_summary_counts(spark):
    old = _snap(spark, [(i, "t", i) for i in range(10)])
    new = _snap(
        spark,
        [(i, "t" if i % 3 else "T", i) for i in range(2, 12)],
    )
    diff = table_diff(old, new, include_unchanged=True)
    got = {r["status"]: r["count"] for r in diff.groupBy("status").count().collect()}
    # removed: 0,1; added: 10,11; changed among 2..9 where i%3==0: 3,6,9
    assert got == {"removed": 2, "added": 2, "changed": 3, "unchanged": 5}


def test_compare_cols_subset(spark):
    old = _snap(spark, [(1, "a", 1)])
    new = _snap(spark, [(1, "a", 99)])
    assert table_diff(old, new, compare_cols=["text"]).count() == 0
    assert (
        table_diff(old, new, compare_cols=["n"]).collect()[0]["status"]
        == "changed"
    )


def test_shuffle_carries_digest_not_payload(spark):
    # the payload column must be collapsed to the digest before the
    # join: no Exchange input may contain the raw text attribute
    old = _snap(spark, [(i, "x" * 100, i) for i in range(100)]).repartition(4)
    new = _snap(spark, [(i, "x" * 100, i) for i in range(100)]).repartition(4)
    d = table_diff(old, new)
    d.collect()
    plan = d._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line
