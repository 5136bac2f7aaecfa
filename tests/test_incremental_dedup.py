"""Cross-run dedup against a historical store (operators/incremental.py).

Semantics gate: multi-batch ingestion through the store must agree with
single-pass batch dedup over the concatenated corpus. Plan gate: the
bucketed store joins WITHOUT an Exchange on the store side — the
co-location contract that makes incremental dedup viable at 10^12 rows.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.operators.incremental import ExactDedupStore


@pytest.fixture()
def store_root():
    d = tempfile.mkdtemp(prefix="incr_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BATCH1 = [(0, "alpha beta gamma"), (1, "unique one"), (2, "alpha beta gamma")]
BATCH2 = [(10, "alpha beta gamma"), (11, "unique two"), (12, "unique two")]
BATCH3 = [(20, "unique two"), (21, "brand new"), (22, "unique one")]


def test_exact_store_multi_batch(spark, store_root):
    store = ExactDedupStore(store_root)

    r1 = {r["doc_id"]: r for r in store.ingest(_docs(spark, BATCH1)).collect()}
    assert r1[0]["is_new"] and r1[0]["dup_of"] is None
    assert r1[1]["is_new"]
    assert not r1[2]["is_new"] and r1[2]["dup_of"] == 0  # within-batch dup

    r2 = {r["doc_id"]: r for r in store.ingest(_docs(spark, BATCH2)).collect()}
    assert not r2[10]["is_new"] and r2[10]["dup_of"] == 0  # vs history
    assert r2[11]["is_new"] and r2[11]["dup_of"] is None
    assert not r2[12]["is_new"] and r2[12]["dup_of"] == 11

    r3 = {r["doc_id"]: r for r in store.ingest(_docs(spark, BATCH3)).collect()}
    assert not r3[20]["is_new"] and r3[20]["dup_of"] == 11  # two batches back
    assert r3[21]["is_new"]
    assert not r3[22]["is_new"] and r3[22]["dup_of"] == 1

    # store holds exactly one row per distinct digest = batch-mode answer
    import duckdb  # noqa: F401  (documenting: store is plain parquet)

    all_rows = BATCH1 + BATCH2 + BATCH3
    n_distinct = len({t for _, t in all_rows})
    store_df = spark.read.parquet(store.digests_dir)
    assert store_df.count() == n_distinct
    # keep_id per digest is the global minimum id (ingestion order)
    keep = {r["digest"]: r["keep_id"] for r in store_df.collect()}
    expect = {}
    for i, t in all_rows:
        d = spark.createDataFrame([(t,)], "t string").select(
            F.md5("t").alias("d")
        ).first()["d"]
        expect.setdefault(d, i)
    assert keep == expect


def test_exact_store_bucketed_plan_and_values(spark, store_root):
    """Bucketed mode: identical answers, and the probe join's physical
    plan has no shuffle on the store side (bucketed scan feeds the
    sort-merge join directly; only the increment is exchanged)."""
    table = "incr_digests_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        store = ExactDedupStore(store_root, bucket_table=table, n_buckets=4)
        store.ingest(_docs(spark, BATCH1)).collect()
        out = store.ingest(_docs(spark, BATCH2))
        rows = {r["doc_id"]: r for r in out.collect()}
        assert not rows[10]["is_new"] and rows[10]["dup_of"] == 0
        assert rows[11]["is_new"]
        assert not rows[12]["is_new"] and rows[12]["dup_of"] == 11

        # plan gate: re-plan the probe join as ingest() builds it. In
        # production the store is far beyond any broadcast threshold and
        # the join is sort-merge — model that regime by disabling
        # auto-broadcast (a test-scope conf, restored below); bucketing
        # is bypassed for broadcast joins by design.
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            probe = _docs(spark, BATCH2).select(
                "doc_id", F.md5("text").alias("digest")
            ).join(spark.table(table), "digest", "left")
            plan = probe._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        scan_side = [
            ln for ln in plan.splitlines() if "FileScan" in ln and table in ln
        ]
        assert scan_side, plan
        # the store-side scan reports its bucket layout...
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
        # ...and no Exchange sits between the bucketed scan and the join:
        # with 4 buckets the join keys arrive pre-partitioned, so exactly
        # one Exchange (the increment side) may appear in the whole plan
        assert plan.count("Exchange") <= 1, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_stores_crash_retry_idempotent(spark, store_root):
    """Re-ingesting an already-appended batch (crash retry) must not
    double-append store rows, and the keeper must not point dup_of at
    itself."""
    estore = ExactDedupStore(store_root + "/ex")
    estore.ingest(_docs(spark, BATCH1)).collect()
    n_dig = spark.read.parquet(estore.digests_dir).count()
    e1b = {r["doc_id"]: r for r in estore.ingest(_docs(spark, BATCH1)).collect()}
    # keeper finds itself in the store: dup_of stays NULL, nothing re-appended
    assert e1b[0]["dup_of"] is None and not e1b[0]["is_new"]
    assert e1b[2]["dup_of"] == 0  # non-keeper still resolves to the keeper
    assert spark.read.parquet(estore.digests_dir).count() == n_dig
