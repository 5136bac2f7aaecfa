"""IcebergQualitySink: the quality pipeline's per-turn fact table as a
real Iceberg v2 table (north_rule "writes keep/drop flags … to Iceberg")
— parity with the parquet-layout sink, checkpoint/resume equivalence,
snapshot isolation (time travel to any batch), and idempotent partition
re-runs via dynamic partition overwrite."""

from __future__ import annotations

import datetime as dt
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from references import snapshots

from data_quality_automated_evaluator_spark.pipeline.sinks import (
    IcebergQualitySink,
    QualitySink,
)
from data_quality_automated_evaluator_spark.sources.iceberg_lite import (
    read_iceberg,
    write_iceberg,
)
from data_quality_automated_evaluator_spark.testdata import generate_transcripts

KEY = ["conv_id", "turn_idx"]


@pytest.fixture(scope="module")
def sdf(spark):
    pdf = generate_transcripts(n_convs=300, seed=7)
    return spark.createDataFrame(pdf)


def _read_sorted(spark, sink: QualitySink) -> pd.DataFrame:
    return (
        sink.read_turns(spark)
        .toPandas()
        .sort_values(KEY)
        .reset_index(drop=True)
    )


def test_identity_date_partition_roundtrip(spark, tmp_path):
    """Identity partitioning on a DATE column: hive ISO directory names
    coerce to the spec's days-from-epoch ints in the manifests, and the
    reader restores them as typed date literals (not NULLs)."""
    loc = str(tmp_path / "dated")
    df = spark.createDataFrame(
        [(i, dt.date(2024, 1, 1 + i % 3), f"r{i}") for i in range(12)],
        "id long, d date, v string",
    )
    write_iceberg(df, loc, partition_by=["d"], mode="overwrite")
    back = read_iceberg(spark, loc)
    assert dict(back.dtypes)["d"] == "date"
    got = back.toPandas().sort_values("id").reset_index(drop=True)
    want = df.toPandas().sort_values("id").reset_index(drop=True)
    assert got["d"].tolist() == want["d"].tolist()
    # and metadata-level pruning by the typed value still works
    one = read_iceberg(
        spark, loc,
        partition_filter={"d": (dt.date(2024, 1, 2) - dt.date(1970, 1, 1)).days},
    )
    assert one.count() == 4


def test_overwrite_partitions_carries_untouched(spark, tmp_path):
    """mode='overwrite_partitions': replaced partitions swap their file
    set; untouched partitions carry forward; prior snapshots still see
    the pre-replacement rows (snapshot isolation)."""
    loc = str(tmp_path / "dynop")
    df = spark.createDataFrame(
        [(i, f"p{i % 3}", i * 10) for i in range(9)], "id long, p string, x long"
    )
    snap1 = write_iceberg(df, loc, partition_by=["p"], mode="overwrite")
    repl = spark.createDataFrame(
        [(100, "p1", -1), (101, "p1", -2)], "id long, p string, x long"
    )
    write_iceberg(repl, loc, mode="overwrite_partitions")
    now = read_iceberg(spark, loc).toPandas().sort_values("id")
    # p0/p2 rows intact (6), p1 replaced by the 2 new rows
    assert len(now) == 8
    assert set(now[now["p"] == "p1"]["id"]) == {100, 101}
    assert (now[now["p"] != "p1"]["id"] < 9).all()
    before = read_iceberg(spark, loc, snapshot_id=snap1)
    assert before.count() == 9


def test_iceberg_sink_matches_parquet_sink(spark, sdf, tmp_path_factory):
    pq_sink = QualitySink(str(tmp_path_factory.mktemp("pq")))
    ib_sink = IcebergQualitySink(str(tmp_path_factory.mktemp("ib")))
    s_pq = pq_sink.run(sdf)
    s_ib = ib_sink.run(sdf)
    for k in ("processed_partitions", "n_turns", "n_keep"):
        assert s_ib[k] == s_pq[k], k
    a = _read_sorted(spark, pq_sink)
    b = _read_sorted(spark, ib_sink)
    assert len(a) == len(b) > 0
    for col in ["conv_id", "turn_idx", "keep", "text_scrubbed", "part_date"]:
        assert (
            a[col].astype(str).fillna("@") == b[col].astype(str).fillna("@")
        ).all(), col
    # the stats artifact folds identically from either fact table
    sa = pq_sink.read_stats(spark).toPandas().sort_values("__time_interval")
    sb = ib_sink.read_stats(spark).toPandas().sort_values("__time_interval")
    assert (sa.values == sb.values).all()
    # and it is a REAL iceberg table: spec files on disk, one snapshot
    assert os.path.exists(
        os.path.join(ib_sink.turns_dir, "metadata", "version-hint.text")
    )
    assert len(snapshots(ib_sink.turns_dir)) == 1


def test_iceberg_sink_resume_snapshots_and_time_travel(
    spark, sdf, tmp_path_factory
):
    full = IcebergQualitySink(str(tmp_path_factory.mktemp("ib_full")))
    part = IcebergQualitySink(str(tmp_path_factory.mktemp("ib_part")))
    s1 = full.run(sdf)
    assert s1["processed_partitions"] > 2

    s2 = part.run(sdf, batch_days=2)
    assert s2["processed_partitions"] == 2
    snaps = snapshots(part.turns_dir)
    assert len(snaps) == 1
    first_snap = snaps[-1]["snapshot-id"]

    s3 = part.run(sdf)  # resume
    assert s3["skipped_partitions"] == 2
    assert len(snapshots(part.turns_dir)) == 2

    a = _read_sorted(spark, full)
    b = _read_sorted(spark, part)
    assert len(a) == len(b)
    for col in ["conv_id", "turn_idx", "keep", "text_scrubbed"]:
        assert (a[col].fillna("@") == b[col].fillna("@")).all(), col

    # time travel: the first batch's snapshot sees exactly 2 part_dates
    early = read_iceberg(spark, part.turns_dir, snapshot_id=first_snap)
    assert early.select("part_date").distinct().count() == 2

    # idempotence: nothing pending → no new snapshot
    s4 = part.run(sdf)
    assert s4["processed_partitions"] == 0
    assert len(snapshots(part.turns_dir)) == 2


def test_iceberg_lineage_and_stats_tables(spark, sdf, tmp_path_factory):
    """North-rule literal: per-partition lineage + metrics and the
    interval stats are themselves Iceberg tables. Lineage appends one
    snapshot per batch, each row carries the turns-table snapshot id
    that committed its partition (time-travel the fact table to the
    exact state a metric row describes); the stats table is a
    full-refresh snapshot per batch."""
    import json

    sink = IcebergQualitySink(str(tmp_path_factory.mktemp("ib_lin")))
    s1 = sink.run(sdf, batch_days=2)
    s2 = sink.run(sdf)
    assert s1["processed_partitions"] == 2 and s2["processed_partitions"] > 0

    lin = read_iceberg(spark, sink.lineage_dir).toPandas()
    # one row per completed partition, metrics agreeing with the ledger
    entries = sink.ledger_entries()
    assert sorted(lin["part_date"]) == sorted(entries)
    for _, row in lin.iterrows():
        led = entries[row["part_date"]]
        assert int(row["n_turns"]) == led["n_turns"]
        assert int(row["n_keep"]) == led["n_keep"]
        assert json.loads(row["thresholds"]) == led["thresholds"]
    # one appended lineage snapshot per batch
    assert len(snapshots(sink.lineage_dir)) == 2
    # each lineage row names the turns snapshot that committed it, and
    # time-traveling the fact table there shows that partition present
    turn_snaps = {s["snapshot-id"] for s in snapshots(sink.turns_dir)}
    assert set(lin["turns_snapshot_id"]) <= turn_snaps
    batch1_snap = int(lin["turns_snapshot_id"].min())
    early = read_iceberg(spark, sink.turns_dir, snapshot_id=batch1_snap)
    assert early.select("part_date").distinct().count() == 2

    # the stats artifact is an Iceberg table matching the partials fold
    st = read_iceberg(spark, sink.stats_dir).toPandas().sort_values("__time_interval")
    sf = sink.read_stats(spark).toPandas().sort_values("__time_interval")
    assert (st.values == sf.values).all()
    assert os.path.exists(
        os.path.join(sink.stats_dir, "metadata", "version-hint.text")
    )


def test_iceberg_sink_partition_rerun_no_duplicates(
    spark, sdf, tmp_path_factory
):
    """Re-running one completed partition (crash-recovery shape: its
    ledger entry is lost) replaces that partition's files instead of
    appending duplicates, and leaves every other partition untouched."""
    sink = IcebergQualitySink(str(tmp_path_factory.mktemp("ib_rerun")))
    sink.run(sdf)
    total = sink.read_turns(spark).count()
    done = sorted(sink.ledger_entries())
    victim = done[0]
    os.remove(os.path.join(sink.ledger_dir, f"{victim}.json"))

    s = sink.run(sdf)
    assert s["processed_partitions"] == 1
    assert sink.read_turns(spark).count() == total  # no duplicate rows
    assert len(snapshots(sink.turns_dir)) == 2


class _ReadBackSink(IcebergQualitySink):
    """Keeps the frame ``_write_turns`` hands to the facts aggregation."""

    def _write_turns(self, *args):
        self.read_back = super()._write_turns(*args)
        return self.read_back


def _days(spark, first: int, n: int):
    """One two-turn conversation on each of ``n`` dates from day ``first``."""
    rows = [
        (f"c{d:04d}", t, role, "Could you explain how tides work, please?",
         None, dt.datetime(2025, 1, 1, 12, t) + dt.timedelta(days=d))
        for d in range(first, first + n)
        for t, role in enumerate(("user", "assistant"))
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")


def test_daily_read_back_independent_of_history(spark, tmp_path):
    """A one-day run reads back only the day it committed: the frame the
    facts aggregate over plans as many parquet scans after 40 history
    dates as after 5, not one per committed date."""
    scans, rows = [], []
    for history in (5, 40):
        sink = _ReadBackSink(str(tmp_path / f"h{history}"))
        sink.run(_days(spark, 0, history))
        s = sink.run(_days(spark, history, 1))
        assert s["processed_partitions"] == 1
        plan = sink.read_back._jdf.queryExecution().analyzed()
        scans.append(plan.collectLeaves().size())
        rows.append(sink.read_back.count())
    assert scans[0] == scans[1] == 1
    assert rows == [2, 2]


def test_read_iceberg_is_one_scan(spark, tmp_path):
    """A read plans one parquet scan and no Union however many identity
    partitions it spans, restores each row's partition value from its
    file (whose URI percent-encodes the location's space and %), and a
    read of some dates lists only their files."""
    for n_dates in (5, 40):
        loc = str(tmp_path / f"t {n_dates}%")
        df = _days(spark, 0, n_dates).withColumn("part_date", F.to_date("ts"))
        write_iceberg(df, loc, partition_by=["part_date"], mode="overwrite")
        back = read_iceberg(spark, loc)
        plan = back._jdf.queryExecution().analyzed()
        assert plan.collectLeaves().size() == 1
        assert "Union" not in plan.toString()
        got = back.groupBy("part_date").count().collect()
        assert len(got) == n_dates and {r["count"] for r in got} == {2}
        assert back.filter(F.to_date("ts") != F.col("part_date")).count() == 0

    sink = IcebergQualitySink(str(tmp_path / "sink"))
    sink.run(_days(spark, 0, 5))
    one = sink._read_dates(spark, ["2025-01-03"])
    assert one.inputFiles() and all("part_date=2025-01-03" in f for f in one.inputFiles())
    assert {str(r[0]) for r in one.select("part_date").distinct().collect()} == {"2025-01-03"}
