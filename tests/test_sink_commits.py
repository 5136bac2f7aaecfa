"""The sink's driver-side commits: after the turns write a run launches
only the facts aggregation's Spark jobs (plus the Iceberg stats and
lineage commits), the partials and stats it commits survive a crash at
any step, keep a pinned Spark-read schema, and replace a tree written by
Spark's own parquet writer instead of mixing with it."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.pipeline import sinks
from data_quality_automated_evaluator_spark.pipeline.rules import RULE_NAMES
from data_quality_automated_evaluator_spark.pipeline.sinks import (
    IcebergQualitySink,
    QualitySink,
)
from data_quality_automated_evaluator_spark.sources.iceberg_lite import (
    current_metadata_path,
    load_metadata,
    read_iceberg,
    write_iceberg,
)
from data_quality_automated_evaluator_spark.testdata import generate_transcripts

PARTIALS_DTYPES = [
    ("__time_interval", "timestamp"),
    ("n_turns", "bigint"),
    ("keep_sum", "bigint"),
    ("scrubbed_chars_sum", "bigint"),
    *((f"{r}_sum", "bigint") for r in RULE_NAMES),
    ("part_date", "date"),
]
STATS_DTYPES = [
    ("__time_interval", "timestamp"),
    ("n_turns", "bigint"),
    ("keep_rate", "double"),
    *((f"{r}_pass_rate", "double") for r in RULE_NAMES),
]


@pytest.fixture(scope="module")
def src(spark):
    """Six consecutive dates of generated conversations, none empty."""
    sdf = spark.createDataFrame(generate_transcripts(n_convs=300, seed=3))
    first = sdf.agg(F.min(F.to_date("ts"))).first()[0]
    return sdf.filter(F.to_date("ts") < F.date_add(F.lit(first), 6)).cache()


def _jobs(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _switch(group: str) -> None:
    SparkSession.getActiveSession().sparkContext.setJobGroup(group, group)


class _JobGroups:
    """Tags every Spark job launched after the turns write with the step
    that launched it: ``facts`` until the first driver commit (the
    test's ``_replace_dir`` wrapper tags those ``driver``), then ``stats``
    and ``lineage``."""

    tag = "budget"

    def _write_turns(self, out, pending):
        written = super()._write_turns(out, pending)
        _switch(f"{self.tag}-facts")
        return written

    def _write_stats(self, spark, stats):
        _switch(f"{self.tag}-stats")
        super()._write_stats(spark, stats)

    def _write_lineage(self, spark, entries):
        _switch(f"{self.tag}-lineage")
        super()._write_lineage(spark, entries)


class _BudgetSink(_JobGroups, QualitySink):
    tag = "budget-parquet"


class _BudgetIcebergSink(_JobGroups, IcebergQualitySink):
    tag = "budget-iceberg"


@pytest.mark.parametrize(
    "sink_cls, stats_jobs, lineage_jobs",
    [(_BudgetSink, 0, 0), (_BudgetIcebergSink, 1, 1)],
)
def test_sink_job_budget_after_turns_write(spark, src, tmp_path, monkeypatch,
                                           sink_cls, stats_jobs, lineage_jobs):
    """After the turns write, the only Spark work is the facts aggregation
    (at most 3 jobs); the partials are written by the driver, and the
    stats and lineage by the driver too, except for the Iceberg sink's one
    commit job each."""
    tag = sink_cls.tag
    replace = sinks._replace_dir

    def tagged_replace(table, path):
        _switch(f"{tag}-driver")
        replace(table, path)

    monkeypatch.setattr(sinks, "_replace_dir", tagged_replace)
    sink = sink_cls(str(tmp_path / "out"))
    try:
        summary = sink.run(src, time_interval="1h")
    finally:
        spark.sparkContext.setJobGroup("", "")
    assert summary["processed_partitions"] == 6
    assert len(sink._partial_dates(sink._partials_dir("1h"))) == 6
    assert 1 <= _jobs(spark, f"{tag}-facts") <= 3
    assert _jobs(spark, f"{tag}-driver") == 0
    assert _jobs(spark, f"{tag}-stats") == stats_jobs
    assert _jobs(spark, f"{tag}-lineage") == lineage_jobs


@pytest.mark.parametrize("sink_cls", [QualitySink, IcebergQualitySink])
def test_turns_read_back_launches_no_job(spark, src, tmp_path, monkeypatch, sink_cls):
    """What ``_write_turns`` does after Spark's data write — the Iceberg
    metadata commit, and the read-back the facts aggregation plans over —
    launches no Spark job: the parquet layout is read with the written
    schema, each Iceberg partition group with the table's data schema."""
    group = f"read-back-{sink_cls.__name__}"
    write = DataFrameWriter.parquet

    def write_then_switch(self, *args, **kwargs):
        write(self, *args, **kwargs)
        _switch(group)

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_switch)
    df = src.select("conv_id", "turn_idx", "ts", F.to_date("ts").alias("part_date"))
    dates = [str(r[0]) for r in df.select("part_date").distinct().collect()]
    try:
        written = sink_cls(str(tmp_path / "out"))._write_turns(df, dates)
        pending = written.filter(F.col("part_date").isin(["2025-01-02"]))
        assert written.dtypes == pending.dtypes == df.dtypes
    finally:
        spark.sparkContext.setJobGroup("", "")
    assert _jobs(spark, group) == 0
    assert written.count() == df.count()


def test_read_iceberg_column_added_later_reads_null(spark, tmp_path):
    """A file written before a column was added to the table's schema
    reads that column as NULL."""
    loc = str(tmp_path / "evolved")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, p string")
    write_iceberg(df, loc, partition_by=["p"], mode="overwrite")
    meta = load_metadata(loc)
    meta["schemas"][0]["fields"].append(
        {"id": 3, "name": "note", "required": False, "type": "string"}
    )
    meta["last-column-id"] = 3
    # commit the evolved schema as the next metadata version
    path = current_metadata_path(loc)
    mdir, version = os.path.dirname(path), int(os.path.basename(path)[1:].split(".")[0]) + 1
    with open(os.path.join(mdir, f"v{version}.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(version))
    got = read_iceberg(spark, loc).orderBy("id").toPandas()
    assert list(got.columns) == ["id", "p", "note"]
    assert got["id"].tolist() == [1, 2] and got["note"].isna().all()


def _partials(spark, sink: QualitySink, interval: str) -> pd.DataFrame:
    return (
        spark.read.parquet(sink._partials_dir(interval)).toPandas()
        .sort_values(["part_date", "__time_interval"]).reset_index(drop=True)
    )


def _stats(spark, sink: QualitySink) -> pd.DataFrame:
    return (
        spark.read.parquet(sink.stats_dir).toPandas()
        .sort_values("__time_interval").reset_index(drop=True)
    )


def _ledger(sink: QualitySink) -> dict:
    return {
        d: {k: v for k, v in e.items() if k not in ("run_wall_sec", "completed_at")}
        for d, e in sink.ledger_entries().items()
    }


def _assert_committed(sink: QualitySink, interval: str) -> None:
    """Every date the partials tree lists has its committed file."""
    pdir = sink._partials_dir(interval)
    for d in sink._partial_dates(pdir):
        names = os.listdir(os.path.join(pdir, f"part_date={d}"))
        assert any(n.endswith(".parquet") for n in names), d


class _Crash(Exception):
    pass


def test_crash_at_driver_commits_converges(spark, src, tmp_path, monkeypatch):
    """Crashes between a partials date's removal and its rename, and
    between the partials and the stats, leave no date listed without its
    file; a re-run converges to an uninterrupted run's partials, stats and
    ledger, with no date counted twice."""
    ref = QualitySink(str(tmp_path / "ref"))
    ref.run(src, time_interval="1h")

    sink = QualitySink(str(tmp_path / "crashed"))
    pdir = sink._partials_dir("1h")
    sink.run(src, time_interval="1h", batch_days=2)
    dates = sorted(ref.ledger_entries())
    rename = os.rename

    def crash_at(date, must_have_existed):
        existed = os.path.isdir(os.path.join(pdir, f"part_date={date}"))
        assert existed == must_have_existed

        def fake(a, b):
            if os.path.basename(b) == f"part_date={date}":
                assert not os.path.exists(b), "old date dir not removed first"
                raise _Crash(date)
            return rename(a, b)

        monkeypatch.setattr(sinks.os, "rename", fake)

    # 1: the batch's first date is committed, the second is not
    crash_at(dates[3], must_have_existed=False)
    with pytest.raises(_Crash):
        sink.run(src, time_interval="1h")
    monkeypatch.setattr(sinks.os, "rename", rename)
    _assert_committed(sink, "1h")
    assert sink._partial_dates(pdir) == set(dates[:3])

    # 2: the re-run removes the committed date's dir and crashes before
    # putting the new one in place — the date is absent, not doubled
    crash_at(dates[2], must_have_existed=True)
    with pytest.raises(_Crash):
        sink.run(src, time_interval="1h")
    monkeypatch.setattr(sinks.os, "rename", rename)
    _assert_committed(sink, "1h")
    assert sink._partial_dates(pdir) == set(dates[:2])

    # 3: every partial committed, then a crash before the stats
    def no_stats(*_):
        raise _Crash("stats")

    monkeypatch.setattr(QualitySink, "_write_stats", no_stats)
    with pytest.raises(_Crash):
        sink.run(src, time_interval="1h")
    monkeypatch.undo()
    _assert_committed(sink, "1h")
    assert sink._partial_dates(pdir) == set(dates)
    assert set(sink.ledger_entries()) == set(dates[:2])

    sink.run(src, time_interval="1h")
    got, want = _partials(spark, sink, "1h"), _partials(spark, ref, "1h")
    assert not got.duplicated(["part_date", "__time_interval"]).any()
    pd.testing.assert_frame_equal(got, want)
    pd.testing.assert_frame_equal(_stats(spark, sink), _stats(spark, ref))
    assert _ledger(sink) == _ledger(ref)
    assert not [n for n in os.listdir(pdir) if n.startswith(".")]


@pytest.mark.parametrize("interval", ["1d", "1h"])
def test_artifact_schema_pinned(spark, src, tmp_path, interval):
    """Spark reads the driver-written partials and stats with the types
    Spark's own writer gave them."""
    sink = QualitySink(str(tmp_path / "out"))
    sink.run(src, time_interval=interval)
    assert spark.read.parquet(sink._partials_dir(interval)).dtypes == PARTIALS_DTYPES
    assert spark.read.parquet(sink.stats_dir).dtypes == STATS_DTYPES
    assert sink.read_stats(spark, interval).dtypes == STATS_DTYPES


def test_read_stats_reads_the_one_interval_tree(spark, src, tmp_path):
    """Without an interval, read_stats reads the sink's one partials tree:
    empty before any run, the 1h tree after a 1h run, and an error naming
    both trees once a 1d run adds a second."""
    sink = QualitySink(str(tmp_path / "out"))
    assert sink.read_stats(spark).count() == 0
    sink.run(src, time_interval="1h")
    got = sink.read_stats(spark).toPandas()
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, sink.read_stats(spark, "1h").toPandas())
    sink.run(src, time_interval="1d")
    with pytest.raises(ValueError, match=r"1d.*1h"):
        sink.read_stats(spark)


def _rewrite_with_spark(spark, path: str, partition_by: list[str]) -> None:
    """Replace a driver-written tree by the same rows written with
    Spark's parquet writer (``_SUCCESS`` marker, ``.crc`` side files)."""
    tmp = path + "_spark"
    writer = spark.read.parquet(path).write.mode("overwrite")
    (writer.partitionBy(*partition_by) if partition_by else writer).parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def test_upgrade_over_spark_written_artifacts(spark, src, tmp_path):
    """A root whose partials and stats were written by Spark's parquet
    writer is taken over: each date the run commits and the stats dir are
    replaced whole (no Spark part files or side files left beside the new
    file), and the values equal an uninterrupted run's."""
    ref = QualitySink(str(tmp_path / "ref"))
    ref.run(src)
    sink = QualitySink(str(tmp_path / "old"))
    sink.run(src, batch_days=3)
    pdir = sink._partials_dir("1d")
    _rewrite_with_spark(spark, pdir, ["part_date"])
    _rewrite_with_spark(spark, sink.stats_dir, [])
    redo = sorted(sink.ledger_entries())[-1]
    assert any(n.endswith(".crc") for n in os.listdir(os.path.join(pdir, f"part_date={redo}")))
    assert "_SUCCESS" in os.listdir(sink.stats_dir)
    # the last completed date is redone, as after a crash before its ledger
    os.remove(os.path.join(sink.ledger_dir, f"{redo}.json"))

    sink.run(src)
    assert os.listdir(os.path.join(pdir, f"part_date={redo}")) == ["part-00000.parquet"]
    assert os.listdir(sink.stats_dir) == ["part-00000.parquet"]
    pd.testing.assert_frame_equal(_partials(spark, sink, "1d"), _partials(spark, ref, "1d"))
    pd.testing.assert_frame_equal(_stats(spark, sink), _stats(spark, ref))
    assert _ledger(sink) == _ledger(ref)
    with open(os.path.join(sink.ledger_dir, f"{redo}.json")) as fh:
        assert json.load(fh)["n_turns"] > 0
