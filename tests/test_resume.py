"""Checkpoint/resume at partition granularity (north_rule): a run that
stops after k partitions and is then resumed must produce byte-identical
outputs to a single uninterrupted run, and must not reprocess completed
partitions."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.pipeline.quality import run_quality_pipeline
from data_quality_automated_evaluator_spark.pipeline.rules import RULE_NAMES
from data_quality_automated_evaluator_spark.pipeline.sinks import (
    IcebergQualitySink,
    QualitySink,
)
from data_quality_automated_evaluator_spark.sources.iceberg_lite import read_iceberg
from data_quality_automated_evaluator_spark.testdata import generate_transcripts


@pytest.fixture(scope="module")
def sdf(spark):
    pdf = generate_transcripts(n_convs=300, seed=7)
    return spark.createDataFrame(pdf)


def _read_sorted(spark, sink: QualitySink) -> pd.DataFrame:
    return (
        sink.read_turns(spark)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_resume_equivalence(spark, sdf, tmp_path_factory):
    full_root = str(tmp_path_factory.mktemp("sink_full"))
    part_root = str(tmp_path_factory.mktemp("sink_partial"))

    # uninterrupted run
    full = QualitySink(full_root)
    s1 = full.run(sdf)
    assert s1["processed_partitions"] > 2

    # interrupted run: only 2 partitions, then resume
    part = QualitySink(part_root)
    s2 = part.run(sdf, batch_days=2)
    assert s2["processed_partitions"] == 2
    assert len(part.ledger_entries()) == 2

    s3 = part.run(sdf)  # resume the rest
    assert s3["skipped_partitions"] == 2
    assert s3["processed_partitions"] == s1["processed_partitions"] - 2

    a = _read_sorted(spark, full)
    b = _read_sorted(spark, part)
    assert len(a) == len(b)
    for col in ["conv_id", "turn_idx", "keep", "text_scrubbed"]:
        assert (a[col].fillna("@") == b[col].fillna("@")).all(), col

    # a fully-resumed sink does nothing on re-run (idempotence)
    s4 = part.run(sdf)
    assert s4["processed_partitions"] == 0


def test_partition_discovery_uses_parquet_footers(spark, sdf, tmp_path_factory):
    """Discovery over a parquet-backed input must come from footer
    statistics (metadata-only), not a distinct() scan, and must cover the
    full contiguous date range of ts."""
    from data_quality_automated_evaluator_spark.pipeline.sinks import (
        _parquet_footer_ts,
    )

    src = str(tmp_path_factory.mktemp("discovery") / "transcripts")
    sdf.write.mode("overwrite").parquet(src)
    pdf = spark.read.parquet(src)

    bounds = _parquet_footer_ts(pdf, "ts")[0]
    assert bounds is not None, "footer path must engage for parquet input"
    parts = QualitySink.discover_partitions(pdf)
    truth = sorted(
        str(r[0]) for r in
        pdf.selectExpr("to_date(ts) d").distinct().collect()
    )
    # footer-derived candidates are a contiguous superset of the truth
    assert set(truth) <= set(parts)
    assert parts[0] == truth[0] and parts[-1] == truth[-1]
    # non-parquet input falls back (still no shuffle — min/max agg)
    assert _parquet_footer_ts(sdf, "ts")[0] is None
    assert set(truth) <= set(QualitySink.discover_partitions(sdf))


def test_partition_discovery_skips_empty_parquet_files(spark, sdf, tmp_path):
    """An empty append leaves a parquet file with no row groups beside the
    data; its footer has no statistics to give, so discovery reads the
    bounds from the other files instead of failing."""
    src = str(tmp_path / "transcripts")
    sdf.write.parquet(src)
    sdf.limit(0).write.mode("append").parquet(src)
    truth = sorted(str(r[0]) for r in sdf.selectExpr("to_date(ts) d").distinct().collect())
    parts = QualitySink.discover_partitions(spark.read.parquet(src))
    assert parts[0] == truth[0] and parts[-1] == truth[-1]


def test_stats_incremental_and_convergent(spark, sdf, tmp_path_factory):
    """The incremental partial-stats artifact must fold to exactly what a
    full interval_rule_stats pass over the whole written table computes,
    whether the run was interrupted+resumed or uninterrupted."""
    from references import interval_rule_stats

    root = str(tmp_path_factory.mktemp("sink_stats"))
    sink = QualitySink(root)
    sink.run(sdf, batch_days=2)
    sink.run(sdf)  # resume the rest — partials written per batch

    folded = (
        sink.read_stats(spark).toPandas().sort_values("__time_interval")
        .reset_index(drop=True)
    )
    full = (
        interval_rule_stats(sink.read_turns(spark)).toPandas()
        .sort_values("__time_interval").reset_index(drop=True)
    )
    assert len(folded) == len(full) > 0
    for col in full.columns:
        assert (folded[col].values == full[col].values).all(), col
    # the stats artifact on disk matches the folded view
    stored = (
        spark.read.parquet(sink.stats_dir).toPandas()
        .sort_values("__time_interval").reset_index(drop=True)
    )
    for col in full.columns:
        assert (stored[col].values == full[col].values).all(), col


def test_ledger_entries_carry_lineage(spark, sdf, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sink_lineage"))
    sink = QualitySink(root)
    sink.run(sdf, batch_days=1)
    files = [f for f in os.listdir(sink.ledger_dir) if f.endswith(".json")]
    assert len(files) == 1
    entry = json.load(open(os.path.join(sink.ledger_dir, files[0])))
    for key in ["part_date", "n_turns", "n_keep", "n_convs", "scrubbed_chars",
                "run_wall_sec", "thresholds", "completed_at"]:
        assert key in entry, key
    assert entry["n_turns"] > 0


def test_stats_interval_change_no_granularity_mixing(spark, sdf, tmp_path_factory):
    """Switching time_interval between runs must NOT mix bucket
    granularities: each interval gets its own partials tree, and
    partitions completed under the old interval are backfilled once."""
    from references import interval_rule_stats

    root = str(tmp_path_factory.mktemp("sink_iv"))
    sink = QualitySink(root)
    sink.run(sdf, time_interval="1d", batch_days=2)
    sink.run(sdf, time_interval="1h")  # rest of the partitions, NEW interval

    hourly = (
        sink.read_stats(spark, "1h").toPandas()
        .sort_values("__time_interval").reset_index(drop=True)
    )
    full = (
        interval_rule_stats(sink.read_turns(spark), "1h").toPandas()
        .sort_values("__time_interval").reset_index(drop=True)
    )
    # the hourly artifact covers the WHOLE table (old-interval partitions
    # were backfilled) and matches a full recompute exactly
    assert len(hourly) == len(full) > 0
    for col in full.columns:
        assert (hourly[col].values == full[col].values).all(), col
    # the daily tree still folds to pure-daily buckets for its partitions
    daily = sink.read_stats(spark, "1d").toPandas()
    assert len(daily) > 0


def test_backfill_of_initially_empty_date(spark, sdf, tmp_path_factory):
    """A date inside the range that has no rows yet is zero-ledgered (for
    progress) and re-checked on later runs, so late-arriving data for it
    is still processed."""
    from pyspark.sql import functions as F

    dates = sorted(
        str(r[0]) for r in sdf.selectExpr("to_date(ts) d").distinct().collect()
    )
    hole = dates[len(dates) // 2]
    first = sdf.filter(F.to_date("ts") != hole)

    root = str(tmp_path_factory.mktemp("sink_backfill"))
    sink = QualitySink(root)
    s1 = sink.run(first)
    # every candidate in the contiguous range is processed; the empty hole
    # (and any natural gap dates) are zero-ledgered — progress guarantee
    # for batch_days-limited runs
    import datetime as dt

    n_range = (dt.date.fromisoformat(dates[-1]) - dt.date.fromisoformat(dates[0])).days + 1
    assert s1["processed_partitions"] == n_range
    assert sink.ledger_entries()[hole]["n_turns"] == 0

    # …but when its data "arrives", the zero-date re-check reprocesses it
    s2 = sink.run(sdf)
    assert s2["processed_partitions"] == 1
    assert s2["n_turns"] > 0
    assert sink.ledger_entries()[hole]["n_turns"] > 0
    got = sink.read_turns(spark).selectExpr("to_date(ts) d").distinct().count()
    assert got == len(dates)
    # fully caught up: nothing pending, zero-recheck finds nothing new
    s3 = sink.run(sdf)
    assert s3["processed_partitions"] == 0


def test_null_ts_rows_surfaced_not_silently_dropped(spark, sdf, tmp_path_factory):
    from pyspark.sql import functions as F

    dirty = sdf.unionAll(
        sdf.limit(3).withColumn("ts", F.lit(None).cast("timestamp"))
    )
    root = str(tmp_path_factory.mktemp("sink_nullts"))
    s = QualitySink(root).run(dirty)
    assert s["n_null_ts"] == 3
    assert s["n_turns"] == sdf.count()


def test_batch_days_progresses_past_empty_dates(spark, sdf, tmp_path_factory):
    """batch_days-limited runs must not livelock on an empty in-range
    date: the empty date is zero-ledgered and the next run moves on."""
    from pyspark.sql import functions as F

    dates = sorted(
        str(r[0]) for r in sdf.selectExpr("to_date(ts) d").distinct().collect()
    )
    hole = dates[1]  # second date empty → selected early by batch_days
    src = sdf.filter(F.to_date("ts") != hole)

    root = str(tmp_path_factory.mktemp("sink_livelock"))
    sink = QualitySink(root)
    seen_processed = 0
    for _ in range(4):
        s = sink.run(src, batch_days=1)
        seen_processed += s["processed_partitions"]
    # four runs, four candidate dates consumed (one of them the empty
    # hole) — never stuck re-selecting the same empty date
    assert seen_processed == 4
    assert len(sink.ledger_entries()) == 4
    assert sink.ledger_entries()[hole]["n_turns"] == 0
    assert sink.ledger_entries()[dates[2]]["n_turns"] > 0


def test_interval_switch_with_nothing_pending(spark, sdf, tmp_path_factory):
    """Switching time_interval when all partitions are already complete
    must still build the new granularity's partials (early-return path)."""
    from references import interval_rule_stats

    root = str(tmp_path_factory.mktemp("sink_iv2"))
    sink = QualitySink(root)
    sink.run(sdf, time_interval="1d")  # everything completes at 1d

    s = sink.run(sdf, time_interval="1h")  # no pending work, new interval
    assert s["processed_partitions"] == 0

    hourly = (
        sink.read_stats(spark, "1h").toPandas()
        .sort_values("__time_interval").reset_index(drop=True)
    )
    full = (
        interval_rule_stats(sink.read_turns(spark), "1h").toPandas()
        .sort_values("__time_interval").reset_index(drop=True)
    )
    assert len(hourly) == len(full) > 0
    for col in full.columns:
        assert (hourly[col].values == full[col].values).all(), col


@pytest.mark.parametrize("sink_cls", [QualitySink, IcebergQualitySink])
def test_ledger_facts_exact(spark, sdf, tmp_path_factory, sink_cls):
    """Every ledger entry (and lineage row) equals the written turns of
    its date, across a resumed ``batch_days`` run at ``1h`` buckets — where
    conversations span several buckets, so summing per-bucket
    conversation counts would overcount ``n_convs``."""
    from pyspark.sql import functions as F

    first = sdf.agg(F.min(F.to_date("ts"))).first()[0]
    src = sdf.filter(F.to_date("ts") < F.date_add(F.lit(first), 10))
    sink = sink_cls(str(tmp_path_factory.mktemp("sink_facts")))
    assert sink.run(src, time_interval="1h", batch_days=3)["processed_partitions"] == 3
    assert sink.run(src, time_interval="1h")["skipped_partitions"] == 3

    turns = sink.read_turns(spark).toPandas()
    turns["part_date"] = turns["part_date"].astype(str)
    by_date = turns.groupby("part_date")
    n_convs = by_date["conv_id"].nunique()
    bucket_convs = (
        turns.assign(h=turns["ts"].dt.floor("h"))
        .groupby(["part_date", "h"])["conv_id"].nunique()
        .groupby(level="part_date").sum()
    )
    assert (bucket_convs > n_convs).any(), "no conversation spans buckets"
    partials = spark.read.parquet(sink._partials_dir("1h")).toPandas()
    psums = partials.groupby(partials["part_date"].astype(str))[
        ["n_turns", "keep_sum", "scrubbed_chars_sum"]
    ].sum()

    entries = sink.ledger_entries()
    assert len(entries) == 10 and set(n_convs.index) <= set(entries)
    for d, e in entries.items():
        assert e["n_convs"] == n_convs.get(d, 0), d
        assert e["n_turns"] == by_date.size().get(d, 0), d
        assert e["n_keep"] == int(by_date["keep"].sum().get(d, 0)), d
        if d in psums.index:
            assert [e["n_turns"], e["n_keep"], e["scrubbed_chars"]] == psums.loc[d].tolist(), d
        else:
            assert e["n_turns"] == e["n_keep"] == e["scrubbed_chars"] == 0, d
    if sink_cls is IcebergQualitySink:
        lin = read_iceberg(spark, sink.lineage_dir).toPandas()
        assert sorted(lin["part_date"]) == sorted(entries)
        for _, row in lin.iterrows():
            e = entries[row["part_date"]]
            for k in ("n_turns", "n_keep", "n_convs", "scrubbed_chars"):
                assert int(row[k]) == e[k], (row["part_date"], k)


class _PlanCapturingSink(QualitySink):
    def _write_turns(self, out, pending):
        self.plan = out._jdf.queryExecution().executedPlan().toString()
        return super()._write_turns(out, pending)


def test_udf_stage_is_one_wave(spark, sdf, tmp_path):
    """A narrow scan is spread over exactly one task per core before the
    Python-UDF stage; a scan that is already that wide is left alone.
    Each Python task has a fixed cost, so extra waves only add time."""
    n = spark.sparkContext.defaultParallelism
    narrow, wide = str(tmp_path / "narrow"), str(tmp_path / "wide")
    sdf.coalesce(1).write.parquet(narrow)
    sdf.repartition(2 * n).write.parquet(wide)
    assert spark.read.parquet(narrow).rdd.getNumPartitions() == 1
    assert spark.read.parquet(wide).rdd.getNumPartitions() >= n

    sink = _PlanCapturingSink(str(tmp_path / "out_narrow"))
    sink.run(spark.read.parquet(narrow), batch_days=1)
    assert f"RoundRobinPartitioning({n})" in sink.plan
    sink = _PlanCapturingSink(str(tmp_path / "out_wide"))
    sink.run(spark.read.parquet(wide), batch_days=1)
    assert "RoundRobinPartitioning" not in sink.plan


def test_sink_run_summary_reports_rule_failures(spark, tmp_path):
    from data_quality_automated_evaluator_spark.pipeline.sinks import QualitySink

    pdf = generate_transcripts(n_convs=80, seed=13)
    sdf = spark.createDataFrame(pdf)
    s = QualitySink(str(tmp_path / "sink")).run(sdf)

    assert set(s["rule_failures"]) == set(RULE_NAMES)
    truth = (
        run_quality_pipeline(sdf)
        .agg(*[F.sum((~F.col(r)).cast("long")).alias(r) for r in RULE_NAMES])
        .collect()[0]
        .asDict()
    )
    # the sink drops NULL-ts rows before the pipeline; the fixture has
    # none, so the observed batch equals the full input
    assert s["n_null_ts"] == 0
    assert s["rule_failures"] == truth


def test_rule_failures_per_batch_count_null_flags_as_no_failure(spark, sdf, tmp_path):
    """Each resumed run's ``rule_failures`` is ``sum(NOT flag)`` over the
    rows that run wrote. A conversation split by a batch boundary gets
    NULL conversation flags in the later batch; a NULL flag is no
    failure, so ``n_turns - sum(flag)`` would overcount. A batch of only
    empty dates reports all zeros."""
    dates = sorted(str(r[0]) for r in sdf.select(F.to_date("ts")).distinct().collect())
    hole = dates[1]
    # turn 0 lands in the first batch (dates[0]), the rest after the hole
    split = spark.createDataFrame(
        [("c_split", 0, "user", "hello, how do I read the quality report?", None,
          datetime.fromisoformat(f"{dates[0]} 23:59:00")),
         ("c_split", 1, "assistant", "open the stats table and look at each rule.", None,
          datetime.fromisoformat(f"{dates[2]} 00:00:30")),
         ("c_split", 2, "user", "thanks, that is the part of the report I needed.", None,
          datetime.fromisoformat(f"{dates[2]} 00:02:00"))],
        sdf.schema,
    )
    src = sdf.filter(F.to_date("ts").between(dates[0], dates[9]) & (F.to_date("ts") != hole))
    src = src.unionByName(split)

    sink = QualitySink(str(tmp_path / "sink"))
    runs, done = [], set()
    for batch_days in (1, 1, 20, 20):
        s = sink.run(src, batch_days=batch_days)
        if not s["processed_partitions"]:
            break
        batch = set(sink.ledger_entries()) - done
        done |= batch
        runs.append((s, batch))
    assert done == set(sink.ledger_entries()) and not s["processed_partitions"]

    turns = sink.read_turns(spark).toPandas()
    turns["part_date"] = turns["part_date"].astype(str)
    assert turns[RULE_NAMES].isna().any().any(), "no batch-split conversation"
    overcount = False
    for s, batch in runs:
        rows = turns[turns["part_date"].isin(batch)]
        want = {r: int((rows[r] == False).sum()) for r in RULE_NAMES}  # noqa: E712
        assert s["rule_failures"] == want, sorted(batch)
        overcount |= any(len(rows) - int((rows[r] == True).sum()) != want[r]  # noqa: E712
                         for r in RULE_NAMES)
    assert overcount, "no run where n_turns - sum(flag) differs from sum(NOT flag)"
    empty, batch = runs[1]
    assert batch == {hole} and empty["n_turns"] == 0
    assert empty["rule_failures"] == dict.fromkeys(RULE_NAMES, 0)
