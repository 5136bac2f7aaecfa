"""Resumable partition-granular sinks for the quality pipeline.

Production target is Iceberg (``df.writeTo(tbl).partitionedBy(days(ts))``);
in environments without the Iceberg runtime (this sandbox) the same
layout is written as parquet partitioned by ``part_date`` with dynamic
partition overwrite — the sink interface is identical either way.

Checkpoint/resume contract (north_rule):
- work is chunked at partition granularity (one calendar day of ``ts``);
- a ledger table records completed partitions + per-partition lineage
  and metrics (row counts, keep counts, wall time, input fingerprint);
- a resumed run anti-joins pending partitions against the ledger and
  reprocesses ONLY those; outputs are deterministic per partition and
  written with dynamic partition overwrite, so re-running a partition
  (after a mid-write crash) is idempotent;
- no row-granular state anywhere.

Only the turns are written by Spark; after that write, one Spark action
collects the per-date facts, and the driver commits what derives from
them (partials, stats, ledger).
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import os
import shutil
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .quality import (
    RULE_STATS_SCHEMA,
    combine_rule_partials,
    interval_rule_facts,
    run_quality_pipeline,
)
from .rules import RULE_NAMES, Thresholds

log = logging.getLogger(__name__)

OUTPUT_COLUMNS = ["conv_id", "turn_idx", "role", "tool", "ts", "keep",
                  *RULE_NAMES, "text_scrubbed"]

# footer reads go driver-side below this many files, RDD-distributed above
_FOOTER_DRIVER_MAX_FILES = 64

# contiguous-range discovery caps out here (≈27 years of daily partitions);
# beyond it one outlier timestamp is the likely cause → exact distinct scan
_MAX_DISCOVERY_DATES = 10_000

# at most this many zero-ledgered dates are re-checked for late data per
# run (most recent first) — bounds the OR predicate and the recheck scan
_MAX_RECHECK_DATES = 128


def _replace_dir(table: pa.Table, path: str) -> None:
    """Make ``table`` the only file of directory ``path``: written into a
    hidden staging dir beside it (which Spark and ``pyarrow.dataset`` skip),
    then the old dir is removed and the staging dir renamed into place
    (dynamic overwrite's commit shape: a crash leaves ``path`` absent)."""
    staging = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.staging")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    pq.write_table(table, os.path.join(staging, "part-00000.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(staging, path)


def _footer_row_groups(path: str, col: str) -> list[tuple] | None:
    """Per-row-group ``(min, max, null_count)`` of ``col`` from one parquet
    file's footer, None for a statistic the row group lacks; None for the
    whole file when it has no such column."""
    local = path[7:] if path.startswith("file://") else path
    md = pq.ParquetFile(local).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    if col not in names:
        return None
    out = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(names[col]).statistics
        mm = st is not None and st.has_min_max
        out.append((st.min if mm else None, st.max if mm else None,
                    None if st is None else st.null_count))
    return out


def _is_bare_scan(df: DataFrame) -> bool:
    """True when ``df`` is a plain source relation (no filters/unions/
    projections), i.e. footer statistics describe exactly its rows.
    ``inputFiles()`` works THROUGH transformations, so footer-derived
    counts are only trustworthy for a bare scan."""
    try:
        name = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    except Exception:
        return False
    return name in ("LogicalRelation", "DataSourceV2Relation",
                    "DataSourceV2ScanRelation")


def _parquet_footer_ts(df: DataFrame, col: str) -> tuple:
    """``(bounds, null_count)`` of ``col`` from parquet footers, each input
    file's footer opened once (zero data pages). ``bounds`` is the global
    (min, max) timestamp for any parquet-backed input; ``null_count`` only
    for a bare scan. Either is None when the footers cannot answer it
    (non-parquet input, no files, a row group without the statistic) —
    a partial answer would silently drop partitions or rows. Footer reads
    go driver-side up to ``_FOOTER_DRIVER_MAX_FILES`` files and are
    distributed over an RDD of file names above that."""
    try:
        files = df.inputFiles()
    except Exception:
        return None, None
    if not files or not all(f.split("?")[0].endswith(".parquet") or "/part-" in f
                            for f in files):
        return None, None
    try:
        if len(files) <= _FOOTER_DRIVER_MAX_FILES:
            per_file = [_footer_row_groups(f, col) for f in files]
        else:
            per_file = (
                df.sparkSession.sparkContext
                .parallelize(files, max(1, len(files) // 256))
                .map(lambda f: _footer_row_groups(f, col))
                .collect()
            )
    except Exception:
        return None, None
    if any(r is None for r in per_file):
        return None, None
    rgs = [rg for r in per_file for rg in r]
    bounds = None
    if rgs and all(lo is not None for lo, _, _ in rgs):
        lo = min(rg[0] for rg in rgs)
        if isinstance(lo, _dt.datetime):
            bounds = (lo, max(rg[1] for rg in rgs))
    null_count = None
    if _is_bare_scan(df) and all(n is not None for _, _, n in rgs):
        null_count = int(sum(n for _, _, n in rgs))
    return bounds, null_count


def _candidate_dates(df: DataFrame, bounds: tuple | None) -> list[str]:
    """The dates of :meth:`QualitySink.discover_partitions`, given the
    footer ``bounds`` of ``ts`` (None: aggregate them in Spark)."""
    if bounds is None:
        row = df.agg(
            F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
        ).first()
        if row is None or row["lo"] is None:
            return []
        lo, hi = row["lo"], row["hi"]
    else:
        # footer stats are tz-aware UTC — consistent with session UTC
        lo, hi = bounds[0].date(), bounds[1].date()
    n_dates = (hi - lo).days + 1
    if n_dates > _MAX_DISCOVERY_DATES:
        return [
            str(r[0])
            for r in df.where(F.col("ts").isNotNull())
            .select(F.to_date("ts").alias("d"))
            .distinct()
            .orderBy("d")
            .collect()
        ]
    return [str(lo + _dt.timedelta(days=i)) for i in range(n_dates)]


class QualitySink:
    """Filesystem-layout sink: ``<root>/turns`` (partitioned parquet),
    ``<root>/stats`` (per-interval rule stats), ``<root>/ledger``
    (completed-partition manifest + metrics, one JSON file per partition)."""

    def __init__(self, root: str):
        self.root = root
        self.turns_dir = os.path.join(root, "turns")
        self.stats_dir = os.path.join(root, "stats")
        self.stats_partials_dir = os.path.join(root, "stats_partials")
        self.ledger_dir = os.path.join(root, "ledger")

    def _partials_dir(self, time_interval: str) -> str:
        """Partials tree for one bucket granularity — intervals never mix."""
        return os.path.join(self.stats_partials_dir, time_interval)

    def _sync_partials(
        self, spark: SparkSession, time_interval: str, nonzero_done: set[str]
    ) -> bool:
        """Backfill this granularity's partials tree for partitions that
        were completed (with rows) under a DIFFERENT time_interval — a
        one-time scan bounded to exactly those partitions. Returns True
        when anything was backfilled. Zero-row completions are excluded:
        they have no turns to aggregate and would otherwise trigger a
        no-op backfill job on every run forever."""
        pdir = self._partials_dir(time_interval)
        missing = sorted(nonzero_done - self._partial_dates(pdir))
        if not missing:
            return False
        self._write_partials(self._read_dates(spark, missing), time_interval)
        return True

    def _write_partials(self, written: DataFrame, time_interval: str) -> pa.Table:
        """Aggregate ``written`` (whole part_dates of the turns artifact)
        once, commit its partials from the driver, one file per date put in
        place by :func:`_replace_dir`, and return its per-date totals
        (``interval_rule_facts`` level-1 rows)."""
        facts = interval_rule_facts(written, time_interval).toArrow()
        level = facts.column("level")
        partials = facts.filter(pc.equal(level, 0)).drop_columns(
            ["n_convs", "level", *(f"{r}_fail" for r in RULE_NAMES)])
        dates = partials.column("part_date")
        for d in sorted(pc.unique(dates).to_pylist()):
            _replace_dir(
                partials.filter(pc.equal(dates, d)).drop_columns(["part_date"]),
                os.path.join(self._partials_dir(time_interval), f"part_date={d}"),
            )
        return facts.filter(pc.equal(level, 1))

    @staticmethod
    def _partial_dates(pdir: str) -> set[str]:
        """part_dates already present in a partials tree (filesystem
        listing; on object stores / Iceberg this is the catalog's
        partition metadata)."""
        if not os.path.isdir(pdir):
            return set()
        return {
            d.split("=", 1)[1]
            for d in os.listdir(pdir)
            if d.startswith("part_date=")
        }

    # -- ledger ------------------------------------------------------------
    def ledger_entries(self) -> dict[str, dict]:
        """part_date → ledger entry for every completed partition."""
        if not os.path.isdir(self.ledger_dir):
            return {}
        entries: dict[str, dict] = {}
        for f in os.listdir(self.ledger_dir):
            if f.endswith(".json"):
                with open(os.path.join(self.ledger_dir, f)) as fh:
                    e = json.load(fh)
                entries[e["part_date"]] = e
        return entries

    def _write_ledger_entry(self, entry: dict) -> None:
        os.makedirs(self.ledger_dir, exist_ok=True)
        # write-then-rename so a crash mid-write never yields a valid entry
        path = os.path.join(self.ledger_dir, f"{entry['part_date']}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
        os.replace(tmp, path)

    # -- partition discovery -------------------------------------------------
    @staticmethod
    def discover_partitions(df: DataFrame) -> list[str]:
        """Candidate partition dates WITHOUT a full input scan.

        A ``distinct()`` over the raw fact table is a complete scan plus a
        shuffle before any work starts; at 10^12 rows that alone dominates
        an incremental run. Discovery is tiered, cheapest first:

        1. **Footer statistics** — for a parquet-backed input, read the
           per-row-group min/max of ``ts`` straight from the file footers
           (the bare-parquet analog of Iceberg manifest metadata; on
           Iceberg the catalog serves the same numbers). Footer reads are
           O(#files) metadata I/O, distributed over an RDD of file names
           when the listing is large — zero data pages touched.
        2. **Fallback** — ``min(ts)/max(ts)`` aggregation: a single-column
           pruned scan with map-side partial aggregation and no shuffle.

        The contiguous [min_date, max_date] range is the candidate set. A
        date inside the range with no rows is processed as empty and
        ledgered with zero counts; :meth:`run` re-checks the most recent
        ``_MAX_RECHECK_DATES`` zero-ledgered dates for rows on every run,
        so late-arriving data for them is still picked up. If the range
        spans more than ``_MAX_DISCOVERY_DATES``
        (one corrupt epoch-0 or far-future timestamp would otherwise
        explode the candidate set), discovery falls back to the exact
        distinct-date scan — correctness over cheapness for dirty input.

        Timezone note: dates are derived via ``to_date(ts)`` IN SPARK
        (session timezone, UTC) — never via driver-side ``.date()`` on a
        collected naive timestamp, which PySpark renders in the driver
        OS timezone and can shift boundary partitions on non-UTC hosts.
        """
        return _candidate_dates(df, _parquet_footer_ts(df, "ts")[0])

    # -- main entry ----------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        thresholds: Thresholds = Thresholds(),
        time_interval: str = "1d",
        batch_days: int | None = None,
    ) -> dict:
        """Process all pending partitions; returns a run summary.

        ``batch_days`` limits how many pending partitions are processed
        (for incremental/checkpoint-test runs); None = all pending.
        """
        spark = df.sparkSession
        bounds, n_null_ts = _parquet_footer_ts(df, "ts")
        all_parts = _candidate_dates(df, bounds)
        # rows without an event time have no partition and would silently
        # vanish from the output — surface the drop. For a bare parquet
        # scan (the 10^12-row production shape) footer null_count answers
        # with zero data I/O; transformed or non-parquet inputs pay one
        # ts-pruned count scan so the summary is always a real number.
        if n_null_ts is None:
            n_null_ts = df.filter(F.col("ts").isNull()).count()
        if n_null_ts:
            log.warning(
                "%d input rows have NULL ts and are excluded from every "
                "partition (reported as n_null_ts in the run summary)",
                n_null_ts,
            )
        df = df.withColumn("part_date", F.to_date("ts"))
        entries = self.ledger_entries()
        done = set(entries)
        nonzero_done = {d for d, e in entries.items() if e.get("n_turns", 0) > 0}
        pending = [p for p in all_parts if p not in done]
        # zero-ledgered dates (empty when first seen) are re-checked with
        # ts-range predicates — pushable to the scan, so row groups outside
        # those dates are pruned and the cost is only late-arriving rows.
        # Bounded: only the most recent _MAX_RECHECK_DATES are re-checked
        # each run (late data overwhelmingly lands near the present;
        # ancient always-empty dates would otherwise accrete an unbounded
        # OR predicate and a scan job on every no-op resume forever).
        zero_dates = sorted(done - nonzero_done)[-_MAX_RECHECK_DATES:]
        if zero_dates:
            cond = None
            for d in zero_dates:
                d0 = _dt.date.fromisoformat(d)
                c = (F.col("ts") >= F.lit(d0)) & (
                    F.col("ts") < F.lit(d0 + _dt.timedelta(days=1))
                )
                cond = c if cond is None else (cond | c)
            refreshed = [
                str(r[0])
                for r in df.filter(cond).select("part_date").distinct().collect()
            ]
            pending = sorted(set(pending) | set(refreshed))
        if batch_days is not None:
            pending = pending[:batch_days]
        if not pending:
            # still honor an interval switch: backfill this granularity's
            # partials from completed partitions before returning
            if self._sync_partials(spark, time_interval, nonzero_done):
                self._write_stats(
                    spark, combine_rule_partials(self._partials_dir(time_interval))
                )
            return {"processed_partitions": 0, "skipped_partitions": len(done),
                    "n_turns": 0, "n_keep": 0, "n_null_ts": n_null_ts}

        t0 = time.perf_counter()
        subset = df.filter(F.col("part_date").isin(pending))
        # one wave of Python-UDF tasks: every Arrow task pays a fixed
        # worker cost (~0.2 s) whatever it computes, so a scan narrower
        # than the cores is spread over exactly one task per core; a wider
        # scan (production: thousands of splits) is left as it is
        parallelism = spark.sparkContext.defaultParallelism
        if subset.rdd.getNumPartitions() < parallelism:
            subset = subset.repartition(parallelism)
        result = run_quality_pipeline(subset, thresholds)
        out = result.select(
            *OUTPUT_COLUMNS,
            # materialized so stats/ledger aggregations read a 4-byte
            # column instead of re-scanning the scrubbed text bytes
            F.length("text_scrubbed").alias("n_chars_scrubbed"),
            "part_date",
        )

        # one pass writes the combined per-turn artifact (labels + scrub);
        # dynamic partition overwrite keeps partition re-runs idempotent.
        # repartition by part_date so each date directory gets one writer
        # (no small-files explosion: tasks × dates files otherwise).
        written = self._write_turns(out.repartition("part_date"), pending)

        # every per-date fact of THIS batch comes from one aggregation over
        # the WRITTEN output (never the raw input), collected once — the
        # only Spark action after the write: the combinable partials
        # (counts + flag sums per (part_date, bucket)) and each date's
        # totals with its exact distinct-conversation count and per-rule
        # failure counts. The partials are committed date by date, so a
        # partition re-run is idempotent;
        # the stats artifact is then folded from the partials tree alone —
        # O(#partitions × #buckets) rows, never a re-read of the
        # accumulated table — and converges to exactly what an
        # uninterrupted run would produce.
        totals = self._write_partials(written, time_interval).to_pylist()
        # partials are keyed by bucket granularity: a run with a NEW
        # time_interval starts a fresh partials tree, and partitions
        # completed under a different interval are backfilled ONCE (a scan
        # bounded to those partitions) instead of silently mixing
        # granularities in one artifact
        self._sync_partials(spark, time_interval, nonzero_done)
        self._write_stats(spark, combine_rule_partials(self._partials_dir(time_interval)))
        # scrubbed_chars_sum is NULL for a date whose scrubbed texts are
        # all NULL
        by_date = {
            str(r["part_date"]): {
                "n_turns": r["n_turns"],
                "n_keep": r["keep_sum"],
                "n_convs": r["n_convs"],
                "scrubbed_chars": r["scrubbed_chars_sum"] or 0,
            }
            for r in totals
        }
        wall = time.perf_counter() - t0
        # EVERY selected pending date is ledgered — empty ones with zeros —
        # so a batch_days-limited run always makes progress (an un-ledgered
        # empty date would be re-selected forever). Zero entries are
        # re-checked cheaply at the top of each run and reprocessed when
        # their data arrives late, so backfill still works.
        empty = dict.fromkeys(("n_turns", "n_keep", "n_convs", "scrubbed_chars"), 0)
        batch_entries = [
            {
                "part_date": part,
                **by_date.get(part, empty),
                "run_wall_sec": round(wall, 3),
                "thresholds": thresholds.__dict__ | {
                    "allowed_langs": list(thresholds.allowed_langs)
                },
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            for part in pending
        ]
        for entry in batch_entries:
            self._write_ledger_entry(entry)
        self._write_lineage(spark, batch_entries)

        return {
            "processed_partitions": len(pending),
            "skipped_partitions": len(done),
            "n_turns": sum(e["n_turns"] for e in batch_entries),
            "n_keep": sum(e["n_keep"] for e in batch_entries),
            "n_null_ts": n_null_ts,
            "wall_sec": round(wall, 3),
            # drop-reason attribution for THIS batch, from the facts'
            # per-date totals (not derivable from the ledger, which keeps
            # counts only); a date whose flags are all NULL sums to NULL
            "rule_failures": {
                r: sum(t[f"{r}_fail"] or 0 for t in totals) for r in RULE_NAMES
            },
        }

    def _write_turns(self, out: DataFrame, pending: list[str]) -> DataFrame:
        """Commit one batch of partitions (dynamic overwrite: idempotent
        re-runs); return the ``pending`` dates read back with ``out``'s
        schema (no inference)."""
        spark = out.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        out.write.mode("overwrite").partitionBy("part_date").parquet(
            self.turns_dir
        )
        return (spark.read.schema(out.schema).parquet(self.turns_dir)
                .filter(F.col("part_date").isin(pending)))

    def _write_stats(self, spark: SparkSession, stats: pd.DataFrame) -> None:
        """Publish the combined interval-stats artifact, one file swapped in
        by the driver (full refresh — metadata-sized: #buckets rows)."""
        _replace_dir(pa.Table.from_pandas(stats, preserve_index=False), self.stats_dir)

    def _write_lineage(self, spark: SparkSession, entries: list[dict]) -> None:
        """Hook for a queryable lineage artifact; the per-date JSON
        ledger written above is the base sink's (driver-local) record."""

    def read_turns(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.turns_dir)

    def _read_dates(self, spark: SparkSession, dates: list[str]) -> DataFrame:
        """The turns of ``dates`` only (partition pruning by directory)."""
        return self.read_turns(spark).filter(F.col("part_date").isin(dates))

    def read_stats(
        self, spark: SparkSession, time_interval: str | None = None
    ) -> DataFrame:
        """Combined interval stats at one granularity, folded from the
        per-partition partials (equivalent to per-interval rates over the
        whole written table, without scanning it). Without
        ``time_interval``, the sink's one partials tree is read: none gives
        an empty frame, several raise ``ValueError``."""
        if time_interval is None:
            root = self.stats_partials_dir
            trees = sorted(os.listdir(root)) if os.path.isdir(root) else []
            if len(trees) > 1:
                raise ValueError(f"stats partials hold intervals {trees}; pass one")
            time_interval = (trees or ["1d"])[0]
        return spark.createDataFrame(
            combine_rule_partials(self._partials_dir(time_interval)), RULE_STATS_SCHEMA
        )


class IcebergQualitySink(QualitySink):
    """QualitySink whose per-turn fact table is a REAL Iceberg v2 table
    (north_rule: "writes keep/drop flags … to Iceberg"), committed via
    the jar-less metadata writer (:mod:`..sources.iceberg_lite`) with
    dynamic partition overwrite: each batch's ``part_date`` partitions
    replace their prior files in a new snapshot, untouched partitions
    carry forward, so a partition re-run after a mid-write crash is
    idempotent AND every batch is a time-travelable snapshot (the
    audit/time-travel story the plain hive layout can't give). On a real
    cluster the same class runs against the Iceberg runtime jar by
    swapping the two methods below for ``writeTo().overwritePartitions()``
    / ``spark.read.format("iceberg")`` — the run()/ledger/stats logic is
    identical.

    The stats partials stay driver-written parquet: they are
    metadata-sized derived artifacts (#dates × #buckets rows), not the
    10^12-row fact table.

    Scale note: ``read_iceberg`` plans one parquet scan over the listed
    files and restores ``part_date`` from a literal map keyed by file
    path, so a filter on ``part_date`` after the read prunes nothing. The
    per-batch read-back (``_write_turns``) and the interval-switch
    backfill (``_sync_partials``) prune to their dates in the manifests,
    so what they list grows with the batch, not with the table's history.
    The map literal grows with the file count of the read; past some
    thousands of files a broadcast join on the path would replace it.
    """

    def _write_turns(self, out: DataFrame, pending: list[str]) -> DataFrame:
        """Commit one batch as a snapshot; read back only the ``pending``
        partitions, so the read lists the batch's files whatever the
        table's history."""
        from ..sources.iceberg_lite import write_iceberg as _wi

        self._last_turns_snapshot = _wi(
            out, self.turns_dir, partition_by=["part_date"],
            mode="overwrite_partitions",
        )
        return self._read_dates(out.sparkSession, pending)

    def _read_dates(self, spark: SparkSession, dates: list[str]) -> DataFrame:
        """The turns of ``dates`` only, pruned in the manifests (values are
        epoch days): a filter on ``part_date`` after the read would prune
        no files."""
        from ..sources.iceberg_lite import read_iceberg as _ri

        epoch = _dt.date(1970, 1, 1)
        days = {(_dt.date.fromisoformat(d) - epoch).days for d in dates}
        return _ri(spark, self.turns_dir,
                   partition_filter={"part_date": lambda v: v in days})

    def read_turns(self, spark: SparkSession) -> DataFrame:
        from ..sources.iceberg_lite import read_iceberg as _ri

        return _ri(spark, self.turns_dir)

    def _write_stats(self, spark: SparkSession, stats: pd.DataFrame) -> None:
        """The combined interval stats are an Iceberg table too (north
        rule: "writes ... per-rule quality statistics aggregated by
        groupBy over time intervals ... to Iceberg"): full-refresh
        overwrite per batch, so every batch's stats state is a
        time-travelable snapshot."""
        from ..sources.iceberg_lite import write_iceberg as _wi

        _wi(spark.createDataFrame(stats, RULE_STATS_SCHEMA).coalesce(1),
            self.stats_dir, partition_by=[], mode="overwrite")

    def _write_lineage(self, spark: SparkSession, entries: list[dict]) -> None:
        """Per-partition lineage + metrics as an append-only Iceberg
        table at ``<root>/lineage`` — one appended snapshot per batch.
        Each row links a completed ``part_date`` to the exact turns-table
        snapshot that committed it (``turns_snapshot_id``), so an auditor
        can time-travel the fact table to the state any metric row
        describes. The JSON ledger stays the driver-local resume index;
        this table is the queryable record."""
        if not entries:
            return
        import json as _json

        from ..sources.iceberg_lite import write_iceberg as _wi

        snap = getattr(self, "_last_turns_snapshot", None)
        rows = [
            (
                e["part_date"],
                int(e["n_turns"]),
                int(e["n_keep"]),
                int(e["n_convs"]),
                int(e["scrubbed_chars"]),
                float(e["run_wall_sec"]),
                _json.dumps(e["thresholds"], sort_keys=True),
                e["completed_at"],
                snap,
            )
            for e in entries
        ]
        schema = ("part_date string, n_turns long, n_keep long, n_convs long, "
                  "scrubbed_chars long, run_wall_sec double, thresholds string, "
                  "completed_at string, turns_snapshot_id long")
        # from pandas (Arrow), so the lineage write launches no Python tasks
        names = [c.split()[0] for c in schema.split(", ")]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)
        _wi(df.coalesce(1), self.lineage_dir, partition_by=[], mode="append")

    @property
    def lineage_dir(self) -> str:
        return os.path.join(self.root, "lineage")
