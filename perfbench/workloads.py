"""The three closed-loop workloads: set-up, one timed operation, its output
check, and the traced per-layer split.

Each timed operation is one call into the package's public API. A
workload's ``op`` returns (wall seconds of that call, input rows it
processed, whether its output passed the check); work around the call
(copying a day file in, removing an old output root) is not timed.
``nominal_op_s`` is an operation's rough wall time at ``local[4]``, from
which a run sizes its count of timed operations; ``warmup_ops`` untimed
operations run between the cold one and the timed ones, while the JVM is
still getting markedly faster.
"""

from __future__ import annotations

import os
import re
import shutil

import inputs
from host import WORK, timed

RUN = os.path.join(WORK, "run")


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe(spark, name: str, fn, *args) -> tuple:
    """(result, wall seconds) of one probe step, tagged for the event log."""
    spark.sparkContext.setJobDescription(f"perfbench probe {name}")
    return timed(fn, *args)


def _summary_ok(summary: dict, expect: dict, n_parts: int) -> bool:
    return (summary["processed_partitions"] == n_parts
            and summary["n_turns"] == expect["n_turns"]
            and summary["n_keep"] == expect["n_keep"]
            and summary["rule_failures"] == expect["rule_failures"])


def transcript_layers(spark, df, pending: list[str]) -> dict[str, float]:
    """Prefix-plan probe of ``QualitySink.run``'s pipeline over the
    ``pending`` dates of ``df``: no-op writes of successively longer plan
    prefixes. langid, perplexity and scrub share one ArrowEvalPython
    node, so each UDF's figure is its marginal cost."""
    from pyspark.sql import functions as F

    from data_quality_automated_evaluator_spark.functions.textstats import with_text_features
    from data_quality_automated_evaluator_spark.pipeline.features import (
        langid_udf,
        perplexity_udf,
    )
    from data_quality_automated_evaluator_spark.pipeline.quality import (
        run_quality_pipeline,
        scrub_udf,
    )
    from data_quality_automated_evaluator_spark.pipeline.sinks import OUTPUT_COLUMNS

    # the input QualitySink.run hands to the pipeline: pending dates only,
    # spread over four tasks per core
    subset = df.withColumn("part_date", F.to_date("ts")).filter(F.col("part_date").isin(pending))
    parallelism = spark.sparkContext.defaultParallelism * 4
    if subset.rdd.getNumPartitions() < parallelism:
        subset = subset.repartition(parallelism)
    text = subset.transform(with_text_features)
    lang = text.withColumn("lang", langid_udf(F.col("text")))
    ppl = lang.withColumn("ppl", perplexity_udf(F.col("text")))
    scrub = ppl.withColumn("text_scrubbed", scrub_udf(F.col("text"))).drop("text")
    full = run_quality_pipeline(subset).select(
        *OUTPUT_COLUMNS, F.length("text_scrubbed").alias("n_chars_scrubbed"), "part_date")
    prefixes = {"scan": subset, "textstats": text, "langid": lang,
                "perplexity": ppl, "scrub": scrub, "conv_window": full}
    t = {k: _probe(spark, k, _noop_write, p)[1] for k, p in prefixes.items()}
    names = list(prefixes)
    out = {f"layer.{names[0]}_s": t[names[0]]}
    for prev, name in zip(names, names[1:]):
        out[f"layer.{name}_s"] = t[name] - t[prev]
    out["layer.pipeline_s"] = t["conv_window"]
    return out


def _sink_bookkeeping_layers(spark, df, sink, part_date: str) -> dict[str, float]:
    """Discovery over the input and the turns read path the sink's
    bookkeeping uses (``read_turns`` plus a one-date count)."""
    from pyspark.sql import functions as F

    def read_turns():
        return sink.read_turns(spark).filter(F.col("part_date") == part_date).count()

    return {"layer.discover_s": _probe(spark, "discover", sink.discover_partitions, df)[1],
            "layer.read_turns_s": _probe(spark, "read_turns", read_turns)[1]}


class Backfill:
    """One ``QualitySink.run`` (parquet layout) into a fresh output root
    over the whole transcripts table."""

    name = "backfill"
    nominal_op_s = 5.0
    warmup_ops = 2

    def __init__(self, seed: int, scale: float):
        # ~3k turns per date, as in a 250k-turn, 90-day table
        self.path, self.expect = inputs.backfill_input(seed, max(500, int(12_000 * scale)), 4)
        self.dir = os.path.join(RUN, self.name)
        self.root = None

    def setup(self, spark) -> bool:
        shutil.rmtree(self.dir, ignore_errors=True)
        return self.op(spark, 0)[2]

    def has_next(self) -> bool:
        return True

    def op(self, spark, i: int) -> tuple[float, int, bool]:
        from data_quality_automated_evaluator_spark.pipeline.sinks import QualitySink

        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.dir, f"out-{i}")
        summary, secs = timed(lambda: QualitySink(self.root).run(spark.read.parquet(self.path)))
        return secs, summary["n_turns"], _summary_ok(summary, self.expect, self.expect["n_dates"])

    def layers(self, spark, op_s: float) -> dict[str, float]:
        from data_quality_automated_evaluator_spark.pipeline.sinks import QualitySink

        sink = QualitySink(self.root)
        df = spark.read.parquet(self.path)
        pending = sink.discover_partitions(df)
        out = transcript_layers(spark, df, pending)
        out["layer.sink_s"] = op_s - out["layer.pipeline_s"]
        return out | _sink_bookkeeping_layers(spark, df, sink, pending[len(pending) // 2])


class Daily:
    """An ``IcebergQualitySink`` whose history is committed in set-up;
    each operation lands one more day file in the input directory and
    calls ``run``."""

    name = "daily"
    nominal_op_s = 20.0
    warmup_ops = 0
    HISTORY_DAYS = 24
    NEW_DAYS = 12

    def __init__(self, seed: int, scale: float):
        self.files, self.expect = inputs.daily_input(
            seed, max(20, int(2000 * scale)), self.HISTORY_DAYS + self.NEW_DAYS)
        self.history_expect = inputs.history_oracle(self.files[:self.HISTORY_DAYS])
        self.dir = os.path.join(RUN, self.name)
        self.in_dir = os.path.join(self.dir, "in")
        self.next_day = self.HISTORY_DAYS

    def _sink(self):
        from data_quality_automated_evaluator_spark.pipeline.sinks import IcebergQualitySink

        return IcebergQualitySink(os.path.join(self.dir, "out"))

    def setup(self, spark) -> bool:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.in_dir)
        for f in self.files[:self.HISTORY_DAYS]:
            shutil.copy(f, self.in_dir)
        self.next_day = self.HISTORY_DAYS
        summary = self._sink().run(spark.read.parquet(self.in_dir))
        return _summary_ok(summary, self.history_expect, self.HISTORY_DAYS)

    def has_next(self) -> bool:
        return self.next_day < len(self.files)

    def op(self, spark, i: int) -> tuple[float, int, bool]:
        day = self.next_day
        shutil.copy(self.files[day], self.in_dir)
        self.next_day += 1
        sink = self._sink()
        summary, secs = timed(lambda: sink.run(spark.read.parquet(self.in_dir)))
        return secs, summary["n_turns"], _summary_ok(summary, self.expect[day], 1)

    def layers(self, spark, op_s: float) -> dict[str, float]:
        sink = self._sink()
        df = spark.read.parquet(self.in_dir)
        last = sink.discover_partitions(df)[-1]
        out = transcript_layers(spark, df, [last])
        out["layer.sink_s"] = op_s - out["layer.pipeline_s"]
        return out | _sink_bookkeeping_layers(spark, df, sink, last)


class Evaluator:
    """``app.run_evaluator`` with a filter, a transform and 1h intervals
    over an events table (the paper's own pipeline)."""

    name = "evaluator"
    nominal_op_s = 5.0
    warmup_ops = 2

    def __init__(self, seed: int, scale: float):
        self.path, self.expect = inputs.events_input(seed, max(1000, int(50_000 * scale)))
        self.dir = os.path.join(RUN, self.name)
        self.config = {
            "source": {"file_path": self.path, "file_format": "parquet"},
            "filter": inputs.EVENT_FILTER,
            "transformations": {
                "target_column": "CASE WHEN event_type = 'error' THEN 1 ELSE 0 END"},
            "date_column": "ts",
            "time_interval": "1h",
            "columns_to_exclude": ["event_id", "props"],
            "markdown": {"float_precision": 6},
            "report_path": os.path.join(self.dir, "REPORT.md"),
        }

    def setup(self, spark) -> bool:
        shutil.rmtree(self.dir, ignore_errors=True)
        return self.op(spark, 0)[2]

    def has_next(self) -> bool:
        return True

    def op(self, spark, i: int) -> tuple[float, int, bool]:
        from data_quality_automated_evaluator_spark.app import run_evaluator

        out, secs = timed(run_evaluator, spark, self.config)
        return secs, self.expect["n_rows"], out is not None and self._report_ok(out)

    def _report_ok(self, path: str) -> bool:
        """One row per interval, and the per-interval counts sum to the
        filtered input: the overview's mean row count times the interval
        count."""
        with open(path) as fh:
            md = fh.read()
        n = re.search(r"^_(\d+) time intervals", md, re.M)
        mean = re.search(r"^## Overview\n.*?^\| Mean ± Std \| ([\d,.]+) ±", md, re.M | re.S)
        if not (n and mean):
            return False
        n_intervals = int(n.group(1))
        total = float(mean.group(1).replace(",", "")) * n_intervals
        return (n_intervals == self.expect["n_intervals"]
                and round(total) == self.expect["n_filtered"])

    def layers(self, spark, op_s: float) -> dict[str, float]:
        """Spans around the four calls ``run_evaluator`` makes."""
        from data_quality_automated_evaluator_spark.operators.preprocess import make_preprocessing
        from data_quality_automated_evaluator_spark.report import make_report
        from data_quality_automated_evaluator_spark.sources.readers import read_source

        df, read_s = _probe(spark, "read", read_source, spark, self.config["source"])
        res, preprocess_s = _probe(spark, "preprocess", make_preprocessing, df, self.config)
        agg, collect_s = _probe(spark, "collect", res.aggregate.toPandas)
        _, report_s = _probe(spark, "report", lambda: make_report(
            agg, res.metadata, self.config, output_path=self.config["report_path"]))
        return {"layer.read_s": read_s, "layer.preprocess_s": preprocess_s,
                "layer.collect_s": collect_s, "layer.report_s": report_s}


WORKLOADS = {w.name: w for w in (Backfill, Daily, Evaluator)}
