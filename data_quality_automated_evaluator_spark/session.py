"""SparkSession construction with scale-appropriate defaults.

Local-mode testing uses ``local[N]``; the same builder config is what we
would ship to a multi-executor cluster (AQE on, Arrow on, UTC, sensible
shuffle partitioning). Nothing here is cluster-manager specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "data_quality_automated_evaluator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE enabled: runtime coalescing + skew-join splitting, which is the
      first line of defense against hot-key skew at scale.
    - Arrow enabled: every pandas UDF in this package rides Arrow batches.
    - UTC session timezone: interval bucketing must be timezone-stable.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if cpus else DEFAULT_SHUFFLE_PARTITIONS
        except ValueError:
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # INT64 micros instead of legacy INT96: Iceberg-compatible, and
        # parquet footers then carry min/max stats for timestamp columns —
        # QualitySink.discover_partitions reads those instead of scanning
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no per-call Python call-site capture: with it on, every
        # DataFrame/functions call does an active-session lookup, a conf
        # read, a stack walk and two JVM calls (~1.5k py4j calls to build
        # QualitySink.run's plan). The trade-off: errors keep the JVM
        # message and the Python traceback, but lose the "== DataFrame =="
        # section naming the Python line that built the failing expression
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # pure-Python sweeps favor 2-4k rows/batch (cache residency), but
        # in-Spark A/B shows Arrow IPC overhead cancels the gain — 10k is
        # equal within measurement noise
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # UDF-heavy text workloads want smaller input splits than the 128m
        # default so scan+score tasks are seconds, not minutes, and all
        # cores engage even on modest inputs
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.ui.enabled", "false")
        # keep stdout clean: perfbench's result is ONE parseable JSON
        # line on stdout; progress bars must never interleave with it
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
