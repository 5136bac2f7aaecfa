"""End-to-end quality-filter pipeline over transcripts.

read → per-turn features (map-only) → conversation features (one
shuffle by conv_id) → rules → keep/drop + scrubbed text → outputs:

- ``labels``   (conv_id, turn_idx, keep, <rule flags>)
- ``scrubbed`` (conv_id, turn_idx, text_scrubbed)
- ``stats``    per-interval per-rule pass rates (evaluator core over ts,
  mirroring the reference's interval aggregation — preprocess.py:69)

The pipeline has one wide shuffle (by ``conv_id``); scrub and scoring
UDFs ride one Arrow node before it. ``QualitySink.run`` adds a
round-robin exchange in front when the scan is narrower than the cores
and a ``part_date`` exchange before the partitioned write.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.intervals import truncate_to_interval
from ..functions.scrub import scrub_batch
from .features import with_conversation_features, with_turn_features
from .rules import RULE_NAMES, Thresholds, with_rules

scrub_udf = F.pandas_udf(scrub_batch, returnType=T.StringType())


def run_quality_pipeline(
    df: DataFrame,
    thresholds: Thresholds = Thresholds(),
) -> DataFrame:
    """Full per-turn result frame: input columns + features + rule flags +
    ``keep`` + ``text_scrubbed``. Lazy — callers pick an action/sink.

    Plan shape (explain-verified): ONE ArrowEvalPython node evaluates
    langid + perplexity + scrub together on the scan side, raw ``text``
    is projected away before the conversation window shuffle (halves the
    shuffle payload — scrubbed text replaces it), and everything after
    the Exchange is pure JVM (window functions + boolean rules).
    """
    df = with_turn_features(df)
    df = df.withColumn("text_scrubbed", scrub_udf(F.col("text"))).drop("text")
    df = with_conversation_features(df)
    return with_rules(df, thresholds)


def labels_frame(result: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, keep, rule flags) — the F1-checked artifact."""
    return result.select("conv_id", "turn_idx", "keep", *RULE_NAMES)


def interval_rule_facts(
    result: DataFrame, time_interval: str = "1d"
) -> DataFrame:
    """Combinable per-(partition, interval) partial aggregates and per-date
    totals in ONE aggregation, ``rollup(part_date, bucket)``, collected once.

    Rows with ``level`` 0 are the partials: counts and flag SUMS instead
    of rates, so stats over an ever-growing table stay incremental — each
    batch aggregates only its own partitions, the sink's driver writes them
    one file per date, and :func:`combine_rule_partials` folds them into
    the per-interval rates (``keep_rate``, ``<rule>_pass_rate``) an ``avg``
    over the full table would compute.
    The two differ where a flag is NULL: conversation features are computed
    per batch, so a conversation whose turn 0 fell in an earlier batch gets
    NULL conversation flags (and a NULL ``keep``). ``sum / n_turns`` then
    counts the NULL as a failure, while ``avg`` skips it. ``level`` 1
    rows total one ``part_date`` and carry its exact distinct-conversation
    count ``n_convs`` (a conversation spanning several buckets counts
    once, so per-bucket counts do not add up to it) and its per-rule
    failure counts ``<rule>_fail`` (``sum(NOT flag)``, so a NULL flag is
    no failure); ``level`` 3 is the grand total. Metadata-sized:
    #dates × #buckets rows.

    ``result`` must carry ``part_date`` (the sink's partition column).
    """
    bucket = truncate_to_interval(F.col("ts"), time_interval).alias("__time_interval")
    # scrubbed length: the sink materializes it as a tiny int column at
    # write time so stats/ledger jobs never re-read the text column
    # (dominant bytes of the written table); backfill over pre-upgrade
    # partitions falls back to measuring the string
    length_col = (
        F.col("n_chars_scrubbed")
        if "n_chars_scrubbed" in result.columns
        else F.length("text_scrubbed")
    )
    aggs = [F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("keep").cast("long")).alias("keep_sum"),
            F.sum(length_col.cast("long")).alias("scrubbed_chars_sum")]
    for r in RULE_NAMES:
        aggs.append(F.sum(F.col(r).cast("long")).alias(f"{r}_sum"))
    return result.rollup("part_date", bucket).agg(
        *aggs,
        *(F.sum((~F.col(r)).cast("long")).alias(f"{r}_fail") for r in RULE_NAMES),
        F.countDistinct("conv_id").alias("n_convs"),
        F.grouping_id().alias("level"),
    )


# the per-interval rate columns, as combine_rule_partials returns them
RATE_COLUMNS = ["keep_rate", *(f"{r}_pass_rate" for r in RULE_NAMES)]
RULE_STATS_SCHEMA = ", ".join(
    ["__time_interval timestamp", "n_turns bigint", *(f"{c} double" for c in RATE_COLUMNS)])


def combine_rule_partials(partials_dir: str) -> pd.DataFrame:
    """Fold a stored partials tree (read with ``pyarrow.dataset``) into
    :data:`RULE_STATS_SCHEMA` rows in pandas on the driver: int64 sums,
    float64 rates (Spark's ``cast(sum as double) / count``), time order.
    Metadata-sized input; this never touches the written fact table."""
    sums = ["n_turns", "keep_sum", *(f"{r}_sum" for r in RULE_NAMES)]
    schema = pa.schema([("__time_interval", pa.timestamp("us", tz="UTC")),
                        *((c, pa.int64()) for c in sums)])
    table = (ds.dataset(partials_dir, schema=schema, partitioning="hive").to_table()
             if os.path.isdir(partials_dir) else schema.empty_table())
    g = table.to_pandas().groupby("__time_interval", sort=True)[sums].sum()
    n = g.pop("n_turns")
    rates = g.astype("float64").div(n, axis=0).set_axis(RATE_COLUMNS, axis=1)
    return pd.concat([n, rates], axis=1).reset_index()
