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

import pandas as pd
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
    keep_text: bool = False,
) -> DataFrame:
    """Full per-turn result frame: input columns + features + rule flags +
    ``keep`` + ``text_scrubbed``. Lazy — callers pick an action/sink.

    Plan shape (explain-verified): ONE ArrowEvalPython node evaluates
    langid + perplexity + scrub together on the scan side, raw ``text``
    is projected away before the conversation window shuffle (halves the
    shuffle payload — scrubbed text replaces it), and everything after
    the Exchange is pure JVM (window functions + boolean rules).
    Set ``keep_text=True`` to retain the raw text column (costs shuffle
    bytes; only for debugging/diff tooling).
    """
    df = with_turn_features(df)
    df = df.withColumn("text_scrubbed", scrub_udf(F.col("text")))
    if not keep_text:
        df = df.drop("text")
    df = with_conversation_features(df)
    return with_rules(df, thresholds)


def labels_frame(result: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, keep, rule flags) — the F1-checked artifact."""
    return result.select("conv_id", "turn_idx", "keep", *RULE_NAMES)


def scrubbed_frame(result: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, text_scrubbed) — the byte-exact artifact."""
    return result.select("conv_id", "turn_idx", "text_scrubbed")


def interval_rule_stats(
    result: DataFrame, time_interval: str = "1d"
) -> DataFrame:
    """Per-interval per-rule pass rates + keep rate (evaluator-core
    interval aggregation applied to the rule columns).

    One HashAggregate pass; output cardinality = #intervals — tiny.
    """
    bucket = truncate_to_interval(F.col("ts"), time_interval).alias("__time_interval")
    aggs = [F.count(F.lit(1)).alias("n_turns"), F.avg(F.col("keep").cast("double")).alias("keep_rate")]
    for r in RULE_NAMES:
        aggs.append(F.avg(F.col(r).cast("double")).alias(f"{r}_pass_rate"))
    return result.groupBy(bucket).agg(*aggs).orderBy("__time_interval")


def interval_rule_facts(
    result: DataFrame, time_interval: str = "1d"
) -> DataFrame:
    """Combinable per-(partition, interval) partial aggregates and per-date
    totals in ONE aggregation, ``rollup(part_date, bucket)``.

    Rows with ``level`` 0 are the partials: counts and flag SUMS instead
    of rates, so stats over an ever-growing table stay incremental — each
    batch aggregates only its own partitions, and
    :func:`combine_rule_partials` folds all stored partials into the same
    rates :func:`interval_rule_stats` would compute over the full table
    (rule flags are non-null, so sum/count == avg exactly). ``level`` 1
    rows total one ``part_date`` and carry its exact distinct-conversation
    count ``n_convs`` (a conversation spanning several buckets counts
    once, so per-bucket counts do not add up to it); ``level`` 3 is the
    grand total. Metadata-sized: #dates × #buckets rows.

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
        F.countDistinct("conv_id").alias("n_convs"),
        F.grouping_id().alias("level"),
    )


def combine_rule_partials(partials: DataFrame) -> DataFrame:
    """Fold stored partials into the interval_rule_stats schema.

    Input cardinality is #partitions × #buckets — metadata-sized; this
    never touches the written fact table.
    """
    n = F.sum("n_turns")
    aggs = [n.alias("n_turns"),
            (F.sum("keep_sum").cast("double") / n).alias("keep_rate")]
    for r in RULE_NAMES:
        aggs.append((F.sum(f"{r}_sum").cast("double") / n).alias(f"{r}_pass_rate"))
    return partials.groupBy("__time_interval").agg(*aggs).orderBy("__time_interval")
