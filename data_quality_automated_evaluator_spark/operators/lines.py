"""Line-level boilerplate removal across documents (C4-style cleaning).

Web/transcript corpora repeat exact lines across documents (headers,
footers, nav text, "subscribe" calls); the standard cleaning pass drops
any line occurring in ≥ ``min_docs`` distinct documents while
preserving the remaining lines' order.

Scale shape (10^12 docs):

- lines travel as ``xxhash64`` keys into the frequency aggregation —
  partial (map-side) count-distinct-ish aggregation absorbs the hot
  keys (the boilerplate lines themselves are the most frequent, i.e.
  the skew IS the signal; two-phase aggregation spreads it);
- the boilerplate set is tiny relative to the corpus (that's what makes
  it boilerplate) — the filter join is AQE-broadcastable;
- document reassembly is one shuffle by doc id with order restored from
  the captured line position (``array_sort`` on (pos, line) structs),
  group size bounded by document length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dedup_lines_within_doc",
    "remove_boilerplate_lines",
]


def _lines(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )


def dedup_lines_within_doc(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "text_clean",
) -> DataFrame:
    """Keep only the FIRST occurrence of each exact line within a
    document (repeated-paragraph collapse — generation loops and
    templated transcripts repeat blocks verbatim). One shuffle by doc
    id; the dedup window partitions on (doc, line), bounded by document
    length, so no corpus-level hot key can form."""
    from pyspark.sql import Window

    lines = _lines(docs, text_col, id_col)
    w = Window.partitionBy("_id", "line").orderBy("pos")
    kept = (
        lines.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(out_col)
    )
    # one row per input doc even for NULL text (split(NULL) explodes to
    # zero lines) — same restore-join contract as remove_boilerplate_lines
    base = docs.select(F.col(id_col).alias("_id"))
    return (
        base.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(out_col, F.lit("")).alias(out_col),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_chars: int = 1,
    out_col: str = "text_clean",
) -> DataFrame:
    """Strip lines appearing in ≥ ``min_docs`` distinct docs; returns
    one row per input doc with ``out_col`` (line order preserved; a doc
    whose every line is boilerplate yields an empty string). Lines
    shorter than ``min_line_chars`` are never treated as boilerplate."""
    # one shared definition of the exploded frame, branched into the
    # frequency aggregation and the keep filter. Spark still EXECUTES
    # the map-only explode once per branch (no caching) — deliberately:
    # persisting an exploded 100 TB corpus costs far more than
    # recomputing a codegen'd split, and the frequency branch prunes to
    # (id, line) while this branch carries (id, pos, line)
    lines = _lines(docs, text_col, id_col)
    boiler = (
        lines.filter(F.length("line") >= min_line_chars)
        .groupBy("line")
        .agg(F.count_distinct("_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select(F.xxhash64("line").alias("_bh"))
    )
    kept = (
        lines.withColumn("_h", F.xxhash64("line"))
        .join(boiler, F.col("_h") == F.col("_bh"), "left_anti")
    )
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias(out_col)
    )
    base = docs.select(F.col(id_col).alias("_id"))
    return (
        base.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(out_col, F.lit("")).alias(out_col),
        )
    )
