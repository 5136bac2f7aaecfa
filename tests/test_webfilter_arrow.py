"""gopher_repetition_stats_arrow must be integer-exact against the
pure-Catalyst run-length folds it replaces in the hot path."""

from __future__ import annotations

from pyspark.sql import functions as F
from references import _ngrams, _run_stats

from data_quality_automated_evaluator_spark.functions.webfilter import (
    gopher_repetition_stats_arrow,
)


def _frames(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from data_quality_automated_evaluator_spark.entry_queries import (
        _aug_doc_frame,
    )

    return _aug_doc_frame(spark, "/root/testdata/sf0.001")


def test_arrow_stats_match_catalyst_folds(spark):
    d = _frames(spark)
    fold = d.select(
        "doc_id",
        _run_stats(F.col("lines")).alias("ls"),
        *[
            _run_stats(_ngrams(F.col("words"), n)).alias(f"g{n}")
            for n in (2, 3, 4, 5)
        ],
    ).select(
        "doc_id",
        F.col("ls.dup_elems").alias("l_dup_elems"),
        F.col("ls.dup_chars").alias("l_dup_chars"),
        *[
            F.coalesce(
                F.col(f"g{n}.best_cnt") * F.length(F.col(f"g{n}.best_val")),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"top{n}_chars")
            for n in (2, 3, 4)
        ],
        F.col("g5.dup_chars").alias("dup5_chars"),
    )
    arrow = d.select(
        "doc_id",
        gopher_repetition_stats_arrow()(
            F.col("lines"), F.col("words")
        ).alias("st"),
    ).select("doc_id", "st.*")
    f_rows = {r["doc_id"]: tuple(r)[1:] for r in fold.collect()}
    a_rows = {r["doc_id"]: tuple(r)[1:] for r in arrow.collect()}
    assert f_rows == a_rows and len(f_rows) > 0


def test_arrow_stats_edge_rows(spark):
    df = spark.createDataFrame(
        [
            (0, [], []),  # empty doc
            (1, ["a", "a", "a"], ["x"]),  # dup lines, words < any n
            (2, ["l1"], ["w"] * 12),  # heavy gram duplication
            (3, ["l1", "l2"], ["b", "a", "b", "a", "b", "a"]),  # gram ties
        ],
        "doc_id long, lines array<string>, words array<string>",
    )
    fold = df.select(
        "doc_id",
        _run_stats(F.col("lines")).alias("ls"),
        *[
            _run_stats(_ngrams(F.col("words"), n)).alias(f"g{n}")
            for n in (2, 3, 4, 5)
        ],
    ).select(
        "doc_id",
        F.col("ls.dup_elems").alias("l_dup_elems"),
        F.col("ls.dup_chars").alias("l_dup_chars"),
        *[
            F.coalesce(
                F.col(f"g{n}.best_cnt") * F.length(F.col(f"g{n}.best_val")),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"top{n}_chars")
            for n in (2, 3, 4)
        ],
        F.col("g5.dup_chars").alias("dup5_chars"),
    )
    arrow = df.select(
        "doc_id",
        gopher_repetition_stats_arrow()(
            F.col("lines"), F.col("words")
        ).alias("st"),
    ).select("doc_id", "st.*")
    f_rows = {r["doc_id"]: tuple(r)[1:] for r in fold.collect()}
    a_rows = {r["doc_id"]: tuple(r)[1:] for r in arrow.collect()}
    assert f_rows == a_rows
