"""Unit tests for DSIR importance weights, char-entropy stats, and
classifier ROC-AUC (the sf0.01 oracle parity runs live in
test_entry_oracle.py; these pin the math on hand-checkable inputs)."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.functions.classifier import auc_stats
from data_quality_automated_evaluator_spark.functions.infotheory import (
    char_entropy_stats,
)
from data_quality_automated_evaluator_spark.operators.dsir import dsir_weights


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, None)],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in char_entropy_stats(df).collect()
    }
    assert out[1]["entropy_bits"] == 0.0 and out[1]["low_entropy"]
    assert out[2]["entropy_bits"] == 1.0
    assert out[3]["entropy_bits"] == 2.0
    assert out[3]["n_distinct_chars"] == 4
    # "abab" -> words ["abab"] -> ttr 1.0; None text -> null stats
    assert out[2]["type_token_ratio"] == 1.0
    assert out[4]["n_chars"] is None


def test_dsir_weights_separate_target_from_raw(spark):
    # target rows share a vocabulary; raw rows use a disjoint one, so
    # target-vocab docs must score strictly higher
    rows = [(i, "en", "alpha beta gamma alpha beta") for i in range(8)]
    rows += [(i + 8, "xx", "delta epsilon zeta delta epsilon") for i in range(8)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = dsir_weights(df, F.col("lang") == "en", n_buckets=512).toPandas()
    assert len(out) == 16
    # unigrams (5) + bigrams (4) per doc
    assert set(out["n_feats"]) == {9}
    tgt = out[out.doc_id < 8].logw
    raw = out[out.doc_id >= 8].logw
    assert tgt.min() > raw.max()
    # all target docs identical text -> identical weight (determinism)
    assert tgt.nunique() == 1


def test_auc_matches_rank_formula(spark):
    # deliberately noisy scorer: token-count-driven labels, symbol-ratio
    # perturbed scores -> some misrankings and ties
    texts = [
        ("w " * n + "!" * (i % 7)).strip() for i, n in enumerate(
            [10, 20, 45, 49, 50, 51, 55, 60, 90, 120, 30, 70] * 4
        )
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    w = [0.0, 4.0, 0.0, -3.0]
    got = auc_stats(df, w).collect()[0]

    # pandas reference: tie-corrected Mann-Whitney over the same bins
    def feats(t):
        toks = [x for x in t.split() if x]
        x1 = min(len(t), 2000) / 1000.0 - 0.3
        x2 = len(toks) / 100.0 - 0.5
        import re

        x3 = (len(t) - len(re.sub(r"[^a-z0-9 ]", "", t))) / (len(t) + 1.0)
        s = 1.0 / (1.0 + math.exp(-(w[0] + w[1] * x1 + w[2] * x2 + w[3] * x3)))
        y = 1.0 if len(toks) >= 50 else 0.0
        return round(s, 4), y

    ref = pd.DataFrame([feats(t) for t in texts], columns=["s", "y"])
    g = ref.groupby("s").agg(
        pos=("y", lambda v: int((v == 1.0).sum())),
        neg=("y", lambda v: int((v == 0.0).sum())),
    ).sort_index()
    cumneg = g.neg.cumsum().shift(fill_value=0)
    u2 = int((g.pos * (2 * cumneg + g.neg)).sum())
    P, N = int(g.pos.sum()), int(g.neg.sum())
    assert got["n_pos"] == P and got["n_neg"] == N
    assert got["auc"] == round(u2 / (2.0 * P * N), 6)
    assert 0.0 < got["auc"] < 1.0


def test_dsir_select_prefers_target_and_is_deterministic(spark):
    rows = [(i, "en", "alpha beta gamma delta eps zeta") for i in range(20)]
    rows += [(i + 20, "xx", "uno dos tres cuatro cinco seis") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    from data_quality_automated_evaluator_spark.operators.dsir import dsir_select

    sel = dsir_select(df, F.col("lang") == "en", k=10, n_buckets=512)
    a = sorted(r["doc_id"] for r in sel.collect())
    b = sorted(r["doc_id"] for r in sel.collect())
    assert a == b and len(a) == 10
    # Gumbel noise is ~[-2, 7] while the two vocabularies are fully
    # separated in logw; the majority of the keep-set must be target
    n_tgt = sum(1 for i in a if i < 20)
    assert n_tgt >= 7


def test_calibration_curve_bins_and_rates(spark):
    from data_quality_automated_evaluator_spark.functions.classifier import (
        calibration_curve,
    )

    texts = [("w " * n).strip() for n in [5, 10, 45, 50, 55, 100, 150, 200]]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    out = calibration_curve(df, [0.0, 4.0, 0.0, -3.0]).collect()
    assert sum(r["n"] for r in out) == len(texts)
    for r in out:
        assert 0 <= r["bin"] <= 9
        assert 0.0 <= r["keep_rate"] <= 1.0
        # mean predicted score must land inside its own bin's edges
        assert r["bin"] / 10.0 - 1e-9 <= r["mean_score"] <= (r["bin"] + 1) / 10.0 + 0.1


def _bucket_col(feat, n_buckets: int):
    """The Catalyst fold the Arrow bucket UDF must equal: a polynomial
    hash over code points; ASCII-only by construction ([a-z0-9 ]
    survives the split), so ascii()/unicode() agree."""
    from data_quality_automated_evaluator_spark.operators.dsir import _MOD, _SEED

    h = F.aggregate(
        F.split(feat, ""),
        F.lit(_SEED).cast("bigint"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % _MOD,
    )
    return (h % n_buckets).cast("int")


def test_bucket_udf_matches_catalyst_fold(spark):
    from data_quality_automated_evaluator_spark.operators.dsir import (
        _bucket_udf,
        _feats_col,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    fold = docs.select(
        "doc_id", F.explode(_feats_col("text")).alias("f")
    ).select("doc_id", _bucket_col(F.col("f"), 2048).alias("b"))
    arrow = docs.select(
        "doc_id", F.explode(_bucket_udf(2048)(_feats_col("text"))).alias("b")
    )
    f = sorted((r["doc_id"], r["b"]) for r in fold.collect())
    a = sorted((r["doc_id"], r["b"]) for r in arrow.collect())
    assert f == a and len(f) > 0
