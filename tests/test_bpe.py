"""Distributed BPE trainer vs the pure-Python reference (golden gate —
the per-round loop is inherently iterative, the documented carve-out
from SQL oracling)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from references import bpe_train_reference

from data_quality_automated_evaluator_spark.operators.bpe import (
    bpe_segment,
    bpe_train,
)

TEXTS = [
    "the cat sat on the mat",
    "the bat and the cat",
    "banana bandana",
    "aaaa aaa aa a",
    "low lower lowest newest widest",
    "Schönes Café déjà vu",  # multi-byte symbols stay whole
] * 3


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame([(t,) for t in TEXTS], "text string")


def test_bpe_matches_reference(corpus):
    merges, vocab = bpe_train(corpus, 12)
    assert merges == bpe_train_reference(TEXTS, 12)
    # the vocab frame stays consistent: total weighted words unchanged
    n = vocab.agg(F.sum("n")).first()[0]
    assert n == len([w for t in TEXTS for w in t.lower().split()])


def test_bpe_odd_run_merge(spark):
    # pair (a,a) over "a a a" merges greedily left-to-right: [aa, a]
    df = spark.createDataFrame([("aaa",)], "text string")
    merges, vocab = bpe_train(df, 1)
    assert merges[0][:2] == ("a", "a")
    assert vocab.first().sym == ["aa", "a"]


def test_bpe_deterministic_tie_break(spark):
    # "ab" and "cd" each count 1: lexicographically smallest pair wins
    df = spark.createDataFrame([("ab cd",)], "text string")
    merges, _ = bpe_train(df, 1)
    assert merges[0][:2] == ("a", "b")


def test_bpe_exhausts_gracefully(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    merges, _ = bpe_train(df, 5)  # only zero mergeable pairs exist
    assert merges == []


def test_bpe_segment_applies_merges(corpus):
    merges, _ = bpe_train(corpus, 10)
    seg = bpe_segment(corpus.limit(1), merges).first()
    assert "".join(seg.tokens).replace(" ", "") == seg.text.lower().replace(
        " ", ""
    )
    assert "the" in seg.tokens  # learned whole-word token
