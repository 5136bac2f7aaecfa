"""Distributed BPE tokenizer training — an iterative pair-merge loop.

Byte-pair encoding (Sennrich et al. 2016) is the classic
tokenizer-training job of an LLM data pipeline: repeatedly find the
most frequent adjacent symbol pair in the corpus and merge it into one
symbol. This module trains on the DISTINCT-WORD table (word →
occurrence count), which is how every practical BPE trainer works —
pair counts are weighted by word frequency, so the heavy corpus scan
happens once and each merge round touches only the (tiny) distinct
vocabulary.

Scale shape per round:

1. pair counts: one map-side ``transform`` over each word's symbol
   array → explode → hash aggregate weighted by word count. The
   shuffle carries (pair, partial count) — vocabulary-sized, not
   corpus-sized.
2. winner selection: ``TakeOrderedAndProject`` of ONE row (count DESC,
   pair ASC for determinism) — the algorithm's inherent sync point;
   the driver sees one pair per round, nothing else.
3. merge application: a greedy left-to-right fold (``aggregate`` over
   the symbol array) rewrites every word in a map-only projection.
   ``localCheckpoint`` every few rounds truncates the otherwise
   linearly-growing lineage.

The per-round DataFrame loop is inherently iterative (each round's
counts depend on the previous merge), which is why this operator is
pytest-golden-gated against a pure-Python reference implementation
(``tests/references.py``) rather than SQL-oracled — the documented
carve-out for iterative algorithms.

Cited reference behavior: the reference has no tokenizer training; this
extends the evaluator's token-count contract (reference evaluate.py
token statistics) with the trainer that produces the vocabulary those
counts assume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["word_counts", "bpe_train", "bpe_segment"]

# lineage checkpoint cadence: each round nests another fold into the
# vocab frame's plan; cut it every few rounds (the dominant per-round
# cost is job-scheduling latency, so shallow plans matter more than
# recompute)
_CHECKPOINT_EVERY = 3


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) distinct-word table — the one corpus-sized pass."""
    words = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    return (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _merge_fold(sym: F.Column, a: str, b: str) -> F.Column:
    """Greedy left-to-right merge of adjacent (a, b) into ``a+b`` via an
    array fold: append each symbol, but when the accumulator's last
    element is ``a`` and the incoming symbol is ``b``, replace the last
    element with the merged symbol. Matches reference BPE exactly,
    including odd runs (a a a → [ab?] no — [aa, a] for pair (a,a))."""
    merged = a + b
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Train ``n_merges`` BPE merges; returns (merges, final vocab frame).

    ``merges`` is ``[(left, right, weighted_count), ...]`` in training
    order. The returned frame has (word, n, sym: array<string>) — each
    word segmented under the learned merges.
    """
    wc = word_counts(df, text_col)
    # initial symbols: characters (split on empty string keeps unicode
    # chars whole; trailing '' removed)
    vocab = wc.select(
        "word",
        "n",
        F.filter(F.split("word", ""), lambda c: c != "").alias("sym"),
    ).localCheckpoint()

    merges: list[tuple[str, str, int]] = []
    for it in range(n_merges):
        pairs = vocab.select(
            "n",
            F.explode(
                F.when(
                    F.size("sym") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("sym") - 1),
                        lambda i: F.struct(
                            F.element_at("sym", i).alias("a"),
                            F.element_at("sym", i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.a").asc(), F.col("p.b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["p"]["a"], top[0]["p"]["b"], int(top[0]["cnt"])
        merges.append((a, b, cnt))
        vocab = vocab.select(
            "word", "n", _merge_fold(F.col("sym"), a, b).alias("sym")
        )
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return merges, vocab


def bpe_segment(
    df: DataFrame, merges: list[tuple[str, str, int]], text_col: str = "text"
) -> DataFrame:
    """Apply learned merges to a corpus: per-word greedy fold per merge,
    map-only (the merge list is a plan constant — broadcast-free)."""
    words = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    out = df.withColumn("_words", words)
    seg = F.transform(
        F.col("_words"),
        lambda w: F.filter(F.split(w, ""), lambda c: c != ""),
    )
    def apply_merge(a: str, b: str, inner):
        # closure factory: a plain default-arg lambda would present 3
        # parameters to PySpark's higher-order-function signature check
        return F.transform(inner, lambda s: _merge_fold(s, a, b))

    col = seg
    for a, b, _ in merges:
        col = apply_merge(a, b, col)
    return out.withColumn("tokens", F.flatten(col)).drop("_words")
