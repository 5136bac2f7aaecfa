"""Vectorized character-bigram perplexity (KenLM-flavored n-gram LM).

A 65-symbol character-bigram language model with add-one smoothing,
trained at import time on an embedded English corpus (deterministic).
Scoring is fully vectorized: a batch of strings is joined into one byte
buffer, mapped through a 256-entry class table, bigram log-probs are
gathered with numpy fancy indexing, and per-string sums come from
``np.add.reduceat`` — zero per-row Python, which is what lets the same
code run as an Arrow-batched pandas UDF at cluster scale.

Perplexity = exp(−mean log P(c_i | c_{i−1})) over the string's
in-alphabet bigrams; strings with no bigrams score +inf (guarded to a
large finite sentinel so Column comparisons stay total).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ._mem import raise_mmap_threshold

raise_mmap_threshold()  # batch temporaries must stay in the arena

# ---------------------------------------------------------------------------
# Alphabet: 26 letters + 10 digits + space + common punct, OOV bucket last.
# ---------------------------------------------------------------------------
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 .,!?'\"-:;()"
V = len(_ALPHABET) + 1  # +1 OOV class
_OOV = V - 1

_BYTE_CLASS = np.full(256, _OOV, dtype=np.int64)
for _i, _ch in enumerate(_ALPHABET):
    _BYTE_CLASS[ord(_ch)] = _i
for _up, _lo in zip(range(ord("A"), ord("Z") + 1), range(ord("a"), ord("z") + 1)):
    _BYTE_CLASS[_up] = _BYTE_CLASS[_lo]

# Embedded training corpus: deterministic English sentences (public text
# patterns; enough mass to separate English from junk/other-script strings).
_CORPUS = " ".join(
    [
        "the quick brown fox jumps over the lazy dog",
        "data pipelines aggregate quality metrics across partitions every day",
        "the model processes conversation transcripts with great care",
        "our team validates the daily report before it ships to the cluster",
        "a customer asked about the event log and the time series summary",
        "this service monitors outlier counts for every interval in the stream",
        "the scheduler partitions parquet files and streams checkpoint state",
        "an engineer transforms feature columns in a single pass under load",
        "we filter user sessions and summarize transactions without delay",
        "language models estimate the probability of the next character",
        "spark executes the logical plan with whole stage code generation",
        "the report shows the mean and the standard deviation per day",
        "please review the quality rules and the keep or drop decision",
        "conversations are reassembled in stable order by turn index",
        "the filter keeps clean english text and drops repeated junk",
    ]
    * 2
)


def _train_bigram_logprobs() -> np.ndarray:
    codes = _BYTE_CLASS[np.frombuffer(_CORPUS.encode("ascii"), dtype=np.uint8)]
    counts = np.ones((V, V), dtype=np.float64)  # add-one smoothing
    np.add.at(counts, (codes[:-1], codes[1:]), 1.0)
    return np.log(counts / counts.sum(axis=1, keepdims=True))


_LOGP = _train_bigram_logprobs()

PPL_MAX = 1e9  # sentinel for "no scorable bigrams"

# Score a bounded prefix: LM perplexity stabilizes within a few hundred
# chars, and this bounds worst-case batch cost under 10KB junk blobs.
# Part of the model spec — the oracle runs this same function.
PREFIX_CHARS = 1000


def perplexity_batch(texts: pd.Series) -> pd.Series:
    """Char-bigram perplexity for a batch of strings (vectorized).

    Non-ASCII bytes fall into the OOV class (they still participate as
    context, byte for byte as the DuckDB oracle's per-byte classes do).
    """
    return score_logprob_batch(texts, _LOGP)


def score_logprob_batch(texts: pd.Series, logp: np.ndarray) -> pd.Series:
    """Perplexity of each string under an arbitrary V×V bigram log-prob
    matrix — the scoring core behind :func:`perplexity_batch` (embedded
    LM) and operators/lm.py (corpus-trained LM). One algorithm so the
    batch-boundary-invariance guarantee can't fork."""
    s = texts.fillna("").astype(str).str.slice(0, PREFIX_CHARS)
    n = len(s)
    if n == 0:
        return pd.Series([], dtype="float64", index=s.index)
    # NUL is the join separator, so strip any embedded NULs first (rare)
    s = s.str.replace("\x00", "", regex=False)
    joined = "\x00".join(s.tolist())
    buf = np.frombuffer(joined.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    # per-string byte lengths derived from the separator positions of the
    # single encoded buffer (avoids a second per-string encode pass)
    sep_idx = np.flatnonzero(buf == 0)
    bounds = np.concatenate([[-1], sep_idx, [len(buf)]])
    lens = (np.diff(bounds) - 1).astype(np.int64)

    codes = _BYTE_CLASS[buf]
    starts = np.zeros(n, dtype=np.int64)
    if n > 1:
        starts[1:] = np.cumsum(lens[:-1] + 1)
    ends = starts + lens  # exclusive

    # bigram j covers bytes (j, j+1); drop the two bigrams touching each
    # inter-string separator byte so strings don't leak into each other.
    # COMPACT the valid bigrams before summing: each segment must contain
    # exactly the string's own bigrams, or numpy's pairwise summation tree
    # (whose shape depends on segment length) makes scores depend on batch
    # layout — batch-boundary invariance is a hard requirement (the oracle
    # and Spark see different Arrow batch sizes).
    nbig = np.maximum(lens - 1, 0)
    sums = np.zeros(n, dtype=np.float64)
    nonzero = nbig > 0
    if len(codes) >= 2:
        valid = np.ones(len(codes) - 1, dtype=bool)
        sep_pos = ends[:-1] if n > 1 else np.array([], dtype=np.int64)
        if len(sep_pos):
            left = sep_pos - 1
            valid[left[left >= 0]] = False  # (last char, separator)
            valid[sep_pos[sep_pos < len(valid)]] = False  # (separator, next char)
        lp = logp[codes[:-1], codes[1:]][valid]
        offsets = np.zeros(n, dtype=np.int64)
        np.cumsum(nbig[:-1], out=offsets[1:])
        idx = offsets[nonzero]
        if idx.size:
            sums[nonzero] = np.add.reduceat(lp, idx)
    ppl = np.full(n, PPL_MAX, dtype=np.float64)
    ppl[nonzero] = np.exp(-sums[nonzero] / nbig[nonzero])
    ppl = np.minimum(ppl, PPL_MAX)
    return pd.Series(ppl, index=s.index, dtype="float64")
