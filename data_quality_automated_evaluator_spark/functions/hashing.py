"""Vectorized hashing cores for dedup: shingles, MinHash, SimHash,
rolling fingerprints.

All numpy-vectorized over Arrow batches (pandas UDF hot path) and shared
with tests/oracles. Hash function: splitmix64 over an FNV-prime polynomial —
deterministic, seedable, public-domain constructions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_U64 = np.uint64
_MASK = _U64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — good avalanche, vectorizes cleanly."""
    x = (x + _U64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> _U64(31))


def char_shingles(text: str, k: int = 5) -> np.ndarray:
    """Distinct k-char shingle hashes of a string (uint64), vectorized:
    byte rolling window via stride tricks over the utf-8 buffer."""
    buf = np.frombuffer(text.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    if len(buf) < k:
        buf = np.pad(buf, (0, k - len(buf)), constant_values=0)
    windows = np.lib.stride_tricks.sliding_window_view(buf, k).astype(np.uint64)
    # polynomial hash of each window then splitmix
    weights = (np.uint64(1099511628211) ** np.arange(k, dtype=np.uint64)) & _MASK
    h = (windows * weights).sum(axis=1, dtype=np.uint64)
    return np.unique(_splitmix64(h))


def minhash_signature(shingles: np.ndarray, num_perm: int = 64, seed: int = 42) -> np.ndarray:
    """MinHash signature: min over per-permutation rehashes of the shingle
    set. Permutation i = splitmix64(shingle ^ seed_i)."""
    if len(shingles) == 0:
        return np.full(num_perm, _MASK, dtype=np.uint64)
    seeds = _splitmix64(np.arange(1, num_perm + 1, dtype=np.uint64) * _U64(seed * 2 + 1))
    # (num_perm, n_shingles) — fine for shingle counts in the thousands
    mixed = _splitmix64(shingles[None, :] ^ seeds[:, None])
    return mixed.min(axis=1)


def minhash_batch(texts: pd.Series, k: int = 5, num_perm: int = 64, seed: int = 42) -> pd.Series:
    """Series[str] → Series[list[int]] of MinHash signatures."""
    out = []
    for t in texts.fillna("").astype(str):
        sig = minhash_signature(char_shingles(t, k), num_perm, seed)
        # int64 view for Spark ArrayType(LongType) compatibility
        out.append(sig.view(np.int64).tolist())
    return pd.Series(out, index=texts.index)


def jaccard_pairs_batch(ta: pd.Series, tb: pd.Series, k: int = 5) -> pd.Series:
    """Exact k-shingle Jaccard for a batch of text PAIRS.

    Each document appears in many candidate pairs, so shingle sets are
    computed once per distinct text in the batch and the per-pair work
    collapses to a sorted-array intersection (~µs) — the verification
    stage goes from O(pairs · shingling) to O(distinct-texts · shingling
    + pairs · merge). Two empty shingle sets have Jaccard 1.
    """
    cache: dict[str, np.ndarray] = {}

    def sh(t: str | None) -> np.ndarray:
        t = t or ""
        got = cache.get(t)
        if got is None:
            got = cache[t] = char_shingles(t, k)
        return got

    out = np.empty(len(ta), dtype=np.float64)
    for i, (x, y) in enumerate(zip(ta, tb)):
        sa, sb = sh(x), sh(y)
        if not len(sa) and not len(sb):
            out[i] = 1.0
            continue
        inter = np.intersect1d(sa, sb, assume_unique=True).size
        out[i] = inter / (len(sa) + len(sb) - inter)
    return pd.Series(out, index=ta.index)


