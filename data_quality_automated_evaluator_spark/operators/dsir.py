"""DSIR-style data selection: hashed-n-gram importance weights.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
scores every raw document by how target-like it is under two
bag-of-hashed-n-grams language models: ``log w(x) = sum_f [log p(f) -
log q(f)]`` over the document's unigram+bigram features, where ``p`` is
estimated from a target corpus slice and ``q`` from the full raw
corpus.  High-weight documents are kept (Gumbel-top-k resampling in the
paper); the weights themselves are the portable artifact and what this
operator emits.

Spark-first shape (reference parity: the reference evaluator has no
selection stage — this is part of the training-data-pipeline extension
surface, like operators/sampling.py):

* features per doc — lowercase, split on ``[^a-z0-9]+``, unigrams +
  space-joined bigrams, all via JVM higher-order functions inside the
  scan projection (zero Python);
* feature hashing — a polynomial rolling hash over code points
  (``acc*31 + cp mod 1_000_003``) taken mod ``n_buckets``, chosen over
  xxhash64 because DuckDB can replay it exactly
  (``list_reduce(unicode(ch))``) for the value oracle;
* corpus LMs — ONE pass over the exploded (doc, bucket) stream builds
  both models: ``count(*)`` for q and ``count_if(is_target)`` for p per
  bucket, map-side combined into at most ``n_buckets`` rows;
* log-ratio table — Laplace-smoothed ``ln((p_b+1)/(P+B)) -
  ln((q_b+1)/(Q+B))``, quantized to integer micro-nats (``*1e6`` →
  BIGINT) so the per-document sum is exact integer arithmetic —
  order-independent, hence value-hash stable across engines and
  shuffle schedules;
* per-doc weights — broadcast-join the ≤``n_buckets``-row table onto
  the exploded stream, one groupBy(doc_id) with map-side partial sums.

At 10^12 turns: the explode is map-local, the only wide exchange is
the doc_id aggregation (8-byte key + 8-byte partial sum per feature
run), the LM table is bounded by ``n_buckets`` regardless of corpus
size, and both corpus scans prune to the text + target columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "dsir_weights",
    "dsir_select",
    "dsir_oracle_sql",
    "dsir_select_oracle_sql",
]

_MOD = 1_000_003
_SEED = 7


def _feats_col(text_col: str):
    # unigrams + bigrams of the lowercased [a-z0-9]+ token stream, all
    # JVM higher-order functions inside the scan projection
    ws = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda w: w != F.lit(""),
    )
    n1 = F.greatest(F.size(ws) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(ws, 1, n1),
        F.slice(ws, 2, n1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(ws, bigrams)


def _bucket_udf(n_buckets: int):
    """Arrow-vectorized polynomial hash bucket over a whole
    feature ARRAY: returns ``array<int>`` of bucket ids per document.

    The Catalyst per-character fold evaluates interpreted once per
    exploded feature — millions of lambda dispatches per pass, and the
    stream is evaluated twice (LM build + weight join).  The hash is
    pure INTEGER arithmetic (``acc*31 + cp mod 1_000_003`` per step),
    so a masked numpy Horner loop over a padded byte matrix reproduces
    it exactly: int64 never overflows (acc < 1e6, *31 + 127 < 2^63) and
    features are ASCII by construction ([a-z0-9 ] survives the split).
    Tokenization stays in Catalyst so lowercase/split semantics remain
    engine-matched.  Pinned fold-vs-arrow by tests/test_dsir_infotheory.
    """
    import numpy as np
    import pandas as pd

    def _buckets(feats):
        lens: list[int] = []
        flat: list[str] = []
        for lst in feats:
            if lst is None:
                lens.append(0)
            else:
                lens.append(len(lst))
                flat.extend(lst)
        if not flat:
            return pd.Series([[] for _ in lens])
        enc = [s.encode("ascii") for s in flat]
        flens = np.fromiter(
            (len(s) for s in enc), dtype=np.int64, count=len(enc)
        )
        maxlen = int(flens.max())
        buf = (
            np.frombuffer(
                b"".join(s.ljust(maxlen, b"\x00") for s in enc),
                dtype=np.uint8,
            )
            .reshape(len(enc), maxlen)
            .astype(np.int64)
        )
        acc = np.full(len(enc), _SEED, dtype=np.int64)
        for j in range(maxlen):
            upd = (acc * 31 + buf[:, j]) % _MOD
            acc = np.where(j < flens, upd, acc)
        acc = (acc % n_buckets).astype(np.int32)
        out: list[list[int]] = []
        i = 0
        for n in lens:
            out.append(acc[i : i + n].tolist())
            i += n
        return pd.Series(out)

    return F.pandas_udf(_buckets, returnType="array<int>")


def dsir_weights(
    df: DataFrame,
    target_pred,
    n_buckets: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document importance log-weights.

    ``target_pred`` — a boolean Column marking the target slice (the
    distribution we want more of).  Returns (id_col, n_feats, logw)
    for every document with at least one feature.
    """
    feats = df.select(
        F.col(id_col),
        target_pred.alias("_is_tgt"),
        F.explode(_bucket_udf(n_buckets)(_feats_col(text_col))).alias("_b"),
    )

    lm = feats.groupBy("_b").agg(
        F.count("*").alias("_q"),
        F.count_if(F.col("_is_tgt")).alias("_p"),
    )
    totals = lm.agg(
        F.sum("_q").alias("_qt"), F.sum("_p").alias("_pt")
    )
    # integer micro-nats: ln-ratio computed once per bucket, quantized,
    # summed exactly per doc (float-order independent across engines)
    ratio = (
        lm.crossJoin(F.broadcast(totals))
        .select(
            "_b",
            F.round(
                (
                    F.log((F.col("_p") + 1.0) / (F.col("_pt") + n_buckets))
                    - F.log((F.col("_q") + 1.0) / (F.col("_qt") + n_buckets))
                )
                * 1_000_000.0,
                0,
            )
            .cast("bigint")
            .alias("_lr"),
        )
    )

    return (
        feats.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("_lr") / 1_000_000.0, 6).alias("logw"),
        )
    )


def dsir_oracle_sql(
    table: str,
    target_sql: str,
    n_buckets: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin: same tokenization, same polynomial hash, same
    Laplace smoothing, same micro-nat quantization."""
    return f"""
    WITH docs AS (
      SELECT {id_col},
             ({target_sql}) AS is_tgt,
             list_filter(
               string_split_regex(lower({text_col}), '[^a-z0-9]+'),
               w -> w <> '') AS ws
      FROM {table}
    ),
    featured AS (
      SELECT {id_col}, is_tgt,
             list_concat(
               ws,
               list_transform(
                 generate_series(1, greatest(len(ws) - 1, 0)),
                 i -> ws[i] || ' ' || ws[i + 1])) AS fs
      FROM docs
    ),
    exploded AS (
      SELECT {id_col}, is_tgt,
             CAST(list_reduce(
               list_prepend(CAST({_SEED} AS BIGINT),
                 list_transform(string_split(f.feat, ''),
                                ch -> CAST(unicode(ch) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % {_MOD}) % {n_buckets}
             AS INT) AS b
      FROM featured, unnest(fs) AS f(feat)
    ),
    lm AS (
      SELECT b, count(*) AS q, count(*) FILTER (is_tgt) AS p
      FROM exploded GROUP BY b
    ),
    totals AS (SELECT sum(q) AS qt, sum(p) AS pt FROM lm),
    ratio AS (
      SELECT b,
             CAST(round(
               (ln((p + 1.0) / (pt + {n_buckets}))
                - ln((q + 1.0) / (qt + {n_buckets}))) * 1000000.0, 0)
             AS BIGINT) AS lr
      FROM lm, totals
    )
    SELECT e.{id_col},
           count(*) AS n_feats,
           round(sum(r.lr) / 1000000.0, 6) AS logw
    FROM exploded e JOIN ratio r USING (b)
    GROUP BY e.{id_col}
    """


def _gumbel_expr(id_col: str) -> str:
    """Deterministic Gumbel(0,1) noise from the md5-bucket uniform —
    the same engine-portable hash trick as operators/sampling.py, so
    the resampling decision is stable across runs/partitionings and
    replayable by the oracle. u = (bucket16 + 0.5)/65536 is a power-of-
    two quotient: both engines see the EXACT same double before ln.
    Every term is CAST to double — a bare ``0.5``/``65536.0`` literal
    parses as DECIMAL in Spark SQL and the scale-limited decimal
    division quantized u at ~1e-5, which -ln(-ln(u)) amplified into
    cross-engine score divergence (measured max 1.2e-5 before the
    casts, 0.0 after)."""
    from .sampling import _bucket_expr, _BUCKETS

    u = (
        f"((cast({_bucket_expr(id_col)} as double)"
        f" + cast(0.5 as double)) / cast({_BUCKETS} as double))"
    )
    return f"(-ln(-ln({u})))"


def dsir_select(
    df: DataFrame,
    target_pred,
    k: int,
    n_buckets: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gumbel-top-k importance resampling — the selection stage of the
    DSIR recipe: keep the k documents with the largest
    ``logw + Gumbel(0,1)`` (equivalent to sampling without replacement
    proportionally to the importance weights).  The ordering key is the
    ROUNDED score with an id tiebreak so both engines cut the same k
    rows.  Physical plan: TakeOrderedAndProject — per-partition top-k,
    then a k-row merge on the driver side of the exchange; no global
    sort materializes at any scale."""
    w = dsir_weights(
        df, target_pred, n_buckets=n_buckets, id_col=id_col, text_col=text_col
    )
    score = F.round(F.col("logw") + F.expr(_gumbel_expr(id_col)), 6)
    return (
        w.select(id_col, "n_feats", "logw", score.alias("gumbel_score"))
        .orderBy(F.desc("gumbel_score"), F.col(id_col))
        .limit(k)
    )


def dsir_select_oracle_sql(
    table: str,
    target_sql: str,
    k: int,
    n_buckets: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`dsir_select` — the Gumbel expression is
    shared verbatim via :func:`_gumbel_expr`."""
    inner = dsir_oracle_sql(
        table, target_sql, n_buckets=n_buckets, id_col=id_col, text_col=text_col
    )
    return f"""
    SELECT {id_col}, n_feats, logw,
           round(logw + {_gumbel_expr(id_col)}, 6) AS gumbel_score
    FROM ({inner})
    ORDER BY gumbel_score DESC, {id_col} LIMIT {k}
    """
