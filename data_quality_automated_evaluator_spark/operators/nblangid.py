"""Trained language-ID: multinomial Naive Bayes over char trigrams.

The heuristic detector (functions/langid.py) is a fixed model spec; this
is the *trained* counterpart the north star's "fastText language-ID"
implies — a supervised classifier fit on the corpus's own labels
(fastText is a linear bag-of-char-n-gram model; multinomial NB over the
same features is its closed-form cousin, trainable in ONE aggregation
pass with no iterative driver loop):

- **features**: all char 3-grams of the lowered 400-char prefix (the
  same prefix window as the heuristic spec), kept as plain strings so
  DuckDB reproduces them with ``substr`` — no hash seam;
- **training**: one ``groupBy(lang, tri).count()`` shuffle (map-side
  combined); the vocabulary is bounded by a global min-count floor, and
  the model the driver collects is #langs × |vocab| log-probs with
  add-one smoothing — broadcast-sized;
- **scoring**: explode → semi-join to the vocabulary → per-doc trigram
  counts → broadcast-join the dense model → one (doc, lang) sum +
  log-prior, argmax with a deterministic (score DESC, lang ASC) tie
  order; docs containing no vocabulary trigram fall back to the prior
  argmax. Pure Catalyst end to end — no Python in the hot path.

Everything is expressed so the DuckDB oracle can re-derive the
identical model and predictions in SQL (:func:`nb_langid_oracle_sql`);
the committed query reports the integer confusion matrix (declared ×
predicted), keeping the value hash float-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PREFIX = 400
MIN_COUNT = 5


def _trigrams(df: DataFrame, text_col: str) -> DataFrame:
    """(id rows ×) exploded char trigrams of the lowered prefix."""
    s = F.lower(F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, PREFIX))
    # NB: Spark's sequence(1, 0) counts DOWN to [1, 0] — it never yields
    # an empty array — so strings shorter than 3 chars must be gated
    # explicitly or they emit phantom trigrams (DuckDB's range(1, 1) is
    # empty, so the oracle would diverge).
    return df.withColumn(
        "tri",
        F.explode(
            F.expr(
                "CASE WHEN length(_s) >= 3 THEN"
                " transform(sequence(1, length(_s) - 2),"
                "           i -> substring(_s, i, 3))"
                " ELSE array() END"
            )
        ),
    ).drop("_s")


def _with_prefix(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn(
        "_s",
        F.lower(F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, PREFIX)),
    )


def nb_langid_confusion(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    min_count: int = MIN_COUNT,
) -> DataFrame:
    """Train on ``df``'s own labels, predict every row, and return the
    integer confusion matrix (lang, pred, n) ordered by (lang, pred)."""
    base = df.select(F.col(label_col).alias("lang"), text_col).cache()
    tris = _trigrams(_with_prefix(base, text_col), text_col).select("lang", "tri")

    # (lang, tri) occurrence counts; vocabulary floored on GLOBAL count.
    # Both frames are model-sized (#langs × |vocab|) and feed several
    # plan branches (vocab gate, lang totals, dense smoothing, scoring
    # semi-join) — persist them or every branch re-runs the corpus-wide
    # trigram explode.
    counts = tris.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.groupBy("tri")
        .agg(F.sum("c").alias("tot"))
        .filter(F.col("tot") >= min_count)
        .select("tri")
        .persist()
    )
    counts = counts.join(F.broadcast(vocab), "tri").persist()

    vsize = vocab.count()
    langs = base.select("lang").distinct()
    # dense model: every (lang, vocab-trigram) cell, add-one smoothed
    lang_tot = counts.groupBy("lang").agg(F.sum("c").alias("n_lang"))
    dense = (
        langs.crossJoin(vocab)
        .join(counts, ["lang", "tri"], "left")
        .join(lang_tot, "lang", "left")
        .select(
            "lang",
            "tri",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("n_lang"), F.lit(0)) + F.lit(float(vsize)))
            ).alias("logp"),
        )
    )
    n_docs = base.count()
    priors = base.groupBy("lang").agg(
        F.log(F.count(F.lit(1)) / F.lit(float(n_docs))).alias("logprior")
    )

    # scoring: per-doc vocabulary-trigram counts × dense model
    docs = _with_prefix(
        base.select("lang", text_col).withColumn(
            "_row", F.monotonically_increasing_id()
        ),
        text_col,
    )
    ids = docs.select("_row", "lang")
    doc_tris = (
        _trigrams(docs, text_col)
        .join(F.broadcast(vocab), "tri")
        .groupBy("_row", "tri")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    scores = (
        doc_tris.join(F.broadcast(dense), "tri")
        .groupBy("_row", F.col("lang").alias("cand"))
        .agg(F.sum(F.col("k") * F.col("logp")).alias("s"))
        .join(
            F.broadcast(priors.select(F.col("lang").alias("cand"), "logprior")),
            "cand",
        )
        .withColumn("score", F.col("s") + F.col("logprior"))
    )
    w = Window.partitionBy("_row").orderBy(F.col("score").desc(), F.col("cand"))
    best = (
        scores.withColumn("_rk", F.row_number().over(w))
        .filter("_rk = 1")
        .select("_row", F.col("cand").alias("pred"))
    )
    # rows with no vocabulary trigram: prior argmax (same tie order)
    fallback = (
        priors.orderBy(F.col("logprior").desc(), F.col("lang"))
        .limit(1)
        .collect()[0]["lang"]
    )
    return (
        ids.join(best, "_row", "left")
        .select(
            "lang", F.coalesce(F.col("pred"), F.lit(fallback)).alias("pred")
        )
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred")
    )


def nb_langid_oracle_sql(
    base_sql: str, label_col: str = "lang", min_count: int = MIN_COUNT
) -> str:
    """DuckDB twin of :func:`nb_langid_confusion` over ``base_sql``
    (a SELECT producing ({label_col}, text))."""
    return f"""
WITH base AS ({base_sql}),
docs AS (
  SELECT row_number() OVER () AS rid, {label_col} AS lang,
         lower(substr(coalesce(text, ''), 1, {PREFIX})) AS s
  FROM base
),
tris AS (
  SELECT rid, lang, substr(s, i, 3) AS tri
  FROM docs, UNNEST(range(1, greatest(length(s) - 2, 0) + 1)) AS t(i)
),
counts AS (SELECT lang, tri, count(*) AS c FROM tris GROUP BY 1, 2),
vocab AS (
  SELECT tri FROM counts GROUP BY tri HAVING sum(c) >= {min_count}
),
vc AS (SELECT count(*) AS vsize FROM vocab),
mcounts AS (SELECT c.* FROM counts c JOIN vocab USING (tri)),
lang_tot AS (SELECT lang, sum(c) AS n_lang FROM mcounts GROUP BY 1),
langs AS (SELECT DISTINCT lang FROM docs),
dense AS (
  SELECT l.lang, v.tri,
         ln((coalesce(m.c, 0) + 1.0)
            / (coalesce(t.n_lang, 0) + (SELECT vsize FROM vc))) AS logp
  FROM langs l CROSS JOIN vocab v
  LEFT JOIN mcounts m ON m.lang = l.lang AND m.tri = v.tri
  LEFT JOIN lang_tot t ON t.lang = l.lang
),
priors AS (
  SELECT lang,
         ln(count(*) * 1.0 / (SELECT count(*) FROM docs)) AS logprior
  FROM docs GROUP BY 1
),
doc_tris AS (
  SELECT rid, tri, count(*) AS k
  FROM (SELECT t.rid, t.tri FROM tris t JOIN vocab USING (tri))
  GROUP BY 1, 2
),
scores AS (
  SELECT dt.rid, d.lang AS cand, sum(dt.k * d.logp) + p.logprior AS score
  FROM doc_tris dt
  JOIN dense d ON d.tri = dt.tri
  JOIN priors p ON p.lang = d.lang
  GROUP BY dt.rid, d.lang, p.logprior
),
best AS (
  SELECT rid, cand AS pred
  FROM (
    SELECT rid, cand,
           row_number() OVER (PARTITION BY rid
                              ORDER BY score DESC, cand) AS rk
    FROM scores
  ) WHERE rk = 1
),
fb AS (
  SELECT lang AS pred FROM priors ORDER BY logprior DESC, lang LIMIT 1
)
SELECT d.lang, coalesce(b.pred, (SELECT pred FROM fb)) AS pred,
       count(*) AS n
FROM docs d LEFT JOIN best b ON b.rid = d.rid
GROUP BY 1, 2 ORDER BY 1, 2
"""
