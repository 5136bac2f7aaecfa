"""Lexical retrieval: distributed Okapi BM25 scoring + top-k.

The reference evaluator has no retrieval surface (its single-table model
stops at per-interval statistics, reference ``preprocess.py:195-230``);
this module is part of the training-data-pipeline extension: lexical
retrieval is the standard first stage of RAG corpus curation and of
benchmark-decontamination triage ("which training docs score highest
against an eval query?").

Scale design (the 100 TB shape):

- ONE corpus tokenization pass (explode in scan codegen) feeds both the
  per-doc length frame and the query-term postings; the postings are
  filtered to query terms with a broadcast semi-join BEFORE the
  aggregation, so the only corpus-sized shuffle carries ``(doc_id,
  term)`` pairs for query terms only — never the full token stream.
- Corpus stats (N, total token count) and the per-term IDF table are
  metadata-sized single-row / #terms-row frames, broadcast back.
- Top-k per query runs as ``row_number`` over a per-query window; Spark
  plants a partial WindowGroupLimit before the exchange, so each
  partition ships at most k candidate rows per query.

Cross-engine float determinism (the DSIR/zipf trick, see
``operators/dsir.py``): IDF is quantized to integer micro-nats on the
#terms-row frame, each (query, doc, term) contribution is quantized to
an integer BIGINT immediately after the one double multiply/divide
chain, and the per-document score is an exact BIGINT sum — immune to
shuffle-order float reassociation. Every double literal (2.2, 1.2,
0.25, 0.75) is written identically in the Spark expression tree and the
DuckDB oracle, and division/multiplication are IEEE-correctly-rounded
in both engines, so the quantized values agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Okapi BM25 constants — written as the exact literals that also appear
# in the SQL oracle (k1+1 is spelled 2.2, 1-b is spelled 0.25; deriving
# them with Python float arithmetic could produce a different double
# than the SQL literal parse).
K1 = 1.2
K1_PLUS_1 = 2.2
B = 0.75
ONE_MINUS_B = 0.25

# Tokenizer shared with vocab_topk_documents: lowercase alnum runs.
TOKEN_SPLIT = "[^a-z0-9]+"


def corpus_tokens(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """One-pass tokenization: ``(doc_id, term)`` rows, map-only."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias("term"),
        )
        .filter("term <> ''")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    topk: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``topk`` documents per query under Okapi BM25 (Lucene's
    always-positive IDF: ``ln(1 + (N - df + .5)/(df + .5))``).

    ``query_terms``: a small ``(query_id, term)`` frame (one row per
    query term occurrence is collapsed to distinct — BM25 sums each
    distinct term once). Returns ``(query_id, doc_id, score_micro,
    rank)`` with ``score_micro`` the BIGINT micro-nat BM25 score.

    ``N`` (``n_docs``) and ``avgdl`` count only documents with at least
    one token: a document whose text splits into no tokens (empty or
    all-delimiter) has no row in the token frame, so it is left out of
    both, not counted with length 0. The DuckDB oracle
    (:func:`bm25_oracle_sql`) derives both from its token table the
    same way.
    """
    qt = query_terms.select("query_id", "term").distinct()

    tokens = corpus_tokens(docs, text_col, id_col)
    # per-doc length over ALL tokens (map-side combined count)
    dl = tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    )  # 1 row

    # postings restricted to query terms BEFORE the count shuffle
    terms = qt.select("term").distinct()
    tf = (
        tokens.join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document frequency per term: #terms-row frame
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = (
        df_t.crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * 1000000.0
            )
            .cast("bigint")
            .alias("idf_micro"),
        )
    )

    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(idf), "term")
        .join(F.broadcast(qt), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.col("idf_micro").cast("double")
                * (F.col("tf") * K1_PLUS_1)
                / (
                    F.col("tf")
                    + K1
                    * (
                        ONE_MINUS_B
                        + B * F.col("dl") / (F.col("total_dl") / F.col("n_docs"))
                    )
                )
            )
            .cast("bigint")
            .alias("contrib_micro"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib_micro").alias("score_micro"))
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def bm25_oracle_sql(
    base_sql: str, query_values_sql: str, topk: int = 10
) -> str:
    """DuckDB twin of :func:`bm25_topk` — identical tokenization,
    identical arithmetic tree, identical micro-nat quantization.

    ``base_sql`` yields ``(doc_id, text)``; ``query_values_sql`` is a
    VALUES list yielding ``(query_id, term)``.
    """
    return f"""
    WITH base AS ({base_sql}
    ), qt AS (
      SELECT DISTINCT query_id, term FROM ({query_values_sql}) q(query_id, term)
    ), tokens AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
      FROM base
    ), toks AS (
      SELECT doc_id, term FROM tokens WHERE term <> ''
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_dl FROM dl
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks WHERE term IN (SELECT term FROM qt)
      GROUP BY doc_id, term
    ), df_t AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), idf AS (
      SELECT term,
             CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                        * 1000000.0) AS BIGINT) AS idf_micro
      FROM df_t, stats
    ), contrib AS (
      SELECT qt.query_id, tf.doc_id,
             -- 2.2 / 1.2 are CAST to DOUBLE: DuckDB parses bare numeric
             -- literals as DECIMAL and 3*DECIMAL'2.2' is exactly 6.6,
             -- which is NOT the double Spark computes (3*2.2d =
             -- 6.6000000000000005); the dyadic literals (0.5/0.25/0.75)
             -- are exact in both representations and stay bare
             CAST(round(CAST(idf_micro AS DOUBLE)
                        * (tf * CAST(2.2 AS DOUBLE))
                        / (tf + CAST(1.2 AS DOUBLE)
                               * (0.25 + 0.75 * dl
                                  / (total_dl / n_docs)))) AS BIGINT)
               AS contrib_micro
      FROM tf
      JOIN dl USING (doc_id)
      JOIN idf USING (term)
      JOIN qt USING (term), stats
    ), scored AS (
      SELECT query_id, doc_id,
             CAST(sum(contrib_micro) AS BIGINT) AS score_micro
      FROM contrib GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, score_micro, CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, doc_id, score_micro,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_micro DESC, doc_id ASC) AS rank
      FROM scored
    )
    WHERE rank <= {topk}
    ORDER BY query_id, rank
    """


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion of two rankers
# ---------------------------------------------------------------------------

RRF_K = 60


def coverage_topk(
    docs: DataFrame,
    query_terms: DataFrame,
    topk: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Second lexical ranker for fusion: query-term coverage (how many
    distinct query terms the document contains), ties broken by shorter
    document then doc_id — a deliberately different bias from BM25
    (coverage ignores tf and idf entirely). Same bounded shapes as
    :func:`bm25_topk`: broadcast postings filter, per-query
    WindowGroupLimit."""
    qt = query_terms.select("query_id", "term").distinct()
    tokens = corpus_tokens(docs, text_col, id_col)
    dl = tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    # postings restricted to query terms BEFORE the dedup shuffle
    hits = (
        tokens.join(F.broadcast(qt.select("term").distinct()), "term")
        .distinct()
        .join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_cov"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_cov").desc(), F.col("dl").asc(), F.col("doc_id").asc()
    )
    return (
        hits.join(dl, "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "doc_id", "n_cov", "dl", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame], topk: int = 10, k: int = RRF_K
) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al., SIGIR 2009): each ranker
    contributes ``1/(k + rank)`` for every (query, doc) it returned;
    documents are re-ranked by the summed contribution. Contributions
    are quantized to integer nano-units (``round(1e9/(k+rank))`` — one
    correctly-rounded division, bit-identical across engines) so the
    per-document sum is an exact BIGINT. Inputs are top-k frames
    ``(query_id, doc_id, rank)`` — already bounded, so the fusion
    aggregates metadata-sized frames."""
    parts = [
        r.select(
            "query_id",
            "doc_id",
            F.round(1000000000.0 / (F.col("rank") + F.lit(k)))
            .cast("bigint")
            .alias("rrf_nano"),
        )
        for r in rankings
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionAll(p)
    fused = allc.groupBy("query_id", "doc_id").agg(
        F.sum("rrf_nano").alias("rrf_nano"),
        F.count(F.lit(1)).alias("n_rankers"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_nano").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def rrf_oracle_sql(
    base_sql: str,
    query_values_sql: str,
    per_ranker_topk: int = 20,
    topk: int = 10,
    k: int = RRF_K,
) -> str:
    """DuckDB twin of BM25 + coverage fused with :func:`rrf_fuse`."""
    bm25 = bm25_oracle_sql(base_sql, query_values_sql, per_ranker_topk)
    return f"""
    WITH bm25_ranked AS ({bm25}
    ), qt AS (
      SELECT DISTINCT query_id, term FROM ({query_values_sql}) q(query_id, term)
    ), base2 AS ({base_sql}
    ), toks2 AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
        FROM base2
      ) WHERE term <> ''
    ), dl2 AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks2 GROUP BY doc_id
    ), cov AS (
      SELECT qt.query_id, t.doc_id, CAST(count(*) AS BIGINT) AS n_cov
      FROM (SELECT DISTINCT doc_id, term FROM toks2) t
      JOIN qt USING (term)
      GROUP BY qt.query_id, t.doc_id
    ), cov_ranked AS (
      SELECT query_id, doc_id, rank FROM (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_cov DESC, dl ASC, doc_id ASC)
                 AS rank
        FROM cov JOIN dl2 USING (doc_id)
      ) WHERE rank <= {per_ranker_topk}
    ), contribs AS (
      SELECT query_id, doc_id,
             CAST(round(1000000000.0 / (rank + {k})) AS BIGINT) AS rrf_nano
      FROM bm25_ranked
      UNION ALL
      SELECT query_id, doc_id,
             CAST(round(1000000000.0 / (rank + {k})) AS BIGINT) AS rrf_nano
      FROM cov_ranked
    ), fused AS (
      SELECT query_id, doc_id, CAST(sum(rrf_nano) AS BIGINT) AS rrf_nano,
             CAST(count(*) AS BIGINT) AS n_rankers
      FROM contribs GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, rrf_nano, n_rankers, CAST(rank AS INT) AS rank
    FROM (
      SELECT query_id, doc_id, rrf_nano, n_rankers,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_nano DESC, doc_id ASC) AS rank
      FROM fused
    )
    WHERE rank <= {topk}
    ORDER BY query_id, rank
    """
