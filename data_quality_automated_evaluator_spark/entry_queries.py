"""Registry of driver-checked queries + DuckDB oracle SQL.

Each query exercises an operator from SURVEY.md §2 (or a
training-data-pipeline extension) through the real package code paths,
then renames/rounds outputs so the driver's order-insensitive
value-hash compare is stable across engines:

- float aggregates → ``round(x, 6)`` on both sides;
- identical aliases in Spark and SQL (driver sorts columns by name).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import fingerprint_oracle_sql as _fp_oracle
from .operators.dedup import simhash_md5_oracle_sql as _simhash_oracle
from .pipeline.oracle_sql import keep_flags_oracle_sql

# committed deterministic fixture (seed=42, 400 convs — same generator as
# the flagship query) so the DuckDB side of the keep-flags oracle can read
# the identical rows the Spark side reads
FIXTURE_TRANSCRIPTS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "transcripts_oracle.parquet",
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _round_doubles(df: DataFrame, digits: int = 6) -> DataFrame:
    exprs = []
    for f_ in df.schema.fields:
        if f_.dataType.simpleString() in ("double", "float"):
            exprs.append(F.round(F.col(f_.name), digits).alias(f_.name))
        else:
            exprs.append(F.col(f_.name))
    return df.select(*exprs)



def _carry_cached(outer: DataFrame, inner: DataFrame) -> DataFrame:
    """Propagate the operator's caller-owned cleanup hook through the
    .select()/.orderBy() wrappers (plain Python attributes do not survive
    DataFrame transformations); dedup.release_cached(result) then works on
    what queries() hands back."""
    outer._persisted_inputs = getattr(inner, "_persisted_inputs", [])
    return outer


@register("quality_pipeline_transcripts")  # rows-only: needs the transcripts
def quality_pipeline_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship graft pipeline end-to-end on a deterministic
    transcripts table (seed=42 generator — BASELINE input_hint shape):
    langid + perplexity + heuristics + conversation window + scrub →
    per-turn keep/drop labels. Correctness is gated by the pytest golden
    suite (F1 + byte-exact vs the pandas oracle); the driver records the
    rows-only check here."""
    from .pipeline.quality import labels_frame, run_quality_pipeline
    from .testdata import generate_transcripts

    pdf = generate_transcripts(n_convs=400, seed=42)
    df = spark.createDataFrame(pdf)
    return labels_frame(run_quality_pipeline(df)).orderBy("conv_id", "turn_idx")


@register(
    "quality_keep_flags_transcripts",
    oracle=keep_flags_oracle_sql(FIXTURE_TRANSCRIPTS),
)
def quality_keep_flags_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline's FULL keep conjunction, value-checked: the
    DuckDB oracle re-implements every rule in SQL — including the
    char-bigram perplexity LM, trained in SQL from the same embedded
    corpus (see pipeline/oracle_sql.py) — over the committed
    deterministic transcripts fixture. This upgrades the pipeline from a
    rows-only driver check to a per-turn per-flag value hash."""
    from .pipeline.quality import run_quality_pipeline
    from .pipeline.rules import RULE_NAMES
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    df = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    res = run_quality_pipeline(df)
    return res.select("conv_id", "turn_idx", "keep", *RULE_NAMES).orderBy(
        "conv_id", "turn_idx"
    )


# ---------------------------------------------------------------------------
# Evaluator core: D1 interval bucketing + A1-A10 single-pass stats
# ---------------------------------------------------------------------------

@register(
    "interval_stats_events_1d",
    oracle="""
    SELECT date_trunc('day', ts) AS bucket_day,
           count(*) AS n_values,
           round(avg(value), 6) AS target_avg,
           count(DISTINCT event_type)
             + max(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS event_type_nunique,
           round(avg(CASE WHEN event_type IS NULL THEN 1.0 ELSE 0.0 END), 6)
             AS event_type_null_ratio,
           count(DISTINCT user_id)
             + max(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS user_id_nunique,
           round(avg(CASE WHEN user_id IS NULL THEN 1.0 ELSE 0.0 END), 6)
             AS user_id_null_ratio,
           round(min(user_id), 6) AS user_id_min,
           round(max(user_id), 6) AS user_id_max,
           round(avg(user_id), 6) AS user_id_mean,
           round(median(user_id), 6) AS user_id_median,
           round(stddev_samp(user_id), 6) AS user_id_std,
           count(DISTINCT value)
             + max(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS value_nunique,
           round(avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END), 6)
             AS value_null_ratio,
           round(min(value), 6) AS value_min,
           round(max(value), 6) AS value_max,
           round(avg(value), 6) AS value_mean,
           round(median(value), 6) AS value_median,
           round(stddev_samp(value), 6) AS value_std
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def interval_stats_events_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full stage-1 evaluator aggregation over events at 1d.

    Exercises D1 (date_trunc bucketing), A1 (count), A2 (target mean),
    A3 (null-inclusive distinct), A4 (null ratio), A5-A9 (numeric stats)
    in ONE HashAggregate pass (SURVEY.md §2.5).
    """
    from .operators.preprocess import make_preprocessing

    df = _t(spark, sf_dir, "events")
    res = make_preprocessing(
        df,
        {
            "date_column": "ts",
            "time_interval": "1d",
            "target_column": "value",
            "columns_to_exclude": ["event_id", "props"],
        },
    )
    renames = {
        "__time_interval": "bucket_day",
        " __Number of values": "n_values",
        " __Target average": "target_avg",
        "__ event_type __Number of unique values": "event_type_nunique",
        "__ event_type __Proportion of missing values": "event_type_null_ratio",
        "__ user_id __Number of unique values": "user_id_nunique",
        "__ user_id __Proportion of missing values": "user_id_null_ratio",
        "n__ user_id __Min": "user_id_min",
        "n__ user_id __Max": "user_id_max",
        "n__ user_id __Mean": "user_id_mean",
        "n__ user_id __Median": "user_id_median",
        "n__ user_id __Standard deviation": "user_id_std",
        "__ value __Number of unique values": "value_nunique",
        "__ value __Proportion of missing values": "value_null_ratio",
        "n__ value __Min": "value_min",
        "n__ value __Max": "value_max",
        "n__ value __Mean": "value_mean",
        "n__ value __Median": "value_median",
        "n__ value __Standard deviation": "value_std",
    }
    out = res.aggregate
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    # min/max of integral columns come back as bigint in Spark but double
    # via round() in DuckDB — cast for schema agreement
    out = out.withColumn("user_id_min", F.col("user_id_min").cast("double"))
    out = out.withColumn("user_id_max", F.col("user_id_max").cast("double"))
    out = out.withColumn("user_id_mean", F.col("user_id_mean").cast("double"))
    out = out.withColumn("user_id_median", F.col("user_id_median").cast("double"))
    return _round_doubles(out)


@register("interval_stats_events_1d_approx")  # rows-only: HLL values are estimates
def interval_stats_events_1d_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10^12-row variant of the flagship: ``approx_distinct`` swaps
    the exact null-inclusive count-distinct, which buffers each group's
    set of distinct values, for a fixed-size HLL sketch, and
    ``approx_median`` swaps the value-buffering exact median for the
    bounded-memory percentile_approx sketch. Both variants plan one
    partial→final aggregate pair with no Expand. Estimate accuracy and
    the plan shape are pinned in pytest; the query has no oracle
    (rows-only)."""
    from .operators.preprocess import make_preprocessing

    df = _t(spark, sf_dir, "events")
    res = make_preprocessing(
        df,
        {
            "date_column": "ts",
            "time_interval": "1d",
            "target_column": "value",
            "columns_to_exclude": ["event_id", "props"],
            "approx_distinct": True,
            "approx_median": True,
        },
    )
    out = res.aggregate
    for c in out.columns:
        if c != "__time_interval":
            out = out.withColumnRenamed(
                c, c.strip().replace(" ", "_").replace("__", "c_")
            )
    return _round_doubles(out)


@register(
    "interval_stats_events_1h",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_hour,
           count(*) AS n_values,
           count(DISTINCT event_type) AS et_nunique,
           round(min(value), 6) AS v_min,
           round(max(value), 6) AS v_max
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def interval_stats_events_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 at hourly granularity (reference time_interval='1h')."""
    from .functions.intervals import truncate_to_interval

    df = _t(spark, sf_dir, "events")
    return (
        df.groupBy(truncate_to_interval(F.col("ts"), "1h").alias("bucket_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.countDistinct("event_type").alias("et_nunique"),
            F.round(F.min("value"), 6).alias("v_min"),
            F.round(F.max("value"), 6).alias("v_max"),
        )
        .orderBy("bucket_hour")
    )


@register(
    "string_date_cast_orders",
    oracle="""
    WITH o AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str, o_totalprice
      FROM orders
    )
    SELECT CAST(CAST(strptime(ts_str, '%Y-%m-%d %H:%M:%S') AS DATE) AS TIMESTAMP) AS d,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM o GROUP BY 1 ORDER BY 1
    """,
)
def string_date_cast_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/D2: strict string→date parsing through the strptime shim
    (DATE(col, '%Y-%m-%d %H:%M:%S') reference dialect)."""
    from .operators.preprocess import apply_transformations

    df = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "o_totalprice",
    )
    df = apply_transformations(df, {"d": "DATE(ts_str, '%Y-%m-%d %H:%M:%S')"})
    df = df.withColumn("d", F.col("d").cast("timestamp"))
    return (
        df.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("total"),
        )
        .orderBy("d")
    )


@register(
    "revenue_by_region_daily",
    oracle="""
    SELECT date_trunc('day', o.o_orderdate) AS bucket_day,
           r.r_name AS region,
           count(*) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def revenue_by_region_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join chain with explicit broadcasts of the small dims
    (customer/nation/region) — no shuffle on the fact table for the join,
    only the final groupBy exchanges. The graft's dim-enrichment shape."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    from .functions.intervals import truncate_to_interval

    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy(
            truncate_to_interval(F.col("o_orderdate"), "1d").alias("bucket_day"),
            F.col("r_name").alias("region"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double").alias("revenue"),
        )
        .orderBy("bucket_day", "region")
    )


@register(
    "quality_rules_documents",
    oracle=r"""
    WITH f AS (
      SELECT doc_id,
             length(text) AS n_chars,
             length(regexp_extract_all(text, '\S+')) AS n_tokens,
             length(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS n_symbols,
             length(list_distinct(regexp_extract_all(lower(trim(text)), '\S+')))
               AS n_distinct
      FROM documents
    )
    SELECT doc_id,
           (n_chars >= 1 AND n_chars <= 8000) AS r_len,
           (CASE WHEN n_chars > 0 THEN CAST(n_symbols AS DOUBLE)/n_chars ELSE 0 END <= 0.30)
             AS r_symbol,
           (n_tokens < 10 OR CAST(n_distinct AS DOUBLE)/n_tokens >= 0.30) AS r_repetition
    FROM f ORDER BY doc_id
    """,
)
def quality_rules_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The heuristic per-turn rules (length / symbol-ratio / repetition)
    applied to the documents table — SQL-oracle-checked end to end."""
    from .functions.textstats import with_text_features
    from .pipeline.rules import Thresholds, rule_columns

    t = Thresholds()
    df = with_text_features(_t(spark, sf_dir, "documents"))
    rules = rule_columns(t)
    return df.select(
        "doc_id",
        rules["r_len"].alias("r_len"),
        rules["r_symbol"].alias("r_symbol"),
        rules["r_repetition"].alias("r_repetition"),
    ).orderBy("doc_id")


@register(
    "null_semantics_events",
    oracle="""
    WITH e AS (
      SELECT date_trunc('day', ts) AS bucket_day,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS et,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT bucket_day,
           count(DISTINCT et) + max(CASE WHEN et IS NULL THEN 1 ELSE 0 END)
             AS et_nunique,
           round(avg(CASE WHEN et IS NULL THEN 1.0 ELSE 0.0 END), 6) AS et_null_ratio,
           count(DISTINCT v) + max(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
             AS v_nunique,
           round(avg(CASE WHEN v IS NULL THEN 1.0 ELSE 0.0 END), 6) AS v_null_ratio,
           round(avg(v), 6) AS v_mean
    FROM e GROUP BY 1 ORDER BY 1
    """,
)
def null_semantics_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics parity gate: Polars n_unique counts NULL as a
    distinct value (reference preprocess.py:216-217); Spark's
    collect_set drops it — n_unique_expr adds the indicator.
    Deterministic null injection so the delta is actually exercised (the
    raw tables have no nulls)."""
    from .functions.aggregates import n_unique_expr, null_ratio_expr
    from .functions.intervals import truncate_to_interval

    df = _t(spark, sf_dir, "events").select(
        truncate_to_interval(F.col("ts"), "1d").alias("bucket_day"),
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("event_type"))
        .alias("et"),
        F.when(F.col("event_id") % 11 == 0, None).otherwise(F.col("value")).alias("v"),
    )
    return (
        df.groupBy("bucket_day")
        .agg(
            n_unique_expr("et", df.schema["et"].dataType).alias("et_nunique"),
            F.round(null_ratio_expr("et"), 6).alias("et_null_ratio"),
            n_unique_expr("v", df.schema["v"].dataType).alias("v_nunique"),
            F.round(null_ratio_expr("v"), 6).alias("v_null_ratio"),
            F.round(F.avg("v"), 6).alias("v_mean"),
        )
        .orderBy("bucket_day")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / text analysis / similarity)
# ---------------------------------------------------------------------------

_DOCS_WITH_DUPS = """
    (SELECT doc_id, text FROM documents
     UNION ALL
     SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50)
"""


@register(
    "dedup_exact_documents",
    oracle=f"""
    SELECT digest, n_docs, keep_id FROM (
      SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS keep_id
      FROM {_DOCS_WITH_DUPS} GROUP BY 1
    ) WHERE n_docs > 1 ORDER BY digest
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups (hash-groupBy on md5 digest) over documents with
    50 planted duplicates — SURVEY training-data extension."""
    from .operators.dedup import exact_dup_groups

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return exact_dup_groups(docs.unionAll(dups))


@register(
    "text_stats_documents",
    oracle=r"""
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_extract_all(text, '\S+')) AS n_tokens,
           length(regexp_extract_all(text, '[!-/:-@\[-`{-~]')) AS n_symbols,
           length(regexp_extract_all(lower(text),
             '\b(?:the|and|of|is|to|a|in|for|with|on|it|this|that|we|our|an|be|as|at|by)\b'))
             AS n_stopwords,
           md5(lower(trim(text))) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, symbol counting, stopword counting, content
    fingerprint — the text-analysis feature set, JVM-side only."""
    from .functions.textstats import SYMBOL_CLASS, TOKEN_CLASS, STOPWORDS

    stop_re = r"\b(?:" + "|".join(STOPWORDS) + r")\b"
    df = _t(spark, sf_dir, "documents")
    return df.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.regexp_count("text", F.lit(TOKEN_CLASS)).alias("n_tokens"),
        F.regexp_count("text", F.lit(SYMBOL_CLASS)).alias("n_symbols"),
        F.regexp_count(F.lower("text"), F.lit(stop_re)).alias("n_stopwords"),
        F.md5(F.lower(F.trim("text"))).alias("fingerprint"),
    ).orderBy("doc_id")


_ANN_QUERY_VEC = [float(i % 7 - 3) for i in range(64)]
# three deterministic probe vectors for the batched-query ANN row
_ANN_MULTI_QUERIES = [
    (qid, [float((i * qid + qid) % 7 - 3) for i in range(64)]) for qid in (1, 2, 3)
]
_ANN_MULTI_VALUES_SQL = ", ".join(
    f"({qid}, {vec!r}::DOUBLE[])" for qid, vec in _ANN_MULTI_QUERIES
)


@register(
    "ann_multi_query_topk",
    oracle=f"""
    WITH q AS (
      SELECT * FROM (VALUES {_ANN_MULTI_VALUES_SQL}) AS t(query_id, qvec)
    ), scored AS (
      SELECT query_id, vec_id,
             list_cosine_similarity(CAST(embedding AS DOUBLE[]), qvec) AS c
      FROM embeddings, q
    ), ranked AS (
      SELECT query_id, vec_id, round(c, 6) AS cosine,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY c DESC, vec_id) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine, rank
    FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def ann_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact ANN: top-5 per query for three probe vectors in ONE
    corpus scan (broadcast query set + per-query ranking window) —
    the dedup-against-a-reference-set shape. Value-checked against
    DuckDB's cosine + window ranking."""
    from .operators.similarity import multi_query_topk

    df = _t(spark, sf_dir, "embeddings")
    return (
        multi_query_topk(df, _ANN_MULTI_QUERIES, k=5)
        .withColumn("cosine", F.round("cosine", 6))
        .orderBy("query_id", "rank")
    )


@register(
    "ann_cosine_topk",
    oracle=f"""
    SELECT vec_id,
           round(list_cosine_similarity(
             CAST(embedding AS DOUBLE[]),
             {_ANN_QUERY_VEC!r}::DOUBLE[]), 6) AS cosine
    FROM embeddings
    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             {_ANN_QUERY_VEC!r}::DOUBLE[]) DESC, vec_id
    LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column (exact ANN
    baseline; JVM zip_with/aggregate, TakeOrderedAndProject plan)."""
    from .operators.similarity import brute_force_topk

    df = _t(spark, sf_dir, "embeddings")
    out = brute_force_topk(df, _ANN_QUERY_VEC, k=10)
    return out.withColumn("cosine", F.round("cosine", 6))


@register(
    "embedding_pairs_exact",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def embedding_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs — broadcast-matmul
    formulation (one numpy matmul per Arrow batch instead of an
    interpreted per-pair expression; see similarity.exact_cosine_pairs)."""
    from .operators.similarity import exact_cosine_pairs

    e = _t(spark, sf_dir, "embeddings")
    inner = exact_cosine_pairs(e, threshold=0.5)
    return _carry_cached(
        inner.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b"),
        inner,
    )


@register(
    "minhash_near_dup_pairs",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 500
      UNION ALL
      SELECT doc_id + 100000, text || ' extra tail words'
      FROM documents WHERE doc_id < 50
    ), grams AS (
      SELECT DISTINCT doc_id, substr(text, i, 5) AS gram
      FROM base, UNNEST(range(1, greatest(length(text)-4, 1)+1)) AS t(i)
    ), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6
    ORDER BY 1, 2
    """,
)
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs over documents with 50 planted
    mutated copies, value-checked against DuckDB's EXACT 5-char-shingle
    Jaccard of every qualifying pair: the LSH candidate stage (r=2, b=32
    → pair-miss probability (1-s²)^32 < 1e-6 at the 0.6 threshold, and
    every observed pair sits ≥0.79) recalls every true pair on this data,
    and the verification stage computes exact Jaccard, so emitted ==
    exact. The input is bounded (550 docs) so the all-pairs oracle is
    feasible; the LSH plan itself never materializes all pairs."""
    from .operators.dedup import minhash_lsh_dedup_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text").filter("doc_id < 500")
    )
    mutated = (
        docs.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra tail words")))
    )
    inner = minhash_lsh_dedup_pairs(
        docs.unionAll(mutated), threshold=0.6, num_perm=64, bands=32
    )
    return _carry_cached(
        inner.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b"),
        inner,
    )


@register(
    "decontaminate_documents",
    oracle=r"""
    WITH eval_grams AS (
      SELECT DISTINCT substr(text, i, 8) AS g
      FROM documents, UNNEST(range(1, greatest(length(text)-7, 1)+1)) AS t(i)
      WHERE doc_id < 2
    ), doc_grams AS (
      SELECT DISTINCT doc_id, substr(text, i, 8) AS g
      FROM documents, UNNEST(range(1, greatest(length(text)-7, 1)+1)) AS t(i)
    ), hits AS (
      SELECT doc_id, count(*) AS n_shared_grams
      FROM doc_grams JOIN eval_grams USING (g)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
           coalesce(h.n_shared_grams, 0) > 0 AS contaminated
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every document sharing any 8-char
    gram with the 'eval set' (here: docs 0-1 as stand-in benchmark
    text) — the pre-training n-gram overlap check, broadcast-probe
    formulation, value-checked against the same construction in DuckDB."""
    from .operators.dedup import contamination_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter("doc_id < 2")
    return contamination_flags(docs, eval_set).orderBy("doc_id")


from .operators.sampling import sample_oracle_predicate as _sample_pred


@register(
    "deterministic_sample_documents",
    oracle=f"""
    SELECT doc_id, source FROM documents
    WHERE {_sample_pred(0.25, "doc_id")}
    ORDER BY doc_id
    """,
)
def deterministic_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 25% sample keyed on md5(doc_id) buckets — reproducible
    across engines/partitionings/runs (quota + holdout splitting for
    training pipelines); the DuckDB oracle applies the identical bucket
    predicate, so the sampled ROW SET must match exactly."""
    from .operators.sampling import deterministic_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return deterministic_sample(docs, rate=0.25, key_col="doc_id").orderBy("doc_id")


_SIMHASH_BASE_SQL = """
      SELECT doc_id, text FROM documents WHERE doc_id < 500
      UNION ALL
      SELECT doc_id + 100000, text || ' tail' FROM documents WHERE doc_id < 50"""


@register("fingerprint_candidates_documents", oracle=_fp_oracle(_SIMHASH_BASE_SQL))
def fingerprint_candidates_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-k md5 document fingerprints + containment-candidate pairs
    (≥4 of 8 sketch entries shared) over documents with planted mutated
    copies — pure Catalyst, value-checked against the identical DuckDB
    md5/sort/slice construction."""
    from .operators.dedup import fingerprint_overlap_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text").filter("doc_id < 500")
    )
    mutated = (
        docs.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    inner = fingerprint_overlap_pairs(docs.unionAll(mutated), min_shared=4)
    return _carry_cached(inner.orderBy("id_a", "id_b"), inner)


# Planted repetition probes: a keyword-stuffed doc and a looping doc so
# the repetition signals take non-trivial values on synthetic data.
_REP_PROBES = [
    (900001, "buy now " * 40 + "limited offer"),
    (900002, "alpha beta gamma delta " * 12),
]
_REP_PROBES_SQL = " UNION ALL ".join(
    f"SELECT {i} AS doc_id, '{t}' AS text" for i, t in _REP_PROBES
)


@register(
    "repetition_stats_documents",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
      FROM (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL """ + _REP_PROBES_SQL + r"""
      )
    ), sized AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct, w
      FROM base
    ), grams AS (
      SELECT doc_id, n_words, n_distinct, w[i] || ' ' || w[i+1] AS g
      FROM sized, UNNEST(range(1, len(w))) AS t(i)
    ), counts AS (
      SELECT doc_id, n_words, n_distinct, g, count(*) AS c
      FROM grams GROUP BY doc_id, n_words, n_distinct, g
    ), agg AS (
      SELECT doc_id, n_words, n_distinct, max(c) AS top, sum(c) AS total
      FROM counts GROUP BY doc_id, n_words, n_distinct
    )
    SELECT doc_id, n_words,
           round((n_words - n_distinct) * 1.0 / n_words, 6) AS dup_word_frac,
           round(top * 1.0 / total, 6) AS top_bigram_share
    FROM agg ORDER BY doc_id
    """,
)
def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-word fraction,
    top-bigram share) per document, over documents plus two planted
    repetitive probes — pure Catalyst, value-checked against a DuckDB
    re-implementation of the same word/2-gram pipeline."""
    from .functions.textstats import repetition_stats

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 200")
    )
    probes = spark.createDataFrame(_REP_PROBES, "doc_id long, text string")
    return repetition_stats(docs.unionAll(probes)).orderBy("doc_id")


# Planted multilingual probes for the langid oracle. Chosen so every \b
# dictionary-word hit is adjacent only to ASCII: DuckDB's RE2 treats
# non-ASCII as non-word while the byte-domain backend treats it as word,
# so keeping accents/Cyrillic/CJK away from dictionary words makes the
# two boundary definitions agree exactly; the single-char accent/script
# class counts are position-independent and always agree. For the same
# reason probes use only the ASCII words of each language's dictionary
# (não/são/também/più never appear — RE2's ASCII \b cannot see a
# boundary next to an accented letter, Unicode \b can).
_LANGID_PROBES = [
    "le chat et la mer avec des amis et chaque jour est beau é è ç û",
    "der hund und die katze laufen mit freude am ufer entlang ä ö ü ß",
    "привет мир это хорошо и ясно сегодня",
    "天 好 公 园 散 步 天 好",
    "el gato y los perros como siempre una vez por ano pero bueno ñ ¿ ¡",
    "uma casa dos homens das coisas mas tudo bem em paz ã õ ã õ",
    "il cane che corre per strada sono felice della nella vita ì ò",
    "こんにちは せかい きょうは いい てんき です ね",
    "0 1 2 3 4 ! ? . . .",
]
_LANGID_PROBES_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS text" for t in _LANGID_PROBES
)

# The detector's DuckDB/RE2 score spec lives in pipeline/oracle_sql.py
# (LANGID_SQL_SCORES) — the SAME table also builds the full quality
# pipeline's keep-flags oracle, so the three langid oracles cannot drift.
from .pipeline.oracle_sql import langid_label_case as _langid_label_case
from .pipeline.oracle_sql import langid_scored_select as _langid_scored_sel


def _langid_scored_select() -> str:
    return _langid_scored_sel("s")


@register(
    "langid_documents",
    oracle=f"""
    WITH corpus AS (
      SELECT text FROM documents
      UNION ALL {_LANGID_PROBES_SQL}
    ), scored AS (
      SELECT
        {_langid_scored_select()}
      FROM (SELECT lower(substr(coalesce(text, ''), 1, 400)) AS s FROM corpus)
    ), labeled AS (
      SELECT {_langid_label_case()} AS lang
      FROM scored
    )
    SELECT lang, count(*) AS n_docs FROM labeled GROUP BY lang ORDER BY lang
    """,
)
def langid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID labels + per-language counts over documents plus five
    planted multilingual probes (Arrow-batched char-ngram linear model).
    Value-checked end-to-end: the DuckDB oracle re-implements the model's
    regex spec (functions/langid.py _FEATURES, weights, MIN_SCORE, argmax
    tie order) in SQL — every label the vectorized byte-domain backend
    emits must match it exactly."""
    from .pipeline.features import langid_udf

    df = _t(spark, sf_dir, "documents").select("text")
    probes = spark.createDataFrame([(t,) for t in _LANGID_PROBES], "text string")
    return (
        df.unionAll(probes)
        .select(langid_udf("text").alias("lang"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


@register(
    "window_rank_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, rnk, running_spend FROM (
      SELECT o_custkey, o_orderkey,
             rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
               AS rnk,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend
      FROM orders
    ) WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey
    """,
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered window functions (rank + running sum) — the graft's
    conversation-reassembly machinery, oracle-checked."""
    from pyspark.sql import Window as W

    df = _t(spark, sf_dir, "orders")
    w_rank = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    w_run = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        df.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w_rank).alias("rnk"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .over(w_run)
            .cast("double")
            .alias("running_spend"),
        )
        .filter(F.col("rnk") <= 3)
        .orderBy("o_custkey", "rnk", "o_orderkey")
    )


@register(
    "salted_agg_events",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (skew-proof groupBy): partial agg on
    (key, salt) then final combine per key — must equal the plain GROUP BY,
    which is exactly what the oracle checks."""
    df = _t(spark, sf_dir, "events")
    salted = df.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(8)))
    partial = salted.groupBy("user_id", "_salt").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("_sum"),
        F.min("ts").alias("_min"),
        F.max("ts").alias("_max"),
    )
    return (
        partial.groupBy("user_id")
        .agg(
            F.sum("_n").alias("n_events"),
            F.sum("_sum").cast("double").alias("total_value"),
            F.min("_min").alias("first_ts"),
            F.max("_max").alias("last_ts"),
        )
        .orderBy("user_id")
    )


@register(
    "bucket_25h_events",
    oracle="""
    SELECT make_timestamp(CAST(floor(epoch(ts) / 90000) AS BIGINT) * 90000 * 1000000)
             AS bucket_25h,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def bucket_25h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 with an arbitrary composite interval ("1d1h" → 25h epoch-aligned
    tumbling buckets) — the reference's dt.truncate generalization."""
    from .functions.intervals import truncate_to_interval

    df = _t(spark, sf_dir, "events")
    return (
        df.groupBy(truncate_to_interval(F.col("ts"), "1d1h").alias("bucket_25h"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("bucket_25h")
    )


@register(
    "filter_transform_orders",
    oracle="""
    SELECT date_trunc('day', o_orderdate) AS bucket_day,
           count(*) AS n_orders,
           round(avg(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 6) AS target_avg,
           CAST(sum(CAST(o_totalprice * 1.1 AS DECIMAL(38,6))) AS DOUBLE) AS taxed_total
    FROM orders
    WHERE o_totalprice > 1000.0 AND CAST(o_orderdate AS DATE) > DATE '1995-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def filter_transform_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 SQL filter (with ::date shim) + P1 sequential transforms
    (replace-or-append, later exprs see earlier aliases)."""
    from .operators.preprocess import apply_filter, apply_transformations
    from .functions.intervals import truncate_to_interval

    df = _t(spark, sf_dir, "orders")
    df = apply_filter(
        df,
        "select * from self where o_totalprice > 1000.0 "
        "and o_orderdate::date > '1995-01-01'",
    )
    df = apply_transformations(
        df,
        {
            "target_column": "(o_orderstatus = 'F')::int",
            "taxed": "o_totalprice * 1.1",
        },
    )
    return (
        df.groupBy(truncate_to_interval(F.col("o_orderdate"), "1d").alias("bucket_day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("target_column"), 6).alias("target_avg"),
            # decimal-sum: exact + order-independent, so the value-hash is
            # stable across engines and partitionings (see module docstring)
            F.sum(F.col("taxed").cast("decimal(38,6)")).cast("double").alias("taxed_total"),
        )
        .orderBy("bucket_day")
    )


@register(
    "reassemble_events_by_user",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS trace,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def reassemble_events_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map reassembly oracle-checked end-to-end: each user's
    events delivered as one ordered group (the exact mechanism
    conversation reassembly uses on `conv_id`), rendered to an ordered
    trace string — equals DuckDB's string_agg(... ORDER BY).

    Uses ``applyInArrow`` (not applyInPandas — that variant lives in
    pipeline/reassembly.py): skipping the pandas conversion per group is
    ~6x faster at ~1.5k groups/100k rows, and the gap widens with group
    count."""
    import pyarrow as pa

    def _trace(tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        idx = pc.sort_indices(
            tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
        t = tbl.take(idx)
        ts = t.column("ts")
        return pa.table(
            {
                "user_id": pa.array([t.column("user_id")[0].as_py()], pa.int64()),
                "n_events": pa.array([t.num_rows], pa.int64()),
                "trace": pa.array([">".join(t.column("event_type").to_pylist())]),
                "first_ts": pa.array([pc.min(ts).as_py()], ts.type),
                "last_ts": pa.array([pc.max(ts).as_py()], ts.type),
            }
        )

    df = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    return (
        df.groupBy("user_id")
        .applyInArrow(
            _trace,
            schema="user_id bigint, n_events bigint, trace string, "
            "first_ts timestamp_ntz, last_ts timestamp_ntz",
        )
        .orderBy("user_id")
    )


@register(
    "ivf_ann_topk",
    oracle=f"""
    SELECT vec_id,
           round(list_cosine_similarity(
             CAST(embedding AS DOUBLE[]),
             {_ANN_QUERY_VEC!r}::DOUBLE[]), 6) AS cosine
    FROM embeddings
    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
             {_ANN_QUERY_VEC!r}::DOUBLE[]) DESC, vec_id
    LIMIT 10
    """,
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (spherical k-means cells, n_probe nearest cells
    scanned, exact cosine re-rank). Run at full probe width here
    (n_probe == n_centroids) so the WHOLE IVF machinery — sampled
    centroid training, Arrow cell assignment, probe routing, JVM cosine
    re-rank — executes and must reproduce the brute-force oracle exactly;
    partial-probe recall (n_probe < n_centroids) is gated in pytest."""
    from .operators.similarity import ivf_topk

    df = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(df, _ANN_QUERY_VEC, k=10, n_probe=8, n_centroids=8)
    return out.withColumn("cosine", F.round("cosine", 6))


@register(
    "token_counts_documents",
    oracle=r"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
             AS BIGINT) AS total_bpe_tokens,
           CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
             AS total_ws_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source ORDER BY source
    """,
)
def token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budgeting: whitespace + BPE-ish (GPT-2-flavored pretokenizer
    regex) token counts per source, all JVM-side regexp_count — the
    length-accounting pass of a training-data pipeline."""
    from .functions.textstats import TOKEN_CLASS, bpe_token_count

    df = _t(spark, sf_dir, "documents")
    return (
        df.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(bpe_token_count(F.col("text"))).alias("total_bpe_tokens"),
            F.sum(F.regexp_count("text", F.lit(TOKEN_CLASS))).alias("total_ws_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("source")
    )


@register(
    "ngram_jaccard_documents",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 120
      UNION ALL
      SELECT doc_id + 100000, text || ' extra tail words'
      FROM documents WHERE doc_id < 40
    ), toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l FROM base
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS gram
      FROM toks, UNNEST(range(1, greatest(len(l)-2, 1)+1)) AS t(i)
      WHERE len(array_to_string(l[i:i+2], ' ')) > 0
    ), sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM grams a JOIN grams b USING (gram)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.4
    ORDER BY 1, 2
    """,
)
def ngram_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (pure relational plan:
    explode distinct grams → gram equijoin → |∩|/|∪|), oracle-checked
    against DuckDB's list-slice n-gram construction — same window
    semantics including the short-document partial gram."""
    from .operators.dedup import ngram_jaccard_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text").filter("doc_id < 120")
    )
    mutated = (
        docs.filter("doc_id < 40")
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat("text", F.lit(" extra tail words")))
    )
    return (
        ngram_jaccard_pairs(docs.unionAll(mutated), n=3, threshold=0.4)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@register("simhash_near_dup_pairs", oracle=_simhash_oracle(_SIMHASH_BASE_SQL))
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (pigeonhole block join, Hamming
    verify) over documents with planted mutated copies — the pure-Catalyst
    md5-nibble variant, value-checked end-to-end: the DuckDB oracle
    rebuilds the SAME 64-bit signatures from the same block expressions
    (operators/dedup.py simhash_block_expr), so emitted pairs AND hamming
    values must agree bit-for-bit. The Arrow/numpy simhash
    (simhash_dedup_pairs) remains pytest-gated as the alternative
    backend."""
    from .operators.dedup import simhash_md5_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text").filter("doc_id < 500")
    )
    mutated = (
        docs.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    inner = simhash_md5_pairs(docs.unionAll(mutated), max_hamming=3)
    return _carry_cached(inner.orderBy("id_a", "id_b"), inner)


@register(
    "incremental_dedup_documents",
    oracle="""
    WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
    inc AS (SELECT * FROM d WHERE doc_id >= 250),
    hist AS (SELECT digest, CAST(min(doc_id) AS BIGINT) AS keep_id
             FROM d WHERE doc_id < 250 GROUP BY digest),
    firsts AS (SELECT digest, min(doc_id) AS first_inc FROM inc GROUP BY digest)
    SELECT i.doc_id, i.digest,
           CAST(CASE WHEN h.keep_id IS NOT NULL THEN h.keep_id
                WHEN f.first_inc < i.doc_id THEN f.first_inc END AS BIGINT)
             AS dup_of,
           (h.keep_id IS NULL AND f.first_inc = i.doc_id) AS is_new
    FROM inc i
    LEFT JOIN hist h USING (digest)
    LEFT JOIN firsts f USING (digest)
    ORDER BY i.doc_id
    """,
)
def incremental_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run exact dedup through a real on-disk digest store
    (operators/incremental.py ExactDedupStore): docs < 250 are ingested
    as 'history', the rest as the increment; the increment's dup_of /
    is_new flags are returned and value-checked against a DuckDB
    reconstruction of the same two-phase semantics. The store round-trip
    (bootstrap append -> probe join on re-read digests) is the part a
    pure-SQL query can't see — that's exactly what this exercises."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    from .operators.incremental import ExactDedupStore

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # the store outlives this function (the returned DataFrame reads it
    # lazily — no driver collect), so it lives at a per-(sf, process)
    # path: the pid nonce keeps two concurrent drivers on the same
    # sf_dir from rmtree-ing each other's store while the other's
    # lazily-returned DataFrame still reads it, and the atexit hook
    # cleans the leak up when this process ends
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = os.path.join(
        tempfile.gettempdir(), f"dedup_store_{tag}_{os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    store = ExactDedupStore(root)
    store.ingest(docs.filter("doc_id < 250")).count()  # history pass
    return store.ingest(docs.filter("doc_id >= 250")).orderBy("doc_id")


from .operators.sampling import stratified_sample_predicate as _strat_pred

_STRAT_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


@register(
    "stratified_sample_documents",
    oracle=f"""
    SELECT doc_id, source FROM documents
    WHERE {_strat_pred(_STRAT_FRACTIONS, "source", "doc_id", 0.05)}
    ORDER BY doc_id
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture reweighting: curated sources keep 100%/50%/...
    of rows, everything else thins to 5% — one CASE-threshold predicate
    inside the scan's codegen stage (no shuffle, no per-stratum pass),
    decisions stable across partitioning/engine/runs. The DuckDB oracle
    runs the IDENTICAL predicate, so the row SET itself is checked."""
    from .operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(
        docs, _STRAT_FRACTIONS, "source", "doc_id", default_rate=0.05
    ).orderBy("doc_id")


@register(
    "stratified_take_documents",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(concat(cast(source as string), ':',
                                   cast(doc_id as string))), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 7
    ORDER BY doc_id
    """,
)
def stratified_take_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-stratum deterministic selection (eval-set
    construction): md5-hash rank window per source, 7 docs each. DuckDB
    re-runs the same window — exact row-set parity."""
    from .operators.sampling import stratified_take

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_take(docs, 7, "source", "doc_id").orderBy("doc_id")


from .operators.dedup import simhash_md5_pairs_cte as _simhash_cte


@register(
    "near_dup_resolve_documents",
    oracle=f"""
    WITH RECURSIVE {_simhash_cte(_SIMHASH_BASE_SQL)},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src)
    SELECT n.doc_id,
           CAST(coalesce(c.component, n.doc_id) AS BIGINT) AS component,
           (c.component IS NULL OR c.component = n.doc_id) AS keep
    FROM (SELECT doc_id FROM base) n
    LEFT JOIN comp c USING (doc_id)
    ORDER BY n.doc_id
    """,
)
def near_dup_resolve_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup KEEP/DROP: simhash pairs (pure-Catalyst
    md5-nibble signatures) resolved into duplicate clusters by
    distributed min-label propagation with pointer jumping
    (operators/components.py), one representative kept per cluster.
    The DuckDB oracle rebuilds the identical pair set and closes it
    with a recursive transitive-reachability CTE — components, keep
    flags and cluster representatives must all agree exactly."""
    from .operators.components import resolve_duplicates
    from .operators.dedup import simhash_md5_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text").filter("doc_id < 500")
    )
    mutated = (
        docs.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    all_docs = docs.unionAll(mutated)
    pairs = simhash_md5_pairs(all_docs, max_hamming=3)
    return resolve_duplicates(all_docs, pairs).orderBy("doc_id")


from .functions.normalize import normalize_oracle_expr as _norm_expr

_NORM_PROBES = [
    (900001, "café  bar\tbaz\n"),          # decomposed é + ws runs
    (900002, "ctrl\x01\x02chars\x7fend"),        # control chars
    (900003, "  edge  spaces  "),
    (900004, "é composed vs café"),   # mixed forms
]
_NORM_PROBE_SQL = " UNION ALL ".join(
    f"SELECT {i} AS doc_id, '{t}' AS text" for i, t in _NORM_PROBES
)


@register(
    "normalize_text_documents",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
      UNION ALL {_NORM_PROBE_SQL}
    )
    SELECT doc_id, {_norm_expr('text')} AS text_norm
    FROM base ORDER BY doc_id
    """,
)
def normalize_text_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning normalization: NFC (Arrow UDF — DuckDB's native
    nfc_normalize makes this a rare oracle-checked pandas UDF) + control
    strip + whitespace collapse (JVM regex chains), over documents plus
    planted probes (decomposed accents, control chars, whitespace runs).
    String-exact value parity."""
    from .functions.normalize import with_normalized_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        "doc_id < 200"
    )
    probes = spark.createDataFrame(_NORM_PROBES, "doc_id long, text string")
    base = docs.unionByName(probes)
    return (
        with_normalized_text(base)
        .select("doc_id", "text_norm")
        .orderBy("doc_id")
    )


@register(
    "boilerplate_lines_documents",
    oracle="""
    WITH multi AS (
      SELECT CAST(doc_id // 4 AS BIGINT) AS doc_id,
             'HEADER: shared nav line' || chr(10) ||
             string_agg(substr(text, 1, 80), chr(10) ORDER BY doc_id) ||
             chr(10) || 'FOOTER: subscribe now' AS text
      FROM documents WHERE doc_id < 400 GROUP BY 1
    ),
    lines AS (
      SELECT doc_id, i AS pos,
             list_extract(string_split(text, chr(10)), i) AS line
      FROM multi,
           UNNEST(range(1, len(string_split(text, chr(10))) + 1)) AS t(i)
    ),
    boiler AS (
      SELECT line FROM (
        SELECT line, count(DISTINCT doc_id) AS n FROM lines GROUP BY line
      ) WHERE n >= 2
    ),
    kept AS (
      SELECT l.doc_id, l.pos, l.line FROM lines l
      ANTI JOIN boiler b USING (line)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT m.doc_id, coalesce(r.text_clean, '') AS text_clean
    FROM multi m LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY m.doc_id
    """,
)
def boilerplate_lines_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level boilerplate removal: multi-line docs are
    synthesized deterministically (groups of 4 doc prefixes + planted
    HEADER/FOOTER lines shared by every doc), then any line occurring in
    >= 2 distinct docs is dropped with line order preserved. The planted
    header/footer vanish everywhere; content lines survive unless two
    groups contain the same duplicate source text — DuckDB rebuilds the
    identical corpus and cleaning, string-exact parity."""
    from .operators.lines import remove_boilerplate_lines

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        "doc_id < 400"
    )
    grouped = docs.groupBy(
        F.floor(F.col("doc_id") / 4).cast("long").alias("doc_id")
    ).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("doc_id").alias("oid"),
                            F.substring("text", 1, 80).alias("sub"),
                        )
                    )
                ),
                lambda x: x["sub"],
            ),
        ).alias("body")
    )
    multi = grouped.select(
        "doc_id",
        F.concat(
            F.lit("HEADER: shared nav line\n"),
            F.col("body"),
            F.lit("\nFOOTER: subscribe now"),
        ).alias("text"),
    )
    return remove_boilerplate_lines(multi, min_docs=2).orderBy("doc_id")


@register(
    "dedup_lines_documents",
    oracle="""
    WITH multi AS (
      SELECT doc_id,
             substr(text, 1, 40) || chr(10) || substr(text, 41, 40) ||
             chr(10) || substr(text, 1, 40) || chr(10) ||
             substr(text, 41, 40) AS text
      FROM documents WHERE doc_id < 300
    ),
    lines AS (
      SELECT doc_id, i AS pos,
             list_extract(string_split(text, chr(10)), i) AS line
      FROM multi,
           UNNEST(range(1, len(string_split(text, chr(10))) + 1)) AS t(i)
    ),
    kept AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
      FROM lines
    )
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
    FROM kept WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_lines_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line collapse (generation-loop cleanup):
    docs are synthesized with each line repeated twice; only first
    occurrences survive, order preserved. DuckDB rebuilds the identical
    corpus and window — string-exact parity."""
    from .operators.lines import dedup_lines_within_doc

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        "doc_id < 300"
    )
    multi = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.substring("text", 41, 40),
            F.substring("text", 1, 40),
            F.substring("text", 41, 40),
        ).alias("text"),
    )
    return dedup_lines_within_doc(multi).orderBy("doc_id")


@register(
    "asof_join_events",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, max(value) AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id, l.ts,
           r.ts AS ts_asof,
           round(r.click_value, 6) AS click_value_asof
    FROM events l
    ASOF LEFT JOIN clicks r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY l.event_id
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (temporal) join — operators/asof.py: for every event, the
    most recent prior-or-simultaneous click of the same user. Spark has
    no native ASOF JOIN; the union + ordered-window carry-forward
    implementation (one shuffle, no range-join blow-up) is value-checked
    against DuckDB's NATIVE ASOF LEFT JOIN, including tie semantics
    (right events at the same timestamp match)."""
    from .operators.asof import asof_join_backward

    events = _t(spark, sf_dir, "events")
    left = events.select("event_id", "user_id", "ts")
    right = (
        events.filter("event_type = 'click'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join_backward(left, right, on="user_id")
    return out.select(
        "event_id", "user_id", "ts", "ts_asof",
        F.round("click_value_asof", 6).alias("click_value_asof"),
    ).orderBy("event_id")


@register(
    "vocab_topk_documents",
    oracle="""
    SELECT w AS word, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
      FROM documents
    )
    WHERE w <> ''
    GROUP BY w
    ORDER BY n DESC, w
    LIMIT 50
    """,
)
def vocab_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 most frequent lowercase word tokens
    (tokenizer-training prep). Plan: explode → two-phase hash count →
    TakeOrderedAndProject — the partial top-k never materializes the
    full sorted vocabulary on one node. Deterministic (n DESC, word)
    ordering; DuckDB recomputes the identical tokenization."""
    docs = _t(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word")
    ).filter("word <> ''")
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(50)
    )


@register(
    "sessionize_events",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_s
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event sessionization with Spark's native session_window (30-min
    inactivity gap; merged-window semantics, strict boundary — a gap of
    exactly 30 min starts a new session). The same operator runs
    unchanged under Structured Streaming with a watermark; the DuckDB
    oracle rebuilds sessions relationally (lag gap-mark + running sum)
    and must agree on every session's bounds and size."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter("ts IS NOT NULL AND user_id IS NOT NULL")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    )


@register(
    "calibrated_length_flags_documents",
    oracle="""
    WITH b AS (
      SELECT source,
             quantile_cont(n_chars, 0.01) AS lo,
             quantile_cont(n_chars, 0.99) AS hi
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
           round(b.lo, 6) AS lo, round(b.hi, 6) AS hi,
           (d.n_chars < b.lo OR d.n_chars > b.hi) AS len_outlier
    FROM documents d JOIN b USING (source)
    ORDER BY d.doc_id
    """,
)
def calibrated_length_flags_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-calibrated quality thresholds: per-source [p1, p99] length
    bounds computed from the corpus itself (one tiny agg, broadcast back,
    codegen'd comparison — no corpus shuffle), flagging outliers.
    Exact interpolated percentiles match DuckDB quantile_cont; the
    percentile_approx variant is the documented 10^12-row path."""
    from .operators.calibrate import with_calibrated_flags

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = with_calibrated_flags(docs, "n_chars", "source")
    return out.select(
        "doc_id", "source", "n_chars",
        F.round("lo", 6).alias("lo"), F.round("hi", 6).alias("hi"),
        "len_outlier",
    ).orderBy("doc_id")


@register(
    "pivot_event_types_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS bucket_day,
           CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def pivot_event_types_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native pivot: daily counts per event_type spread to columns (an
    explicit value list keeps the schema deterministic and lets Catalyst
    plan ONE aggregation pass — no per-category scan). DuckDB oracle via
    FILTERed counts, hash-exact."""
    ev = _t(spark, sf_dir, "events").filter("ts IS NOT NULL")
    out = (
        ev.groupBy(F.date_trunc("day", "ts").alias("bucket_day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    for c in ("click", "error", "purchase", "signup", "view"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)).cast("long"))
    return out.orderBy("bucket_day")


@register(
    "unpivot_interval_stats",
    oracle="""
    WITH agg AS (
      SELECT date_trunc('day', ts) AS bucket_day,
             round(avg(value), 6) AS value_mean,
             round(min(value), 6) AS value_min,
             round(max(value), 6) AS value_max
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT bucket_day, stat, round(v, 6) AS v
    FROM agg UNPIVOT (v FOR stat IN (value_mean, value_min, value_max))
    ORDER BY bucket_day, stat
    """,
)
def unpivot_interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native unpivot/melt: the wide per-interval stats frame reshaped to
    (bucket, stat, value) long form — the layout metric stores and chart
    pipelines consume. Spark `unpivot` vs DuckDB `UNPIVOT`, hash-exact."""
    ev = _t(spark, sf_dir, "events").filter("ts IS NOT NULL")
    wide = ev.groupBy(F.date_trunc("day", "ts").alias("bucket_day")).agg(
        F.round(F.avg("value"), 6).alias("value_mean"),
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.max("value"), 6).alias("value_max"),
    )
    return (
        wide.unpivot(
            "bucket_day",
            ["value_mean", "value_min", "value_max"],
            "stat",
            "v",
        )
        .withColumn("v", F.round("v", 6))
        .orderBy("bucket_day", "stat")
    )


@register(
    "chunk_documents_64_16",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents WHERE doc_id < 120
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             array_to_string(list_slice(t, i * 48 + 1, i * 48 + 64), ' ')
               AS chunk_text
      FROM (
        SELECT doc_id, t,
               UNNEST(range(0, CAST(ceil(len(t) / 48.0) AS BIGINT))) AS i
        FROM toks WHERE len(t) > 0
      )
    )
    SELECT doc_id, chunk_idx, chunk_text,
           CAST(len(list_filter(string_split_regex(chunk_text, '\s+'),
                                x -> x <> '')) AS INT) AS n_chunk_tokens
    FROM chunks ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents_64_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (64-token windows, 16-token overlap) — the
    context-length budgeting stage of a pretraining pipeline, pure
    Catalyst array exprs, map-only (operators/chunking.py)."""
    from .operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return chunk_documents(docs, chunk_tokens=64, overlap=16).orderBy(
        "doc_id", "chunk_idx"
    )


@register(
    "tfidf_top_terms_documents",
    oracle=r"""
    WITH terms AS (
      SELECT doc_id, UNNEST(list_filter(
               string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))
               AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
    docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((n.n_docs + 1.0) / (docfreq.df + 1.0)) + 1.0) AS score
      FROM tf JOIN docfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term,
             CAST(row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, term) AS INT) AS rank,
             round(score, 6) AS score
      FROM scored
    )
    SELECT doc_id, term, rank, score FROM ranked
    WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (smoothed idf, deterministic
    tie order) — keyword extraction for corpus exploration/routing
    (functions/textstats.tfidf_top_terms)."""
    from .functions.textstats import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank")


@register(
    "pack_chunks_256",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents WHERE doc_id < 120
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             CAST(len(list_slice(t, i * 48 + 1, i * 48 + 64)) AS INT)
               AS n_chunk_tokens
      FROM (
        SELECT doc_id, t,
               UNNEST(range(0, CAST(ceil(len(t) / 48.0) AS BIGINT))) AS i
        FROM toks WHERE len(t) > 0
      )
    ),
    cum AS (
      SELECT doc_id, chunk_idx, n_chunk_tokens,
             CAST(coalesce(sum(n_chunk_tokens) OVER (
               ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS before
      FROM chunks
    )
    SELECT doc_id, chunk_idx,
           CAST(floor(before / 256.0) AS BIGINT) AS pack_id,
           CAST(before % 256 AS INT) AS pack_offset,
           n_chunk_tokens
    FROM cum ORDER BY doc_id, chunk_idx
    """,
)
def pack_chunks_256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (greedy concat into 256-token packs) over the
    chunked documents — the distributed-prefix-sum operator
    (operators/chunking.pack_chunks): per-partition running sums +
    broadcast partition offsets, never a single global sort reducer.
    The DuckDB oracle is the semantic spec (one global window)."""
    from .operators.chunking import chunk_documents, pack_chunks

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    chunks = chunk_documents(docs, chunk_tokens=64, overlap=16)
    return (
        pack_chunks(chunks, capacity=256)
        .select("doc_id", "chunk_idx", "pack_id", "pack_offset", "n_chunk_tokens")
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "dup_span_stats_documents",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents
    ),
    base AS (
      SELECT doc_id, t, CAST(len(t) AS INT) AS n_tokens
      FROM toks WHERE len(t) >= 5
    ),
    grams AS (
      SELECT doc_id, n_tokens, CAST(i AS INT) AS pos,
             array_to_string(list_slice(t, i + 1, i + 5), ' ') AS gram
      FROM (
        SELECT doc_id, t, n_tokens, UNNEST(range(0, n_tokens - 5 + 1)) AS i
        FROM base
      )
    ),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    dpos AS (SELECT doc_id, n_tokens, pos FROM grams JOIN dup USING (gram)),
    sweep AS (
      SELECT doc_id, n_tokens, pos,
             max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
      FROM dpos
    ),
    agg AS (
      SELECT doc_id, n_tokens,
             CAST(count(*) AS BIGINT) AS n_dup_grams,
             CAST(sum(CASE WHEN m IS NULL OR pos > m + 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_spans,
             CAST(sum(greatest(0, pos + 4
                  - greatest(coalesce(m, pos - 1), pos - 1))) AS BIGINT)
               AS covered_tokens
      FROM sweep GROUP BY 1, 2
    )
    SELECT doc_id, n_tokens, n_dup_grams, n_spans, covered_tokens,
           round(covered_tokens / n_tokens, 6) AS dup_fraction
    FROM agg ORDER BY doc_id
    """,
)
def dup_span_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022 semantics via
    k-gram inversion): per-doc maximal duplicated runs of >= 5 tokens
    with union coverage — the span-cut dedup stage
    (operators/spans.duplicated_span_stats)."""
    from .operators.spans import duplicated_span_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_span_stats(docs, k=5, min_count=2).orderBy("doc_id")


from .operators.bloom import bit_position_expr_at as _bloom_pos

_BLOOM_M = 1 << 15
_BLOOM_ORACLE = f"""
    WITH hist AS (
      SELECT md5(text) AS h, text FROM documents WHERE doc_id % 2 = 0
    ),
    hpos AS (
      SELECT {_bloom_pos('h', 'j.j', _BLOOM_M)} AS p
      FROM hist, (SELECT UNNEST(range(0, 3)) AS j) j
    ),
    bloom AS (
      SELECT p // 32 AS bucket,
             bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
      FROM hpos GROUP BY 1
    ),
    probe AS (
      SELECT doc_id, text, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
    ),
    ppos AS (
      SELECT doc_id, {_bloom_pos('h', 'j.j', _BLOOM_M)} AS p
      FROM probe, (SELECT UNNEST(range(0, 3)) AS j) j
    ),
    hits AS (
      SELECT doc_id,
             bool_and(coalesce(
               (b.bits & (CAST(1 AS BIGINT) << CAST(p.p % 32 AS INT))) <> 0,
               FALSE)) AS maybe_seen
      FROM ppos p LEFT JOIN bloom b ON b.bucket = p.p // 32
      GROUP BY doc_id
    )
    SELECT p.doc_id, h.maybe_seen,
           EXISTS (SELECT 1 FROM hist WHERE hist.text = p.text) AS seen
    FROM probe p JOIN hits h USING (doc_id) ORDER BY p.doc_id
"""


@register("bloom_probe_documents", oracle=_BLOOM_ORACLE)
def bloom_probe_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership prefilter: even-id documents build a
    2^15-bit / 3-hash bitset (distributed bit_or aggregation, bounded
    driver collect), odd-id documents probe it map-only via a broadcast
    literal array (operators/bloom.py). `seen` is the exact answer, so
    the value check also certifies the no-false-negative property on
    this data; the DuckDB oracle rebuilds the identical bitset from the
    same md5-nibble arithmetic."""
    from .operators.bloom import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 2 == 0)
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    bits = bloom_build(hist, key_col="text", m_bits=_BLOOM_M, n_hashes=3)
    out = bloom_probe(probe, bits, key_col="text", n_hashes=3)
    seen = hist.select("text").distinct().withColumn("_seen", F.lit(True))
    return (
        out.join(seen, "text", "left")
        .select(
            "doc_id",
            "maybe_seen",
            F.coalesce(F.col("_seen"), F.lit(False)).alias("seen"),
        )
        .orderBy("doc_id")
    )


from .operators.sampling import balanced_mix_oracle_sql as _mix_oracle


@register(
    "balanced_mix_documents",
    oracle=_mix_oracle("documents", "d.doc_id, d.lang, d.source")
    + " ORDER BY d.doc_id",
)
def balanced_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing rebalance: thin every language stratum toward the
    rarest language's count — tiny count agg, exact-integer thresholds
    broadcast back, md5-bucket keep decision in scan codegen
    (operators/sampling.balanced_mix_sample)."""
    from .operators.sampling import balanced_mix_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return (
        balanced_mix_sample(docs, strata_col="lang", key_col="doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "kmeans_embeddings_2iter",
    oracle="""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT CAST(vec_id AS INT) AS cell,
             list_transform(v, x -> round(x, 6)) AS c
      FROM vecs WHERE vec_id < 4
    ),
    a1 AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_sum(list_transform(range(1, 65),
                 i -> (v[i] - c.c[i]) * (v[i] - c.c[i]))), cell) AS rk
      FROM vecs, c0 c
    ),
    m1 AS (SELECT vec_id, v, cell FROM a1 WHERE rk = 1),
    c1 AS (
      SELECT cell, list(round(m, 6) ORDER BY pos) AS c
      FROM (
        SELECT cell, i.i AS pos, avg(v[i.i]) AS m
        FROM m1, (SELECT UNNEST(range(1, 65)) AS i) i
        GROUP BY cell, i.i
      ) GROUP BY cell
    ),
    a2 AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_sum(list_transform(range(1, 65),
                 i -> (v[i] - c.c[i]) * (v[i] - c.c[i]))), cell) AS rk
      FROM vecs, c1 c
    ),
    m2 AS (SELECT vec_id, cell, v FROM a2 WHERE rk = 1)
    SELECT CAST(cell AS INT) AS cell, CAST(i.i - 1 AS INT) AS pos,
           round(avg(v[i.i]), 6) AS centroid_val,
           CAST(count(*) AS BIGINT) AS n_members
    FROM m2, (SELECT UNNEST(range(1, 65)) AS i) i
    GROUP BY cell, i.i ORDER BY cell, pos
    """,
)
def kmeans_embeddings_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means, 2 iterations, k=4 over the embeddings
    table — iterative broadcast refinement in pure Catalyst (assignment
    via zip_with/aggregate/array_min codegen, update via posexplode +
    k*d-group avg, bounded O(k*d) driver collect per iteration). The
    DuckDB oracle unrolls both iterations as CTEs
    (operators/kmeans.kmeans_stats)."""
    from .operators.kmeans import kmeans_stats

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_stats(emb, k=4, iters=2).orderBy("cell", "pos")


from .functions.classifier import (
    lr_score_oracle_sql as _lr_score_oracle,
    lr_train_oracle_sql as _lr_train_oracle,
)

_LR_SCORE_W = [0.0, 0.5, 8.0, -2.0]


@register(
    "lr_train_documents",
    oracle=_lr_train_oracle("documents", lr=8.0, iters=4),
)
def lr_train_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training (full-batch GD, 4
    iterations) distilling a heuristic token-count rule into a smooth
    quality scorer — one partial/final gradient aggregation per
    iteration, bounded O(d) collect, engine-rounded weight trajectory
    value-checked by a CTE-unrolled oracle
    (functions/classifier.lr_train_stats)."""
    from .functions.classifier import lr_train_stats

    docs = _t(spark, sf_dir, "documents").select("text")
    return lr_train_stats(docs, lr=8.0, iters=4)


@register(
    "lr_score_documents",
    oracle=_lr_score_oracle("documents", _LR_SCORE_W) + " ORDER BY doc_id",
)
def lr_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: sigmoid(w·x) over JVM feature
    expressions, map-only in scan codegen — the classifier-filter stage
    (functions/classifier.lr_score)."""
    from .functions.classifier import lr_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        lr_score(docs, _LR_SCORE_W)
        .select("doc_id", "keep", "score")
        .orderBy("doc_id")
    )


@register(
    "drift_flags_events_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, avg(value) AS metric
      FROM events GROUP BY 1, 2
    ),
    roll AS (
      SELECT event_type, day, metric,
             avg(metric) OVER w AS m,
             stddev(metric) OVER w AS s,
             count(metric) OVER w AS n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, round(metric, 6) AS metric,
           round(m, 6) AS base_mean, round(s, 6) AS base_std,
           CAST(n AS BIGINT) AS n_baseline,
           coalesce(n >= 3 AND metric IS NOT NULL AND s IS NOT NULL
                    AND s > 0 AND abs(metric - m) > 2.0 * s, FALSE) AS drift
    FROM roll ORDER BY event_type, day
    """,
)
def drift_flags_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric drift detection: rolling 7-interval z-score (z=2, current
    row excluded, warm-up guarded) over the daily mean-value series per
    event type — pipeline-health monitoring over interval stats
    (operators/drift.rolling_drift_flags)."""
    from .operators.drift import rolling_drift_flags

    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.avg("value").alias("metric"))
    out = rolling_drift_flags(
        daily, "metric", "day", ["event_type"], window=7, z=2.0, min_periods=3
    )
    return out.select(
        "event_type",
        "day",
        F.round(F.col("metric"), 6).alias("metric"),
        "base_mean",
        "base_std",
        "n_baseline",
        "drift",
    ).orderBy("event_type", "day")


def _profile_oracle_events() -> str:
    """UNION-ALL oracle mirroring operators/profile.profile_table over
    the events table (same metrics, same double casts)."""
    pieces = []

    def add(col: str, metric: str, expr: str) -> None:
        pieces.append(
            f"SELECT '{col}' AS \"column\", '{metric}' AS metric, "
            f"CAST({expr} AS DOUBLE) AS value FROM events"
        )

    numeric = {"event_id", "user_id", "value"}
    atomic = numeric | {"ts", "event_type", "props"}
    for c in ["event_id", "ts", "user_id", "event_type", "value", "props"]:
        add(c, "n_nonnull", f"count({c})")
        add(c, "n_null", f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)")
        if c in atomic:
            add(c, "n_distinct", f"count(DISTINCT {c})")
        if c in numeric:
            add(c, "min", f"round(CAST(min({c}) AS DOUBLE), 6)")
            add(c, "max", f"round(CAST(max({c}) AS DOUBLE), 6)")
            add(c, "mean", f"round(avg({c}), 6)")
        elif c == "ts":
            add(c, "min", f"epoch(min({c}))")
            add(c, "max", f"epoch(max({c}))")
    return "\nUNION ALL\n".join(pieces) + '\nORDER BY "column", metric'


@register("profile_events", oracle=_profile_oracle_events())
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table column profiling (null counts, cardinality, numeric /
    timestamp ranges) in ONE aggregation pass + stack unpivot — the
    generic schema-drift / ingestion-break detector
    (operators/profile.profile_table)."""
    from .operators.profile import profile_table

    events = _t(spark, sf_dir, "events")
    return profile_table(events).orderBy("column", "metric")


# ---------------------------------------------------------------------------
# HTML → text extraction + URL/domain stats (operators/html.py)
# ---------------------------------------------------------------------------

# synthesized-markup token stream: ONE spec renders both the Spark
# Column and the DuckDB expression, so the fixture construction cannot
# drift between engines. Tokens: ("lit", s) literal, ("id",) doc_id as
# string, ("mod", n) doc_id % n, ("body",) the text-derived paragraph.
_HTML_TOKENS: list[tuple] = [
    ("lit", '<!DOCTYPE html><html><head><title>Doc '),
    ("id",),
    ("lit", ' &amp; co</title><style>p{color:red;font-size:10px}</style>'
            '<script type="text/javascript">if(a<b){x="</div>";}</script>'
            '</head><body><!-- build '),
    ("id",),
    ("lit", ' --><h1>Title &lt;'),
    ("id",),
    ("lit", '&gt;</h1><p>'),
    ("body",),
    ("lit", '</p><div class="c">second &quot;block&quot; &#39;q&#39;</div>'
            '<a href="https://ex'),
    ("mod", 5),
    ("lit", '.example.com/p?q='),
    ("id",),
    ("lit", '">link '),
    ("id",),
    ("lit", '</a><ul><li>item&nbsp;one</li><li>item '),
    ("id",),
    ("lit", ' two</li></ul></body></html>'),
]


def _html_spark_col() -> F.Column:
    did = F.col("doc_id").cast("string")
    sub = F.substring("text", 1, 120)
    body = F.when(
        F.col("doc_id") % 3 == 0, F.regexp_replace(sub, " ", "<br>")
    ).otherwise(sub)
    parts = []
    for tok in _HTML_TOKENS:
        if tok[0] == "lit":
            parts.append(F.lit(tok[1]))
        elif tok[0] == "id":
            parts.append(did)
        elif tok[0] == "mod":
            parts.append((F.col("doc_id") % tok[1]).cast("string"))
        else:
            parts.append(body)
    return F.concat(*parts)


def _html_duck_expr() -> str:
    body = (
        "CASE WHEN doc_id % 3 = 0 THEN replace(substr(text, 1, 120), ' ', "
        "'<br>') ELSE substr(text, 1, 120) END"
    )
    parts = []
    for tok in _HTML_TOKENS:
        if tok[0] == "lit":
            parts.append("'" + tok[1].replace("'", "''") + "'")
        elif tok[0] == "id":
            parts.append("CAST(doc_id AS VARCHAR)")
        elif tok[0] == "mod":
            parts.append(f"CAST(doc_id % {tok[1]} AS VARCHAR)")
        else:
            parts.append(body)
    return " || ".join(parts)


def _html_extract_oracle() -> str:
    from .operators.html import strip_oracle_expr

    return f"""
    WITH src AS (
      SELECT doc_id, {_html_duck_expr()} AS html
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, {strip_oracle_expr('html')} AS text_clean
    FROM src ORDER BY doc_id
    """


@register("html_extract_documents", oracle=_html_extract_oracle())
def html_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style HTML → text: markup synthesized deterministically from
    documents (script/style/comment bodies, block tags, entity subset,
    <br> paragraphs on every 3rd doc), stripped by the shared rule
    chain (operators/html.py). Map-only JVM regexp chain — the plan is
    one Project over the scan; DuckDB runs the identical chain,
    string-exact parity."""
    from .operators.html import html_to_text

    docs = (
        _t(spark, sf_dir, "documents")
        .filter("doc_id < 300")
        .select("doc_id", _html_spark_col().alias("html"))
    )
    return (
        html_to_text(docs, "html", "text_clean")
        .select("doc_id", "text_clean")
        .orderBy("doc_id")
    )


@register(
    "url_domain_stats_documents",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' see https://ex' || CAST(doc_id % 5 AS VARCHAR) ||
             '.example.com/p/' || CAST(doc_id AS VARCHAR) ||
             ' and http://SITE' || CAST(doc_id % 3 AS VARCHAR) ||
             '.org/x?y=1 done' AS text
      FROM documents
    ),
    urls AS (
      SELECT doc_id,
             lower(regexp_extract(u, '^https?://([^/:?#]+)', 1)) AS domain
      FROM aug, UNNEST(regexp_extract_all(
        text, 'https?://[^ \t\n\r"''<>()\[\]]+')) AS t(u)
    )
    SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM urls WHERE domain <> '' GROUP BY domain ORDER BY domain
    """,
)
def url_domain_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL stats over documents with deterministically
    planted links (mixed-case host tests lowercasing): map-side
    extract/explode → ONE hash aggregation keyed by domain
    (operators/html.url_domain_stats)."""
    from .operators.html import url_domain_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://ex"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://SITE"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit(".org/x?y=1 done"),
        ).alias("text"),
    )
    return url_domain_stats(docs).orderBy("domain")


def _weighted_take_oracle() -> str:
    from .operators.sampling import weighted_take_oracle_sql

    return weighted_take_oracle_sql(
        "documents", 120, "n_chars", "doc_id, n_chars"
    )


@register("weighted_sample_documents", oracle=_weighted_take_oracle())
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-biased deterministic sampling: 120 docs drawn without
    replacement with probability ∝ n_chars (Efraimidis–Spirakis
    exponential race on md5-derived uniforms;
    operators/sampling.weighted_take). Global bottom-n plans as
    TakeOrderedAndProject — per-partition heaps, no full sort."""
    from .operators.sampling import weighted_take

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_take(docs, 120, "n_chars").orderBy("doc_id")


def _snapshot_diff_oracle() -> str:
    from .operators.diffing import content_digest_expr

    dig = content_digest_expr(["text", "lang", "source", "n_chars"])
    return f"""
    WITH old_t AS (
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id < 400
    ),
    new_t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
             lang, source, n_chars
      FROM documents WHERE doc_id < 400 AND doc_id % 10 <> 0
      UNION ALL
      SELECT doc_id + 10000, text, lang, source, n_chars
      FROM documents WHERE doc_id < 30
    ),
    od AS (SELECT doc_id, {dig} AS dig FROM old_t),
    nd AS (SELECT doc_id, {dig} AS dig FROM new_t),
    j AS (
      SELECT coalesce(od.doc_id, nd.doc_id) AS doc_id,
             CASE WHEN od.dig IS NULL THEN 'added'
                  WHEN nd.dig IS NULL THEN 'removed'
                  WHEN od.dig <> nd.dig THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM od FULL JOIN nd ON od.doc_id = nd.doc_id
    )
    SELECT doc_id, status FROM j WHERE status <> 'unchanged'
    ORDER BY doc_id
    """


@register("snapshot_diff_documents", oracle=_snapshot_diff_oracle())
def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff: two snapshots synthesized from documents
    (every 10th doc removed, every 7th surviving doc's text edited, 30
    re-keyed docs added) classified added/removed/changed by md5 content
    digest (operators/diffing.table_diff). The full-outer join shuffles
    only (key, digest) — payloads collapse map-side."""
    from .operators.diffing import table_diff

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    old = docs.filter("doc_id < 400")
    surviving = old.filter("doc_id % 10 != 0").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter("doc_id < 30").withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    new = surviving.unionByName(added)
    return table_diff(old, new, ["doc_id"]).orderBy("doc_id")


@register(
    "rollup_event_stats",
    oracle="""
    SELECT coalesce(event_type, '<all>') AS event_type,
           strftime(coalesce(CAST(date_trunc('day', ts) AS DATE),
                             DATE '1900-01-01'), '%Y-%m-%d') AS day,
           CAST(GROUPING(event_type, date_trunc('day', ts)) AS BIGINT)
             AS level,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value,
           round(avg(value), 6) AS avg_value
    FROM events
    GROUP BY ROLLUP(event_type, date_trunc('day', ts))
    ORDER BY level, event_type, day
    """,
)
def rollup_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level OLAP aggregation in ONE pass: Spark's native rollup
    plans a single Expand + partial/final HashAggregate pair computing
    (event_type, day), (event_type) and grand-total levels together —
    at 10^12 rows one scan instead of three. grouping_id() disambiguates
    rolled-up NULLs from data NULLs (same bitmask as DuckDB GROUPING)."""
    events = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    return (
        events.rollup(F.col("event_type"), day.alias("day"))
        .agg(
            F.grouping_id().cast("long").alias("level"),
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("day").cast("string"), F.lit("1900-01-01")).alias(
                "day"
            ),
            "level",
            "n",
            "sum_value",
            "avg_value",
        )
        .orderBy("level", "event_type", "day")
    )


@register(
    "range_join_events",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (SELECT event_type, avg(n) AS avg_n FROM daily GROUP BY 1),
    promos AS (
      SELECT d.event_type, d.day AS start_ts,
             d.day + INTERVAL 2 DAY AS end_ts
      FROM daily d JOIN stats s USING (event_type)
      WHERE d.n > 1.05 * s.avg_n
    ),
    j AS (
      SELECT p.event_type, p.start_ts, e.value
      FROM promos p JOIN events e
        ON e.event_type = p.event_type
       AND e.ts >= p.start_ts AND e.ts < p.end_ts
    )
    SELECT event_type, strftime(start_ts, '%Y-%m-%d') AS win_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM j GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join WITHOUT a nested-loop plan: hot-day
    promo windows (daily count > 1.05x the type's average, 2-day span —
    overlapping windows exercise multi-match) are bucket-exploded and
    equi-joined to events on (event_type, day-bucket), exact range
    predicate as a codegen post-filter (operators/rangejoin). DuckDB's
    native inequality join is the value oracle."""
    from .operators.rangejoin import range_join_points

    events = _t(spark, sf_dir, "events").select("event_type", "ts", "value")
    day = F.date_trunc("day", F.col("ts"))
    daily = events.groupBy("event_type", day.alias("day")).agg(
        F.count("*").alias("n")
    )
    stats = daily.groupBy("event_type").agg(F.avg("n").alias("avg_n"))
    promos = (
        daily.join(stats, "event_type")
        .filter(F.col("n") > 1.05 * F.col("avg_n"))
        .select(
            "event_type",
            F.col("day").alias("start_ts"),
            (F.col("day") + F.expr("INTERVAL 2 DAYS")).alias("end_ts"),
        )
    )
    joined = range_join_points(
        events,
        promos,
        keys=["event_type"],
        point_ts="ts",
        start="start_ts",
        end="end_ts",
        bucket_width_seconds=86400,
    )
    return (
        joined.groupBy(
            "event_type", F.date_format("start_ts", "yyyy-MM-dd").alias("win_start")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("event_type", "win_start")
    )


@register(
    "semdedup_embeddings",
    oracle="""
    WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (
      SELECT CAST(vec_id AS INT) AS cell,
             list_transform(v, x -> round(x, 6)) AS c
      FROM vecs WHERE vec_id < 4
    ),
    a1 AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_sum(list_transform(range(1, 65),
                 i -> (v[i] - c.c[i]) * (v[i] - c.c[i]))), cell) AS rk
      FROM vecs, c0 c
    ),
    m1 AS (SELECT vec_id, v, cell FROM a1 WHERE rk = 1),
    c1 AS (
      SELECT cell, list(round(m, 6) ORDER BY pos) AS c
      FROM (
        SELECT cell, i.i AS pos, avg(v[i.i]) AS m
        FROM m1, (SELECT UNNEST(range(1, 65)) AS i) i
        GROUP BY cell, i.i
      ) GROUP BY cell
    ),
    a2 AS (
      SELECT vec_id, v, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY
               list_sum(list_transform(range(1, 65),
                 i -> (v[i] - c.c[i]) * (v[i] - c.c[i]))), cell) AS rk
      FROM vecs, c1 c
    ),
    m2 AS (SELECT vec_id, cell, v FROM a2 WHERE rk = 1),
    pairs AS (
      SELECT b.cell AS cell, b.vec_id AS vec_id,
             max(list_cosine_similarity(a.v, b.v)) AS max_sim
      FROM m2 a JOIN m2 b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    )
    SELECT CAST(cell AS INT) AS cell, CAST(vec_id AS BIGINT) AS vec_id,
           round(max_sim, 6) AS max_sim
    FROM pairs WHERE max_sim > 0.3
    ORDER BY cell, vec_id
    """,
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): k-means the embedding space (k=4,
    one Lloyd update, same deterministic fit as kmeans_embeddings_2iter),
    then per-cluster Arrow grouped-map — ONE numpy matmul per cell —
    marks every vector whose cosine to a lower-id cluster member
    exceeds tau=0.3 as a semantic duplicate. The DuckDB oracle unrolls
    the fit CTEs and re-derives the dropped set with
    list_cosine_similarity (operators/semdedup)."""
    from .operators.kmeans import kmeans_fit
    from .operators.semdedup import semantic_dedup_dropped

    emb = _t(spark, sf_dir, "embeddings")
    centroids = kmeans_fit(emb, k=4, iters=1)
    dropped = semantic_dedup_dropped(emb, centroids, tau=0.3)
    return dropped.select(
        "cell", "vec_id", F.round("max_sim", 6).alias("max_sim")
    ).orderBy("cell", "vec_id")


def _conv_features_oracle(path: str) -> str:
    return f"""
    WITH t AS (
      SELECT conv_id, turn_idx, role, tool, text, ts,
             lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS prev_role
      FROM read_parquet('{path}')
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
           round(coalesce(
             avg(CASE WHEN prev_role IS NULL THEN NULL
                      WHEN role <> prev_role THEN 1.0 ELSE 0.0 END), 0.0),
             6) AS alternation_rate,
           round(avg(CASE WHEN tool IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
             AS tool_rate,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(date_part('epoch', max(ts) - min(ts)) AS BIGINT)
             AS duration_sec
    FROM t GROUP BY conv_id ORDER BY conv_id
    """


@register(
    "conv_features_transcripts",
    oracle=None,  # bound below once the fixture path is known
)
def conv_features_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level features over the transcripts fixture in ONE
    shuffle: a lag window partitioned by conv_id (role-alternation rate
    needs turn order) feeds the same groupBy — Spark plans a single
    Exchange on conv_id shared by the window sort and the aggregation.
    n_roles is exact (roles are a tiny enum), duration from ts extrema."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = t.withColumn("prev_role", F.lag("role").over(w))
    return (
        t.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.count_distinct("role").alias("n_roles"),
            F.round(
                F.coalesce(
                    F.avg(
                        F.when(F.col("prev_role").isNull(), None)
                        .when(F.col("role") != F.col("prev_role"), 1.0)
                        .otherwise(0.0)
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("alternation_rate"),
            F.round(
                F.avg(F.when(F.col("tool").isNotNull(), 1.0).otherwise(0.0)), 6
            ).alias("tool_rate"),
            F.sum(F.length("text")).alias("total_chars"),
            # ts is TIMESTAMP_NTZ: subtracting yields a day-time interval,
            # which casts to whole seconds without any session-tz epoch
            # conversion (the driver-tz trap a unix_timestamp round-trip
            # would hit).
            (F.max("ts") - F.min("ts"))
            .cast("interval day to second")
            .cast("long")
            .alias("duration_sec"),
        )
        .orderBy("conv_id")
    )


ORACLES["conv_features_transcripts"] = _conv_features_oracle(FIXTURE_TRANSCRIPTS)


def _turn_dedup_oracle(path: str) -> str:
    return f"""
    WITH t AS (SELECT conv_id, turn_idx, text FROM read_parquet('{path}')),
    g AS (
      SELECT md5(text) AS text_md5,
             count(*) AS n_total,
             count(DISTINCT conv_id) AS n_convs,
             min(conv_id) AS first_conv
      FROM t GROUP BY 1
    )
    SELECT text_md5, CAST(n_total AS BIGINT) AS n_total,
           CAST(n_convs AS BIGINT) AS n_convs, first_conv
    FROM g WHERE n_convs > 1
    ORDER BY text_md5
    """


@register(
    "turn_dedup_transcripts",
    oracle=None,  # bound below
)
def turn_dedup_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-conversation repeated turns (boilerplate replies reused by
    many conversations — the turn-granular analog of document dedup):
    digest-groupBy on md5(text), keep groups spanning >1 conv. The text
    itself never shuffles — only the 32-char digest and tiny counters;
    at 10^12 turns this is the same uniform hash-shuffle shape as
    dedup_exact_documents."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return (
        t.select(F.md5(F.col("text").cast("binary")).alias("text_md5"),
                 "conv_id")
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_total"),
            F.count_distinct("conv_id").alias("n_convs"),
            F.min("conv_id").alias("first_conv"),
        )
        .filter(F.col("n_convs") > 1)
        .orderBy("text_md5")
    )


ORACLES["turn_dedup_transcripts"] = _turn_dedup_oracle(FIXTURE_TRANSCRIPTS)


# ---------------------------------------------------------------------------
# Published web-filter families (Gopher / C4) over documents — map-only
# ---------------------------------------------------------------------------

# Shared DuckDB construction of the deterministically augmented multi-line
# document (mirror of functions/webfilter.augmented_lines — the synthetic
# documents table is single-line, so line/sentence filters need this):
_AUG_DOCS_CTE = r"""
    d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    wl AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')
               AS words,
             5 + doc_id % 4 AS per
      FROM d
    ),
    base AS (
      SELECT doc_id, (i - 1) // per AS line_no,
             string_agg(words[CAST(i AS INT)], ' ' ORDER BY i) AS line
      FROM wl, UNNEST(range(1, len(words) + 1)) AS r(i)
      GROUP BY doc_id, per, (i - 1) // per
    ),
    bl AS (
      SELECT doc_id, list(line ORDER BY line_no) AS base
      FROM base GROUP BY doc_id
    ),
    aug AS (
      SELECT w.doc_id, w.words,
        coalesce(b.base, CAST([] AS VARCHAR[]))
        || CASE WHEN w.doc_id % 3 = 0 THEN [coalesce(b.base[1], '')]
                ELSE CAST([] AS VARCHAR[]) END
        || CASE WHEN w.doc_id % 5 = 0
                THEN ['- ' || coalesce(w.words[1], 'item')]
                ELSE CAST([] AS VARCHAR[]) END
        || CASE WHEN w.doc_id % 7 = 0
                THEN [coalesce(w.words[1], 'item') || '...']
                ELSE CAST([] AS VARCHAR[]) END
        || CASE WHEN w.doc_id % 11 = 0 THEN ['lorem ipsum dolor sit amet.']
                ELSE CAST([] AS VARCHAR[]) END
        || CASE WHEN w.doc_id % 13 = 0 THEN ['function() { return 0; }']
                ELSE CAST([] AS VARCHAR[]) END
        || CASE WHEN w.doc_id % 2 = 0
                THEN ['This augmented sentence ends properly. It has punctuation. Indeed it does.']
                ELSE CAST([] AS VARCHAR[]) END
        AS lines
      FROM wl w LEFT JOIN bl b USING (doc_id)
    )
"""


def _aug_doc_frame(spark: SparkSession, sf_dir: str):
    from .functions.webfilter import augmented_lines

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    return d.select(
        "doc_id",
        words.alias("words"),
        augmented_lines(F.col("text"), F.col("doc_id")).alias("lines"),
    )


@register(
    "gopher_repetition_documents",
    oracle=r"""
    WITH
""" + _AUG_DOCS_CTE + r""",
    chars AS (
      SELECT doc_id, length(array_to_string(lines, chr(10))) AS doc_chars,
             CAST(len(lines) AS BIGINT) AS n_lines
      FROM aug
    ),
    lc AS (
      SELECT doc_id, line, count(*) AS c
      FROM aug, UNNEST(lines) AS t(line) GROUP BY 1, 2
    ),
    ls AS (
      SELECT doc_id,
             coalesce(sum(CASE WHEN c >= 2 THEN c END), 0) AS dup_elems,
             coalesce(sum(CASE WHEN c >= 2 THEN c * length(line) END), 0)
               AS dup_chars
      FROM lc GROUP BY doc_id
    ),
    g2 AS (SELECT doc_id, array_to_string(words[CAST(i AS INT):CAST(i+1 AS INT)], ' ') AS g
           FROM wl, UNNEST(range(1, len(words))) AS r(i) WHERE len(words) >= 2),
    g3 AS (SELECT doc_id, array_to_string(words[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS g
           FROM wl, UNNEST(range(1, len(words)-1)) AS r(i) WHERE len(words) >= 3),
    g4 AS (SELECT doc_id, array_to_string(words[CAST(i AS INT):CAST(i+3 AS INT)], ' ') AS g
           FROM wl, UNNEST(range(1, len(words)-2)) AS r(i) WHERE len(words) >= 4),
    g5 AS (SELECT doc_id, array_to_string(words[CAST(i AS INT):CAST(i+4 AS INT)], ' ') AS g
           FROM wl, UNNEST(range(1, len(words)-3)) AS r(i) WHERE len(words) >= 5),
    t2 AS (SELECT doc_id, c * length(g) AS top_chars FROM (
             SELECT doc_id, g, count(*) c,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY count(*) DESC, g ASC) rn
             FROM g2 GROUP BY doc_id, g) WHERE rn = 1),
    t3 AS (SELECT doc_id, c * length(g) AS top_chars FROM (
             SELECT doc_id, g, count(*) c,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY count(*) DESC, g ASC) rn
             FROM g3 GROUP BY doc_id, g) WHERE rn = 1),
    t4 AS (SELECT doc_id, c * length(g) AS top_chars FROM (
             SELECT doc_id, g, count(*) c,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY count(*) DESC, g ASC) rn
             FROM g4 GROUP BY doc_id, g) WHERE rn = 1),
    d5 AS (SELECT doc_id,
                  coalesce(sum(CASE WHEN c >= 2 THEN c * length(g) END), 0) AS d5c
           FROM (SELECT doc_id, g, count(*) c FROM g5 GROUP BY doc_id, g)
           GROUP BY doc_id)
    SELECT ch.doc_id,
           ch.n_lines,
           round(ls.dup_elems / nullif(ch.n_lines, 0), 6) AS dup_line_frac,
           round(ls.dup_chars / nullif(ch.doc_chars, 0), 6)
             AS dup_line_char_frac,
           round(coalesce(t2.top_chars, 0) / nullif(ch.doc_chars, 0), 6)
             AS top_2gram_char_frac,
           round(coalesce(t3.top_chars, 0) / nullif(ch.doc_chars, 0), 6)
             AS top_3gram_char_frac,
           round(coalesce(t4.top_chars, 0) / nullif(ch.doc_chars, 0), 6)
             AS top_4gram_char_frac,
           round(coalesce(d5.d5c, 0) / nullif(ch.doc_chars, 0), 6)
             AS dup_5gram_char_frac
    FROM chars ch
    JOIN ls USING (doc_id)
    LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
    LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
    ORDER BY ch.doc_id
    """,
)
def gopher_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021 App. A) per document:
    duplicate-line fractions, most-frequent 2/3/4-gram character
    fractions, duplicated-5-gram character fraction. The integer
    duplicate/mode counts come from ONE Arrow-batched Counter pass per
    document (functions/webfilter.gopher_repetition_stats_arrow —
    bit-equal to the Catalyst run-length folds, which pytest pins);
    the fractions divide those integers in Catalyst with the exact
    arithmetic the DuckDB oracle uses. Map-only — the single Exchange
    is the final orderBy that exists only for deterministic oracle
    comparison. That is the shape a 100 TB repetition filter needs:
    embarrassingly parallel, zero shuffle, C-speed counting."""
    from .functions.webfilter import gopher_repetition_stats_arrow

    d = _aug_doc_frame(spark, sf_dir)
    staged = d.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.length(F.array_join("lines", "\n")).alias("doc_chars"),
        gopher_repetition_stats_arrow()(F.col("lines"), F.col("words")).alias(
            "st"
        ),
    )
    safe_chars = F.nullif(F.col("doc_chars"), F.lit(0))
    return staged.select(
        "doc_id",
        "n_lines",
        F.round(
            F.col("st.l_dup_elems") / F.nullif(F.col("n_lines"), F.lit(0)), 6
        ).alias("dup_line_frac"),
        F.round(F.col("st.l_dup_chars") / safe_chars, 6).alias(
            "dup_line_char_frac"
        ),
        *[
            F.round(F.col(f"st.top{n}_chars") / safe_chars, 6).alias(
                f"top_{n}gram_char_frac"
            )
            for n in (2, 3, 4)
        ],
        F.round(F.col("st.dup5_chars") / safe_chars, 6).alias(
            "dup_5gram_char_frac"
        ),
    ).orderBy("doc_id")


@register(
    "gopher_quality_documents",
    oracle=r"""
    WITH
""" + _AUG_DOCS_CTE + r"""
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           round(list_sum(list_transform(words, x -> length(x)))
                 / nullif(len(words), 0), 6) AS mean_word_len,
           round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                 / nullif(len(words), 0), 6) AS alpha_word_frac,
           CAST(len(list_filter(words, x -> list_contains(
                 ['the','be','to','of','and','that','have','with'],
                 lower(x)))) AS BIGINT) AS stop_word_hits,
           round(len(list_filter(lines, l -> starts_with(l, '- ')
                 OR starts_with(l, '* ') OR starts_with(l, '•')))
                 / nullif(len(lines), 0), 6) AS bullet_line_frac,
           round(len(list_filter(lines, l -> ends_with(l, '...')
                 OR ends_with(l, '…'))) / nullif(len(lines), 0), 6)
             AS ellipsis_line_frac,
           round((length(array_to_string(lines, chr(10)))
                  - length(replace(array_to_string(lines, chr(10)), '#', ''))
                  + (length(array_to_string(lines, chr(10)))
                     - length(replace(array_to_string(lines, chr(10)),
                                      '...', ''))) / 3)
                 / nullif(len(words), 0), 6) AS symbol_word_ratio,
           len(words) >= 50 AND len(words) <= 100000 AS g_words,
           round(list_sum(list_transform(words, x -> length(x)))
                 / nullif(len(words), 0), 6) BETWEEN 3 AND 10
             AS g_mean_word_len,
           round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                 / nullif(len(words), 0), 6) >= 0.8 AS g_alpha,
           len(list_filter(words, x -> list_contains(
                 ['the','be','to','of','and','that','have','with'],
                 lower(x)))) >= 2 AS g_stops,
           round(len(list_filter(lines, l -> starts_with(l, '- ')
                 OR starts_with(l, '* ') OR starts_with(l, '•')))
                 / nullif(len(lines), 0), 6) <= 0.9 AS g_bullets,
           round(len(list_filter(lines, l -> ends_with(l, '...')
                 OR ends_with(l, '…'))) / nullif(len(lines), 0), 6) <= 0.3
             AS g_ellipsis,
           round((length(array_to_string(lines, chr(10)))
                  - length(replace(array_to_string(lines, chr(10)), '#', ''))
                  + (length(array_to_string(lines, chr(10)))
                     - length(replace(array_to_string(lines, chr(10)),
                                      '...', ''))) / 3)
                 / nullif(len(words), 0), 6) <= 0.1 AS g_symbols
    FROM aug ORDER BY doc_id
    """,
)
def gopher_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality filters per document: word-count / mean-word-length
    bounds, alphabetic-word fraction, stop-word presence, bullet and
    ellipsis line fractions, symbol-to-word ratio — metrics plus the
    published-threshold boolean flags, all from higher-order array
    functions in one map-only projection (no Exchange, no Python).
    Metrics are STAGED in a first projection and the threshold flags
    derive from the staged columns — the higher-order filters run
    interpreted, so computing each metric again inside its flag would
    double the evaluation cost (same fix as gopher_repetition)."""
    from .functions.webfilter import gopher_quality_columns

    d = _aug_doc_frame(spark, sf_dir)
    cols = gopher_quality_columns(F.col("lines"), F.col("words"))
    metric_names = [
        "n_words", "mean_word_len", "alpha_word_frac", "stop_word_hits",
        "bullet_line_frac", "ellipsis_line_frac", "symbol_word_ratio",
    ]
    staged = d.select(
        "doc_id", *[cols[n].alias(n) for n in metric_names]
    )
    return staged.select(
        "doc_id",
        *metric_names,
        ((F.col("n_words") >= 50) & (F.col("n_words") <= 100000)).alias(
            "g_words"
        ),
        F.col("mean_word_len").between(3, 10).alias("g_mean_word_len"),
        (F.col("alpha_word_frac") >= 0.8).alias("g_alpha"),
        (F.col("stop_word_hits") >= 2).alias("g_stops"),
        (F.col("bullet_line_frac") <= 0.9).alias("g_bullets"),
        (F.col("ellipsis_line_frac") <= 0.3).alias("g_ellipsis"),
        (F.col("symbol_word_ratio") <= 0.1).alias("g_symbols"),
    ).orderBy("doc_id")


@register(
    "c4_filters_documents",
    oracle=r"""
    WITH
""" + _AUG_DOCS_CTE + r"""
    SELECT doc_id,
           round(len(list_filter(lines, l -> ends_with(l, '.')
                 OR ends_with(l, '!') OR ends_with(l, '?')
                 OR ends_with(l, '"'))) / nullif(len(lines), 0), 6)
             AS term_punct_line_frac,
           CAST(length(array_to_string(lines, chr(10)))
                - length(list_aggregate(
                    list_transform([array_to_string(lines, chr(10))],
                        s -> replace(replace(replace(s, '.', ''),
                                             '!', ''), '?', '')), 'min'))
             AS BIGINT) AS n_sentences,
           contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum')
             AS has_lorem,
           contains(array_to_string(lines, chr(10)), '{') AS has_brace,
           NOT contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum')
             AND NOT contains(array_to_string(lines, chr(10)), '{')
             AND (length(array_to_string(lines, chr(10)))
                  - length(list_aggregate(
                      list_transform([array_to_string(lines, chr(10))],
                          s -> replace(replace(replace(s, '.', ''),
                                               '!', ''), '?', '')), 'min')))
                 >= 3 AS c4_keep
    FROM aug ORDER BY doc_id
    """,
)
def c4_filters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style document filters (Raffel et al. 2019): terminal-punctuation
    line fraction, sentence count (terminal marks), lorem-ipsum and
    curly-brace markers, and the keep conjunction. Map-only projection."""
    from .functions.webfilter import c4_columns

    d = _aug_doc_frame(spark, sf_dir)
    cols = c4_columns(F.col("lines"))
    return d.select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Conversation-level integrity checks over transcripts
# ---------------------------------------------------------------------------

def _conv_drop_oracle(path: str) -> str:
    return f"""
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) AS keep_frac,
           round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) >= 0.6
             AS conv_keep
    FROM ({keep_flags_oracle_sql(path)})
    GROUP BY conv_id ORDER BY conv_id
    """


@register("conv_drop_propagation_transcripts", oracle=None)  # bound below
def conv_drop_propagation_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversation-level verdict propagation: a conversation keeping
    < 60% of its turns is dropped whole (training on fragments of a
    mostly-junk dialogue teaches broken structure). The oracle runs the
    FULL SQL pipeline (including the SQL-trained bigram LM) and
    aggregates its keep flags — so this row value-checks the
    propagation on top of the already-oracled per-turn conjunction."""
    from .pipeline.convchecks import conversation_drop_propagation
    from .pipeline.quality import labels_frame, run_quality_pipeline
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    df = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    labels = labels_frame(run_quality_pipeline(df))
    return conversation_drop_propagation(labels).orderBy("conv_id")


ORACLES["conv_drop_propagation_transcripts"] = _conv_drop_oracle(
    FIXTURE_TRANSCRIPTS
)


def _agent_loop_oracle(path: str) -> str:
    return f"""
    WITH a AS (
      SELECT conv_id, turn_idx, md5(text) AS h
      FROM read_parquet('{path}') WHERE role = 'assistant'
    ),
    l AS (
      SELECT conv_id, h,
             CASE WHEN h = lag(h) OVER (PARTITION BY conv_id
                                        ORDER BY turn_idx)
                  THEN 1 ELSE 0 END AS consec
      FROM a
    ),
    g AS (
      SELECT conv_id,
             CAST(count(*) AS BIGINT) AS n_assistant,
             CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
             CAST(coalesce(sum(consec), 0) AS BIGINT) AS n_consec_repeat
      FROM l GROUP BY conv_id
    )
    SELECT conv_id, n_assistant, n_distinct, n_consec_repeat,
           round(1 - n_distinct / n_assistant, 6) AS loop_frac,
           round(1 - n_distinct / n_assistant, 6) <= 0.5
             AND n_consec_repeat <= 2 AS loop_ok
    FROM g ORDER BY conv_id
    """


@register("agent_loop_transcripts", oracle=None)  # bound below
def agent_loop_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wedged-agent loop detection: consecutive identical assistant
    turns and the distinct-text deficit per conversation (agents that
    wedge re-emit the same reply). Texts travel as xxhash64 digests —
    the conv_id shuffle carries 8 bytes per turn, not transcript
    bodies. Spark uses xxhash64 and the oracle md5; only equality is
    consumed, so the counts agree."""
    from .pipeline.convchecks import agent_loop_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    df = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return agent_loop_stats(df).orderBy("conv_id")


ORACLES["agent_loop_transcripts"] = _agent_loop_oracle(FIXTURE_TRANSCRIPTS)


def _tool_pairing_oracle(path: str) -> str:
    return f"""
    WITH t AS (
      SELECT conv_id, turn_idx, role,
             tool IS NOT NULL AS has_tool,
             lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS prev_role
      FROM read_parquet('{path}')
    ),
    g AS (
      SELECT conv_id,
             CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tool,
             CAST(sum(CASE WHEN role = 'tool'
                            AND (prev_role IS NULL
                                 OR prev_role NOT IN ('assistant', 'tool'))
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_tool,
             CAST(sum(CASE WHEN (role = 'tool') <> has_tool
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_mismatch
      FROM t GROUP BY conv_id
    )
    SELECT conv_id, n_tool, n_orphan_tool, n_tool_mismatch,
           n_orphan_tool = 0 AND n_tool_mismatch = 0 AS tool_ok
    FROM g ORDER BY conv_id
    """


@register("tool_pairing_transcripts", oracle=None)  # bound below
def tool_pairing_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call protocol validity per conversation: orphaned tool
    results (no preceding assistant/tool turn) and role↔tool-column
    mismatches. One lag window + one aggregation sharing the conv_id
    Exchange."""
    from .pipeline.convchecks import tool_pairing_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    df = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return tool_pairing_stats(df).orderBy("conv_id")


ORACLES["tool_pairing_transcripts"] = _tool_pairing_oracle(FIXTURE_TRANSCRIPTS)


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (iterative — pytest-golden, rows-only)
# ---------------------------------------------------------------------------

@register("bpe_train_documents")  # rows-only BY DESIGN: the per-round merge
# loop is inherently iterative (each round's pair counts depend on the
# previous merge) — the documented oracle carve-out; tests/test_bpe.py
# golden-gates the trainer against a pure-Python reference implementation.
def bpe_train_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 BPE merges on the documents corpus and return the merge
    table (rank, left, right, weighted count). Corpus-sized work happens
    once (distinct-word counts); each round shuffles only
    vocabulary-sized pair counts and selects the winner with
    TakeOrderedAndProject — see operators/bpe.py for the 10^12-token
    shape."""
    from .operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, n_merges=8)
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "merge_idx int, left string, right string, weighted_count long",
    )


def _conv_dedup_oracle(path: str) -> str:
    return f"""
    WITH t AS (
      SELECT conv_id, turn_idx, text FROM read_parquet('{path}')
      UNION ALL
      SELECT conv_id || '_replay', turn_idx, text
      FROM read_parquet('{path}') WHERE conv_id < 'c00000010'
    ),
    c AS (
      SELECT conv_id,
             md5(string_agg(text, chr(31) ORDER BY turn_idx)) AS conv_digest
      FROM t GROUP BY conv_id
    )
    SELECT conv_digest,
           CAST(count(*) AS BIGINT) AS n_convs,
           min(conv_id) AS first_conv
    FROM c GROUP BY conv_digest HAVING count(*) > 1
    ORDER BY conv_digest
    """


@register("conv_dedup_transcripts", oracle=None)  # bound below
def conv_dedup_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-conversation exact dedup: conversations whose ORDERED turn
    texts are byte-identical (re-logged sessions, replayed agent runs).
    The conversation digest is md5 over texts joined with an unlikely
    separator in turn order — computed with array_sort over collected
    (turn_idx, text) structs so the digest is partitioning-invariant;
    the second aggregation then shuffles 16-byte digests only. Same
    two-phase digest shape as document dedup, one level up. A replayed
    copy of the first 10 conversations is planted (identically in the
    oracle) so the duplicate groups the operator exists for are
    actually present and value-checked."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    base = spark.read.parquet(FIXTURE_TRANSCRIPTS).select(
        "conv_id", "turn_idx", "text"
    )
    t = base.unionByName(
        base.filter(F.col("conv_id") < "c00000010").withColumn(
            "conv_id", F.concat("conv_id", F.lit("_replay"))
        )
    )
    per_conv = t.groupBy("conv_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\x1f",
            ).cast("binary")
        ).alias("conv_digest")
    )
    return (
        per_conv.groupBy("conv_digest")
        .agg(
            F.count("*").alias("n_convs"),
            F.min("conv_id").alias("first_conv"),
        )
        .filter(F.col("n_convs") > 1)
        .orderBy("conv_digest")
    )


ORACLES["conv_dedup_transcripts"] = _conv_dedup_oracle(FIXTURE_TRANSCRIPTS)


def _near_loop_oracle(path: str) -> str:
    return rf"""
    WITH a AS (
      SELECT conv_id, turn_idx,
             list_distinct(list_filter(
               regexp_split_to_array(lower(text), '\s+'), x -> x <> ''))
               AS toks
      FROM read_parquet('{path}') WHERE role = 'assistant'
    ),
    p AS (
      SELECT conv_id, toks,
             lag(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS prev
      FROM a
    ),
    j AS (
      SELECT conv_id,
             CASE WHEN prev IS NULL THEN NULL
                  WHEN len(list_distinct(toks || prev)) = 0 THEN NULL
                  ELSE len(list_intersect(toks, prev))
                       / len(list_distinct(toks || prev)) END AS jac
      FROM p
    )
    SELECT conv_id,
           CAST(count(jac) AS BIGINT) AS n_pairs,
           round(max(jac), 6) AS max_jaccard,
           CAST(coalesce(sum(CASE WHEN jac >= 0.8 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_near_repeat
    FROM j GROUP BY conv_id ORDER BY conv_id
    """


@register("near_loop_transcripts", oracle=None)  # bound below
def near_loop_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy agent-loop detection: Jaccard similarity of token SETS
    between consecutive assistant turns — catches agents that re-emit
    near-identical replies with minor variation, which exact-digest
    loop detection (agent_loop_transcripts) misses. One conv_id window
    carrying small token arrays (assistant turns only), then the same
    Exchange feeds the aggregation."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    a = t.filter(F.col("role") == "assistant").select(
        "conv_id",
        "turn_idx",
        F.array_distinct(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
        ).alias("toks"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    p = a.withColumn("prev", F.lag("toks").over(w))
    union_size = F.size(F.array_distinct(F.concat("toks", "prev")))
    jac = (
        F.when(F.col("prev").isNull(), None)
        .when(union_size == 0, None)
        .otherwise(F.size(F.array_intersect("toks", "prev")) / union_size)
    )
    return (
        p.select("conv_id", jac.alias("jac"))
        .groupBy("conv_id")
        .agg(
            F.count("jac").alias("n_pairs"),
            F.round(F.max("jac"), 6).alias("max_jaccard"),
            F.coalesce(
                F.sum((F.col("jac") >= 0.8).cast("long")), F.lit(0)
            ).alias("n_near_repeat"),
        )
        .orderBy("conv_id")
    )


ORACLES["near_loop_transcripts"] = _near_loop_oracle(FIXTURE_TRANSCRIPTS)


@register(
    "lang_confusion_documents",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, declared,
        {_langid_scored_select()}
      FROM (SELECT doc_id, lang AS declared,
                   lower(substr(coalesce(text, ''), 1, 400)) AS s
            FROM documents)
    ), labeled AS (
      SELECT declared, {_langid_label_case()} AS predicted
      FROM scored
    )
    SELECT declared, predicted,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM labeled GROUP BY declared, predicted
    ORDER BY declared, predicted
    """,
)
def lang_confusion_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-language metadata audit: confusion matrix of the corpus's
    self-declared ``lang`` column vs the detector's label — web-scale
    corpora routinely carry unreliable language metadata, and the
    mismatch mass per declared language is the signal that decides
    whether to trust the column or re-detect. One Arrow langid pass +
    one tiny (declared, predicted) aggregation; the DuckDB oracle
    re-implements the detector's full regex spec, so every cell of the
    matrix is value-checked."""
    from .pipeline.features import langid_udf

    d = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("declared"), "text"
    )
    return (
        d.select("declared", langid_udf("text").alias("predicted"))
        .groupBy("declared", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("declared", "predicted")
    )


def _langid_turns_cte(path: str) -> str:
    """Shared oracle CTE: per-turn langid labels over a transcripts
    parquet (the pipeline LANGID_SCORE_SQL spec, keyed by conv/turn/ts)."""
    from .pipeline.oracle_sql import LANGID_SCORE_SQL

    langid = (
        LANGID_SCORE_SQL
        .replace("__KEYS__", "conv_id, turn_idx, ts")
        .replace("__SCORE_SRC__", "feat")
    )
    return f"""
    WITH feat AS (
      SELECT conv_id, turn_idx, ts,
             lower(substr(coalesce(text, ''), 1, 400)) AS sl
      FROM read_parquet('{path}')
    ),
    lang AS (
{langid}
    )"""


def _mixed_lang_oracle(path: str) -> str:
    return f"""{_langid_turns_cte(path)},
    counts AS (
      SELECT conv_id, lang, count(*) AS n FROM lang GROUP BY conv_id, lang
    ),
    dom AS (
      SELECT conv_id, lang AS dominant_lang FROM (
        SELECT conv_id, lang,
               row_number() OVER (PARTITION BY conv_id
                                  ORDER BY n DESC, lang) AS rn
        FROM counts
      ) WHERE rn = 1
    ),
    g AS (
      SELECT conv_id,
             CAST(sum(n) AS BIGINT) AS n_turns,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(max(n) AS BIGINT) AS n_dominant
      FROM counts GROUP BY conv_id
    )
    SELECT g.conv_id, g.n_turns, g.n_langs, d.dominant_lang,
           round(g.n_dominant / g.n_turns, 6) AS dominant_frac,
           (g.n_langs > 1) AS is_mixed
    FROM g JOIN dom d ON d.conv_id = g.conv_id
    ORDER BY g.conv_id
    """


@register("mixed_lang_convs_transcripts", oracle=None)  # bound below
def mixed_lang_convs_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation language-mixture audit: distinct detected
    languages, the dominant one (mode; ties to the lexicographically
    smallest label), its share, and a mixed flag — language switching
    mid-conversation is a classic contamination signal in web-scraped
    dialogue corpora. One Arrow langid pass, then the standard two-level
    mode pattern: a (conv_id, lang) count aggregation (map-side partial,
    8-byte labels in the shuffle — never text) feeding a conv_id window;
    the window reuses the first Exchange's clustering. Oracle: the same
    spec via pipeline LANGID_SCORE_SQL + a recursive-free SQL mode."""
    from .pipeline.features import langid_udf
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    counts = (
        t.select("conv_id", langid_udf("text").alias("lang"))
        .groupBy("conv_id", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("conv_id").orderBy(F.desc("n"), F.asc("lang"))
    ranked = counts.withColumn("rn", F.row_number().over(w))
    g = counts.groupBy("conv_id").agg(
        F.sum("n").alias("n_turns"),
        F.count(F.lit(1)).alias("n_langs"),
        F.max("n").alias("n_dominant"),
    )
    dom = ranked.filter("rn = 1").select(
        "conv_id", F.col("lang").alias("dominant_lang")
    )
    return (
        g.join(dom, "conv_id")
        .select(
            "conv_id",
            "n_turns",
            "n_langs",
            "dominant_lang",
            F.round(F.col("n_dominant") / F.col("n_turns"), 6)
            .alias("dominant_frac"),
            (F.col("n_langs") > 1).alias("is_mixed"),
        )
        .orderBy("conv_id")
    )


ORACLES["mixed_lang_convs_transcripts"] = _mixed_lang_oracle(
    FIXTURE_TRANSCRIPTS
)


def _lang_by_day_oracle(path: str) -> str:
    return f"""{_langid_turns_cte(path)}
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, lang,
           CAST(count(*) AS BIGINT) AS n_turns
    FROM lang GROUP BY day, lang ORDER BY day, lang
    """


@register("lang_by_day_transcripts", oracle=None)  # bound below
def lang_by_day_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily language composition of the corpus — the drift monitor a
    crawl pipeline watches to catch an upstream source flipping language
    (or a langid regression) the day it happens. Map-only Arrow langid +
    one tiny (day, lang) aggregation; at 10^12 turns the shuffle carries
    partial counts only."""
    from .pipeline.features import langid_udf
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return (
        t.select(
            F.to_date("ts").cast("string").alias("day"),
            langid_udf("text").alias("lang"),
        )
        .groupBy("day", "lang")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .orderBy("day", "lang")
    )


ORACLES["lang_by_day_transcripts"] = _lang_by_day_oracle(FIXTURE_TRANSCRIPTS)


@register(
    "length_histogram_documents",
    oracle="""
    SELECT source,
           CAST(least(n_chars // 100, 9) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY source, least(n_chars // 100, 9)
    ORDER BY source, bin
    """,
)
def length_histogram_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram: fixed 100-char bins with an
    open top bin — the standard first look at a corpus's length
    distribution (truncation artifacts, boilerplate spikes, per-source
    length bias). Fixed bins keep it ONE hash aggregation with map-side
    partials — no percentile pass, no sort, no second job; at 10^12
    docs the shuffle carries (source, bin) partial counts only."""
    d = _t(spark, sf_dir, "documents")
    bin_col = F.least(F.floor(F.col("n_chars") / 100), F.lit(9)).cast(
        "bigint"
    )
    return (
        d.groupBy("source", bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("source", "bin")
    )


def _pii_stats_oracle(path: str) -> str:
    return r"""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS turns_with_email,
           CAST(sum(CASE WHEN len(regexp_extract_all(text,
                 '\b(?:\d[ -]?){15}\d\b')) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS turns_with_card,
           CAST(sum(CASE WHEN len(regexp_extract_all(text,
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b')) > 0
               THEN 1 ELSE 0 END) AS BIGINT) AS turns_with_ip
    FROM read_parquet('__PATH__')
    GROUP BY CAST(CAST(ts AS DATE) AS VARCHAR) ORDER BY day
    """.replace("__PATH__", path)


@register("pii_stats_transcripts", oracle=None)  # bound below
def pii_stats_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII observability: per-day counts of turns containing emails /
    card numbers / IPv4 addresses — the monitoring counterpart of the
    scrub pass (a PII-rate spike is an upstream-source incident). Pure
    JVM regexp over the scan + one tiny date aggregation. The email and
    card/IP patterns are shared with functions/scrub.py SCRUB_RULES;
    the phone rule is excluded HERE only because its lookaround
    constructs don't exist in RE2 (the oracle engine) — phone scrubbing
    itself stays byte-exact-golden-tested in test_pipeline_golden.
    (The oracle's email pattern drops scrub's \\b anchors: RE2 and Java
    disagree on \\b adjacent to '+/-' inside the class; presence-per-
    turn is unaffected.)"""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    # possessive [ -]?+ : giving the separator back can never help (the
    # next element is \d, which a separator never satisfies), so the
    # possessive form matches the exact same language as the oracle's
    # backtracking-free RE2 \b(?:\d[ -]?){15}\d\b while denying Java's
    # engine its quadratic retry walk over long digit runs
    card = r"\b(?:\d[ -]?+){15}\d\b"
    ip = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
    # only PRESENCE is consumed -> rlike (stops at the first match)
    # instead of regexp_count (scans every match in the whole string);
    # the '@' contains-gate skips the email regex on the common case
    return (
        # day as string: the driver's value hash stringifies a Spark DATE
        # and a pandas datetime64 differently
        t.groupBy(F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(
                (F.col("text").contains("@") & F.col("text").rlike(email))
                .cast("long")
            ).alias("turns_with_email"),
            F.sum(F.col("text").rlike(card).cast("long"))
            .alias("turns_with_card"),
            F.sum(F.col("text").rlike(ip).cast("long"))
            .alias("turns_with_ip"),
        )
        .orderBy("day")
    )


ORACLES["pii_stats_transcripts"] = _pii_stats_oracle(FIXTURE_TRANSCRIPTS)


@register(
    "iceberg_roundtrip_documents",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def iceberg_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE Iceberg path (reference utility/handle_data.py:109 reads its
    production input via pl.scan_iceberg): the documents table is
    committed to a real Iceberg v2 table on disk — identity-partitioned
    by lang, TWO snapshots (create + append) so the manifest-list merge
    path runs — then read back snapshot-consistently through the
    metadata walk (sources/iceberg_lite.py: version-hint -> metadata
    JSON -> Avro manifests -> pruned file list -> distributed parquet
    scan) and aggregated. The oracle aggregates the original parquet
    directly, so a single lost/duplicated row, a mis-restored partition
    value, or a snapshot that leaks prior files all hash-mismatch."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    from .sources.iceberg_lite import read_iceberg, write_iceberg

    docs = _t(spark, sf_dir, "documents")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    loc = os.path.join(
        tempfile.gettempdir(), f"iceberg_docs_{tag}_{os.getpid()}"
    )
    # fresh table per process; the returned DataFrame reads these files
    # lazily, so cleanup is deferred to process exit (same lifecycle as
    # the incremental-dedup store above)
    shutil.rmtree(loc, ignore_errors=True)
    atexit.register(shutil.rmtree, loc, ignore_errors=True)
    write_iceberg(
        docs.filter("doc_id % 2 = 0"), loc,
        partition_by=["lang"], mode="overwrite",
    )
    write_iceberg(docs.filter("doc_id % 2 = 1"), loc, mode="append")
    t = read_iceberg(spark, loc)
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang")
    )


from .operators.pq import pq_adc_oracle_sql as _pq_adc_oracle
from .operators.pq import pq_oracle_sql as _pq_oracle


@register("pq_codes_embeddings", oracle=_pq_oracle("embeddings", m=8, ksub=8))
def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantize the embedding corpus: 8 subspaces x 8-code
    codebooks trained with one distributed Lloyd round each
    (operators/pq.pq_train reusing kmeans_fit on slices), then every
    vector encoded map-only in whole-stage codegen (pq_code_col) — the
    32x-compression path that makes a 100 TB vector corpus
    shuffle-able. The DuckDB oracle retrains identical codebooks
    (CTE-unrolled Lloyd per subspace, same init/rounding/tie-break)
    and re-encodes — every code of every row value-checked."""
    from .operators.pq import pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, ksub=8, iters=1)
    codes = pq_encode(emb, cb)
    return codes.select(
        "vec_id",
        *[
            F.element_at("codes", s + 1).alias(f"code_{s}")
            for s in range(8)
        ],
    ).orderBy("vec_id")


@register(
    "pq_adc_topk_embeddings",
    oracle=_pq_adc_oracle("embeddings", query_vec_id=7, k=10, m=8, ksub=8),
)
def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PQ search chain: train -> encode -> asymmetric-distance
    top-10 for the corpus vector vec_id=7 (read from parquet so both
    engines see identical doubles). The m x ksub distance table is
    driver-computed (strict left-to-right accumulation) and rides the
    plan as a literal; scoring is a zip_with table lookup folded in
    codegen — scan + TakeOrderedAndProject, no join, no shuffle. The
    DuckDB oracle rebuilds codebooks, codes, AND the distance table
    from scratch; ranking on (6dp-rounded score, vec_id) pins the
    result set against sub-rounding engine noise."""
    from .operators.pq import pq_adc_topk, pq_encode, pq_train

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, ksub=8, iters=1)
    codes = pq_encode(emb, cb)
    q = (
        emb.filter(F.col("vec_id") == 7)
        .select(F.col("embedding").cast("array<double>").alias("q"))
        .first()["q"]
    )
    return pq_adc_topk(codes, cb, list(q), k=10)


from .operators.quantize import sq_oracle_sql as _sq_oracle


@register("sq8_codes_embeddings", oracle=_sq_oracle("embeddings", dim=64))
def sq8_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization (operators/quantize.py): per-dimension
    affine bounds from ONE HashAggregate (2*dim agg expressions, no
    posexplode — an exploded bounds pass would shuffle dim x corpus
    rows), then map-only codegen encode + per-row reconstruction MSE.
    The 4x compression feeds PQ/ANN or storage at 10^12 rows. The
    DuckDB oracle recomputes bounds (same 6dp rounding), codes (same
    half-away-from-zero round + clamp) and MSE — every byte of every
    code value-checked."""
    from .operators.quantize import sq_encode, sq_train

    emb = _t(spark, sf_dir, "embeddings")
    mins, maxes = sq_train(emb, dim=64)
    out = sq_encode(emb, mins, maxes)
    return out.select(
        "vec_id",
        F.concat_ws("-", F.col("codes").cast("array<string>")).alias("codes"),
        "recon_mse",
    ).orderBy("vec_id")


from .operators.projection import projection_oracle_sql as _proj_oracle


@register(
    "random_projection_embeddings",
    oracle=_proj_oracle("embeddings", dim=64, k=16),
)
def random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims
    (operators/projection.py): deterministic Rademacher matrix
    (md5-parity signs, exact ±0.25 entries) rides the plan as
    literals; each output dim is a codegen zip_with dot product —
    map-only, 4x less shuffle weight for every downstream
    clustering/ANN/dedup pass. The DuckDB oracle re-derives the SAME
    matrix and recomputes every projected value (16 columns x corpus,
    6dp) — exact parity because ±2^-2 entries make every product
    exact and both engines fold left-to-right."""
    from .operators.projection import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    out = random_projection(emb, k=16, dim=64)
    return out.select(
        "vec_id",
        *[
            F.round(F.element_at("proj", j + 1), 6).alias(f"p_{j}")
            for j in range(16)
        ],
    ).orderBy("vec_id")


from .operators.sampling import temperature_mix_oracle_sql as _tmix_oracle


@register(
    "temperature_mix_documents",
    oracle=_tmix_oracle("documents", "d.doc_id, d.lang, d.source", alpha=0.5)
    + " ORDER BY d.doc_id",
)
def temperature_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture resampling (alpha=0.5, the
    multilingual p^alpha upsampling trick): each lang stratum thins at
    rate sqrt(min_cnt/cnt) — natural mixture at alpha=1, fully balanced
    at alpha=0 (operators/sampling.temperature_mix_sample). The sqrt
    chain keeps the rate bit-identical across engines, so the kept SET
    itself is value-checked, not just its size. Count agg + broadcast
    thresholds + md5-bucket keep in scan codegen — no data-sized
    shuffle at any corpus size."""
    from .operators.sampling import temperature_mix_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return (
        temperature_mix_sample(docs, alpha=0.5, strata_col="lang")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "cluster_best_documents",
    oracle=f"""
    WITH RECURSIVE {_simhash_cte(_SIMHASH_BASE_SQL)},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
    scored AS (
      SELECT n.doc_id,
             CAST(coalesce(c.component, n.doc_id) AS BIGINT) AS component,
             CAST(length(n.text) AS BIGINT) AS score
      FROM base n LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, component, score,
           (row_number() OVER (
              PARTITION BY component ORDER BY score DESC, doc_id ASC) = 1
           ) AS keep
    FROM scored ORDER BY doc_id
    """,
)
def cluster_best_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution: simhash pairs close into
    clusters (pointer-jumping components), then each cluster keeps its
    BEST copy — max text length, ties to min doc_id
    (operators/components.resolve_best) — instead of an arbitrary
    min-id representative. The planted mutated copies carry ' tail'
    (5 extra chars), so the mutated duplicate wins its cluster and the
    keep flags genuinely exercise the argmax path. DuckDB oracle:
    recursive-CTE transitive closure + the same window."""
    from .operators.components import resolve_best
    from .operators.dedup import simhash_md5_pairs

    docs = (
        _t(spark, sf_dir, "documents").select("doc_id", "text").filter("doc_id < 500")
    )
    mutated = (
        docs.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    all_docs = docs.unionAll(mutated).withColumn(
        "score", F.length("text").cast("long")
    )
    pairs = simhash_md5_pairs(all_docs, max_hamming=3)
    return resolve_best(all_docs, pairs, score_col="score").orderBy("doc_id")


def _render_chat_oracle(path: str) -> str:
    return f"""
    WITH t AS (
      SELECT conv_id, turn_idx, role, text FROM read_parquet('{path}')
    )
    SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
           string_agg('<|' || role || '|>' || text || chr(10), ''
                      ORDER BY turn_idx) AS rendered
    FROM t GROUP BY conv_id ORDER BY conv_id
    """


@register("render_chat_transcripts", oracle=None)  # bound below
def render_chat_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template rendering: each conversation flattens to ONE
    training string '<|role|>text\\n' per turn in turn order — the
    formatting step between a curated transcript table and a tokenizer.
    Plan: one shuffle keyed on conv_id (inherent — rendering needs the
    conversation's turns together) whose payload carries each turn's
    text exactly once; ordering via array_sort(collect_list(struct)) —
    partial-aggregated, no separate window sort, and a hot conversation
    is one array build, not a sort spill. String-exact value parity
    with DuckDB's ordered string_agg."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    turns = t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.array_sort(
            F.collect_list(F.struct("turn_idx", "role", "text"))
        ).alias("turns"),
    )
    return turns.select(
        "conv_id",
        "n_turns",
        F.aggregate(
            "turns",
            F.lit(""),
            lambda acc, x: F.concat(
                acc, F.lit("<|"), x["role"], F.lit("|>"), x["text"], F.lit("\n")
            ),
        ).alias("rendered"),
    ).orderBy("conv_id")


ORACLES["render_chat_transcripts"] = _render_chat_oracle(FIXTURE_TRANSCRIPTS)


def _scrub_oracle(path: str) -> str:
    """Byte-exact scrub oracle over the RE2-expressible subset.

    DuckDB's RE2 has no lookarounds (the phone rule needs them) and its
    \\b / \\d are ASCII while Python's are Unicode, so the value check
    covers rows that are (a) pure ASCII and (b) free of phone-shaped
    substrings — the same predicate filters BOTH engines, and on that
    subset the remaining card/email/IP/toxicity chain is regex-for-regex
    identical (RE2 produces PCRE-equal matches absent lookarounds).
    Phone and non-ASCII bytes stay covered by the byte-exact pytest
    goldens (test_pipeline_golden.py)."""
    from .functions.scrub import SCRUB_RULES

    expr = "text"
    for i, (pat, repl) in enumerate(SCRUB_RULES):
        if i == 2:  # phone: lookarounds — excluded by the row predicate
            continue
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return f"""
    WITH t AS (
      SELECT conv_id, turn_idx, text FROM read_parquet('{path}')
      WHERE text IS NOT NULL
        AND NOT regexp_matches(text, '[^\\x00-\\x7F]')
        AND NOT regexp_matches(text, '\\+?\\d{{1,3}}[ -]\\d{{2,4}}([ -]\\d{{2,4}}){{1,3}}')
    )
    SELECT conv_id, turn_idx, {expr} AS text_scrubbed
    FROM t ORDER BY conv_id, turn_idx
    """


@register("scrubbed_text_transcripts", oracle=None)  # bound below
def scrubbed_text_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrubbed-BYTES value check: the pipeline's actual Arrow scrub UDF
    (functions/scrub.py — the same code the flagship runs) over every
    ASCII, phone-free turn, compared byte-for-byte against a DuckDB
    regexp_replace chain built from the SAME SCRUB_RULES table. This
    upgrades the north rule's byte-exact-scrubbed-text requirement from
    pytest-golden-only to a driver-checked value hash on the subset
    where Python-regex and RE2 semantics provably coincide (see
    _scrub_oracle); the excluded phone/Unicode rows keep their golden
    coverage. Plan: scan → rlike filters in codegen → one Arrow UDF
    projection — map-only."""
    from .pipeline.quality import scrub_udf
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    sub = t.filter(
        F.col("text").isNotNull()
        & ~F.col("text").rlike(r"[^\x00-\x7F]")
        & ~F.col("text").rlike(r"\+?\d{1,3}[ -]\d{2,4}([ -]\d{2,4}){1,3}")
    )
    return sub.select(
        "conv_id", "turn_idx", scrub_udf(F.col("text")).alias("text_scrubbed")
    ).orderBy("conv_id", "turn_idx")


ORACLES["scrubbed_text_transcripts"] = _scrub_oracle(FIXTURE_TRANSCRIPTS)


from .operators.dedup import boilerplate_oracle_sql as _boiler_oracle


@register(
    "boilerplate_fraction_documents",
    oracle=_boiler_oracle("SELECT doc_id, text FROM documents"),
)
def boilerplate_fraction_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate/memorization score: fraction of each
    doc's distinct 8-grams shared with at least one other document
    (operators/dedup.boilerplate_fraction — digest-only shuffles, no
    all-pairs path). DuckDB oracle recomputes with raw gram strings;
    count equality certifies the digest path collision-free on this
    corpus."""
    from .operators.dedup import boilerplate_fraction

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return boilerplate_fraction(docs, k=8).orderBy("doc_id")


from .operators.dsir import dsir_oracle_sql as _dsir_oracle


@register(
    "dsir_weights_documents",
    oracle=_dsir_oracle("documents", "lang = 'en'") + " ORDER BY doc_id",
)
def dsir_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling weights (Xie et al., NeurIPS 2023):
    hashed unigram+bigram bag-of-ngrams LMs for the target slice
    (lang='en') vs the raw corpus, per-doc log importance weight
    (operators/dsir.dsir_weights — one exploded-feature pass builds
    both LMs, broadcast log-ratio table quantized to integer micro-nats
    so the doc-level sum is shuffle-order-proof)."""
    from .operators.dsir import dsir_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return dsir_weights(docs, F.col("lang") == "en").orderBy("doc_id")


from .functions.infotheory import entropy_oracle_sql as _entropy_oracle


@register(
    "char_entropy_documents",
    oracle=_entropy_oracle("documents") + " ORDER BY doc_id",
)
def char_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy / type-token-ratio quality signals
    (functions/infotheory.char_entropy_stats): map-only higher-order
    folds in scan codegen, no per-char exchange; the distinct-char
    array is sorted so Spark and DuckDB accumulate identical doubles."""
    from .functions.infotheory import char_entropy_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return char_entropy_stats(docs).orderBy("doc_id")


from .functions.classifier import auc_oracle_sql as _auc_oracle

# deliberately mis-weighted scorer (symbol ratio over-penalized, length
# ignored) so the AUC is non-degenerate — ties and misrankings exercise
# the tie-corrected Mann-Whitney path instead of collapsing to 1.0
_AUC_W = [0.0, 4.0, 0.0, -3.0]


@register(
    "auc_lr_documents",
    oracle=_auc_oracle("documents", _AUC_W),
)
def auc_lr_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the quality scorer vs the heuristic labels
    (functions/classifier.auc_stats): per-bin pos/neg aggregation
    (bins domain-bounded by round(score,4)), integer Mann-Whitney
    numerator, one row out."""
    from .functions.classifier import auc_stats

    docs = _t(spark, sf_dir, "documents").select("text")
    return auc_stats(docs, _AUC_W)


from .operators.dsir import dsir_select_oracle_sql as _dsir_sel_oracle


@register(
    "dsir_select_documents",
    oracle=_dsir_sel_oracle("documents", "lang = 'en'", k=200),
)
def dsir_select_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k resampling (the paper's selection stage): keep
    the 200 docs with the largest logw + deterministic md5-seeded
    Gumbel noise (operators/dsir.dsir_select — TakeOrderedAndProject,
    per-partition top-k, no global sort; both engines cut the same k
    rows because the ordering key is the rounded score + id)."""
    from .operators.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return dsir_select(docs, F.col("lang") == "en", k=200)


from .functions.classifier import calibration_oracle_sql as _calib_oracle


@register(
    "calibration_curve_documents",
    oracle=_calib_oracle("documents", _AUC_W) + " ORDER BY bin",
)
def calibration_curve_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorer reliability diagram (functions/classifier.calibration_curve):
    fixed probability deciles, per-bin count / mean score / observed
    keep rate — map-only projection + a 10-row aggregate."""
    from .functions.classifier import calibration_curve

    docs = _t(spark, sf_dir, "documents").select("text")
    return calibration_curve(docs, _AUC_W).orderBy("bin")


from .functions.readability import readability_oracle_sql as _read_oracle


@register(
    "readability_documents",
    oracle=_read_oracle("documents") + " ORDER BY doc_id",
)
def readability_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with vowel-group syllable
    counts (functions/readability.readability_stats): one map-only
    projection, per-word folds inside the row — no shuffle, no
    Python, no (doc, word) explode. The DuckDB oracle recomputes the
    identical formula tree over identical splits, so every count and
    the 6dp score are value-checked."""
    from .functions.readability import readability_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return readability_stats(docs).orderBy("doc_id")


from .functions.textstats import zipf_oracle_sql as _zipf_oracle


@register("zipf_slope_documents", oracle=_zipf_oracle("documents"))
def zipf_slope_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf rank-frequency slope (functions/textstats
    .zipf_slope_stats): exploded-token HashAggregate with map-side
    partials, TakeOrderedAndProject top-1000 cut (never a
    vocabulary-wide window), constant-partition rank over the bounded
    frame, micro-log2-quantized BIGINT OLS sums so the one-row result
    is shuffle-order-proof and value-checked against DuckDB."""
    from .functions.textstats import zipf_slope_stats

    docs = _t(spark, sf_dir, "documents").select("text")
    return zipf_slope_stats(docs)


from .operators.integrity import integrity_oracle_sql as _fk_oracle


@register("referential_integrity_audit", oracle=_fk_oracle())
def referential_integrity_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FK-edge orphan audit over the whole star schema
    (operators/integrity.referential_integrity_audit): null-filtered
    LEFT ANTI join per edge (dimension parents broadcast-hinted, fact
    edges shuffle only the key column), 1-row aggregate each, union of
    seven 1-row frames — no collect, no window. Every count BIGINT-
    exact; the rate is one division of exact integers."""
    from .operators.integrity import referential_integrity_audit

    return referential_integrity_audit(spark, sf_dir)


from .operators.distdrift import (  # noqa: E402
    ks_oracle_sql as _ks_oracle,
    psi_oracle_sql as _psi_oracle,
)


@register(
    "psi_drift_events",
    oracle=_psi_oracle("events", "value", "ts", "event_type"),
)
def psi_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the value distribution per event
    type between the month's first and second half
    (operators/distdrift.psi_drift): broadcast per-group bin edges, ONE
    map-side-combined (group, bin) count shuffle, nano-quantized BIGINT
    term sum so the one-row-per-group PSI is shuffle-order-proof."""
    from .operators.distdrift import psi_drift

    events = _t(spark, sf_dir, "events")
    return psi_drift(events, "value", "ts", "event_type")


@register(
    "ks_drift_events",
    oracle=_ks_oracle("events", "value", "ts", "event_type"),
)
def ks_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift of the value distribution per
    event type between month halves (operators/distdrift.ks_drift):
    per-value counts compact the corpus in one map-side-combined
    shuffle, then the ECDF gap window runs over the compacted frame;
    cumulative counts are exact BIGINTs so the statistic is engine- and
    shuffle-stable."""
    from .operators.distdrift import ks_drift

    events = _t(spark, sf_dir, "events")
    return ks_drift(events, "value", "ts", "event_type")


@register("key_skew_audit_transcripts", oracle=None)  # bound below
def key_skew_audit_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew audit of the pipeline's hot key
    (operators/skew.key_skew_audit): exact Gini / top-1 / top-1% share /
    CV of the per-conv_id turn counts — the measurement that decides
    whether the north rule's salted repartitioning is needed. One
    map-side-combined key count shuffle; every rank-weighted sum runs
    over the sqrt(2n)-bounded count histogram in exact BIGINTs."""
    from .operators.skew import key_skew_audit
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return key_skew_audit(t, "conv_id")


from .operators.skew import skew_oracle_sql as _skew_oracle  # noqa: E402

ORACLES["key_skew_audit_transcripts"] = _skew_oracle(
    f"read_parquet('{FIXTURE_TRANSCRIPTS}')", "conv_id"
)


from .operators.sampling import (  # noqa: E402
    token_budget_oracle_sql as _tb_oracle,
)


@register(
    "token_budget_mix_documents",
    oracle=_tb_oracle(
        "documents",
        "source",
        "n_chars",
        "doc_id",
        r"len(regexp_extract_all(text, '\S+'))",
        800,
    ),
)
def token_budget_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget data mixing
    (operators/sampling.token_budget_select): longest-first greedy fill
    of an 800-whitespace-token allowance per source — one cumulative
    BIGINT window per group over the (priority, key) order, exact keep
    frontier, JVM-side token counts (functions/textstats.TOKEN_CLASS)."""
    from .functions.textstats import TOKEN_CLASS
    from .operators.sampling import token_budget_select

    docs = _t(spark, sf_dir, "documents")
    out = token_budget_select(
        docs,
        group_col="source",
        priority_col="n_chars",
        key_col="doc_id",
        token_count_col=F.regexp_count("text", F.lit(TOKEN_CLASS)),
        budget=800,
    )
    return out.select(
        "doc_id", "source", "n_tokens", "cum_tokens", "keep"
    ).orderBy("doc_id")


def _encoding_audit_oracle() -> str:
    from .functions.encoding import (
        MOJI_SUFFIX,
        REPL_SUFFIX,
        encoding_audit_oracle_sql,
    )

    aug = f"""(
      SELECT source,
             text
               || (CASE WHEN doc_id % 7 = 0 THEN '{MOJI_SUFFIX}' ELSE '' END)
               || (CASE WHEN doc_id % 11 = 0 THEN '{REPL_SUFFIX}' ELSE '' END)
               || (CASE WHEN doc_id % 13 = 0 THEN chr(133) ELSE '' END)
               AS text
      FROM documents
    )"""
    return encoding_audit_oracle_sql(aug, "text", "source")


@register("encoding_audit_documents", oracle=_encoding_audit_oracle())
def encoding_audit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health audit (functions/encoding.encoding_audit):
    replacement-char / cp1252-mojibake / C1-control / non-ASCII counts
    per source, map-only JVM regexp_count into one map-side-combined
    groupBy. The ASCII test corpus is augmented with defects planted on
    a doc_id lattice — identical literals in the DuckDB oracle — so the
    detectors are exercised with positive counts, not vacuous zeros."""
    from .functions.encoding import MOJI_SUFFIX, REPL_SUFFIX, encoding_audit

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(MOJI_SUFFIX)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 11 == 0, F.lit(REPL_SUFFIX)).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 13 == 0, F.expr("char(133)")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return encoding_audit(aug, "text", "source")


from .operators.robust import trimmed_oracle_sql as _trim_oracle  # noqa: E402


@register(
    "trimmed_stats_events_daily",
    oracle=_trim_oracle("events", "value", "ts", "event_type", "event_id"),
)
def trimmed_stats_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-interval stats (operators/robust.trimmed_interval_stats):
    exact 5%-trimmed and winsorized daily means per event type. Trimming
    by integer row_number ranks (deterministic id tiebreak; equal values
    fungible) — no percentile-interpolation seam, so the result is
    value-checkable. Rank window and final groupBy share one Exchange."""
    from .operators.robust import trimmed_interval_stats

    events = _t(spark, sf_dir, "events")
    return trimmed_interval_stats(
        events, "value", "ts", "event_type", "event_id"
    )


from .operators.profile import freshness_oracle_sql as _fresh_oracle  # noqa: E402


@register(
    "freshness_audit_events",
    oracle=_fresh_oracle("events", "ts", "event_type"),
)
def freshness_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type freshness audit (operators/profile.freshness_audit):
    lag of each group's newest row behind the global watermark in exact
    interval-cast seconds (no session-tz epoch round-trip), stale flag at
    24h. Tiny per-group aggregate + broadcast 1-row watermark."""
    from .operators.profile import freshness_audit

    events = _t(spark, sf_dir, "events")
    return freshness_audit(events, "ts", "event_type")


@register("response_latency_transcripts", oracle=None)  # bound below
def response_latency_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day agent response-latency audit
    (pipeline/convchecks.response_latency_stats): user→assistant turn
    gaps in exact whole seconds (second-truncated endpoints — the
    date_diff/interval-cast parity trick), mean/max/slow-share per day.
    One conv_id window feeding a tiny day aggregate; text never
    shuffles."""
    from .pipeline.convchecks import response_latency_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return response_latency_stats(t)


from .pipeline.convchecks import (  # noqa: E402
    response_latency_oracle_sql as _latency_oracle,
)

ORACLES["response_latency_transcripts"] = _latency_oracle(FIXTURE_TRANSCRIPTS)


from .operators.robust import (  # noqa: E402
    exact_quantiles_oracle_sql as _quant_oracle,
)


@register(
    "exact_quantiles_events_daily",
    oracle=_quant_oracle("events", "value", "ts", "event_type", "event_id"),
)
def exact_quantiles_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-statistic p50/p90/p99 per event type per day
    (operators/robust.exact_quantiles_by_interval): integer-rank lookup
    at ceil(q*n) over a (value, id)-ordered window — no interpolation,
    no engine seam; rank window and groupBy share one Exchange."""
    from .operators.robust import exact_quantiles_by_interval

    events = _t(spark, sf_dir, "events")
    return exact_quantiles_by_interval(
        events, "value", "ts", "event_type", "event_id"
    )


from .operators.sampling import (  # noqa: E402
    quality_tiers_oracle_sql as _tiers_oracle,
)


@register(
    "quality_tiers_documents",
    oracle=_tiers_oracle("documents", "source", "n_chars", "doc_id"),
)
def quality_tiers_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality tiering (operators/sampling.quality_tiers):
    quartile assignment by integer row_number ranks — exact balanced
    tier boundaries, no ntile implementation seam. Curriculum/mixing
    schedules consume the tier column directly."""
    from .operators.sampling import quality_tiers

    docs = _t(spark, sf_dir, "documents")
    out = quality_tiers(docs, "source", "n_chars", "doc_id")
    return out.select(
        "doc_id", "source", F.col("n_chars").alias("score"), "tier"
    ).orderBy("doc_id")


from .operators.sampling import unimax_oracle_sql as _unimax_oracle


@register(
    "unimax_mix_documents",
    oracle=_unimax_oracle(
        "documents", "lang", "n_chars", budget=250_000, max_epochs=2
    ),
)
def unimax_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax epoch-capped mixture weights per language
    (operators/sampling.unimax_mixture, Chung et al. ICLR 2023):
    distribute a 250k-char budget as uniformly as the 2-epoch cap
    allows (at sf0.01 that lands in the MIXED regime: four cap-limited
    languages and a share-limited suffix — the branch the pivot algebra
    exists for). Closed-form cap-prefix/equal-share-suffix window arithmetic
    over the #languages-sized counts frame — one groupBy Exchange, the
    windows touch metadata only."""
    from .operators.sampling import unimax_mixture

    docs = _t(spark, sf_dir, "documents")
    return unimax_mixture(
        docs, "lang", "n_chars", budget=250_000, max_epochs=2
    )


from .pipeline.audits import (  # noqa: E402
    ppl_tier_oracle_sql as _ppl_tier_oracle,
    role_consistency_oracle_sql as _role_audit_oracle,
    toxicity_oracle_sql as _tox_oracle,
)


@register(
    "ppl_tiers_transcripts",
    oracle=_ppl_tier_oracle(FIXTURE_TRANSCRIPTS),
)
def ppl_tiers_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail perplexity tiering per day
    (pipeline/audits.ppl_tier_stats, Wenzek et al. LREC 2020): the
    curation knob over the same char-bigram LM the keep rule uses.
    Fixed thresholds in the corpus distribution's gaps (not rank
    terciles) keep the compare float-drift-proof; the oracle re-trains
    the LM in SQL via the shared ppl_chain_ctes fragment. Map-only
    Arrow scoring, day×tier-sized aggregate."""
    from .pipeline.audits import ppl_tier_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return ppl_tier_stats(t)


@register(
    "toxicity_stats_transcripts",
    oracle=_tox_oracle(FIXTURE_TRANSCRIPTS),
)
def toxicity_stats_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day per-role toxic-turn share from the scrub lexicon
    (pipeline/audits.toxicity_stats): the monitoring counterpart of the
    byte-exact scrub pass — a share spike is an upstream-source
    incident. Presence via short-circuiting rlike in the scan, one tiny
    day×role aggregate."""
    from .pipeline.audits import toxicity_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return toxicity_stats(t)


@register(
    "role_consistency_transcripts",
    oracle=_role_audit_oracle(FIXTURE_TRANSCRIPTS),
)
def role_consistency_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day conversation-structure violation counts
    (pipeline/audits.role_consistency_audit): the north-star
    role-consistency rules (first role, alternation, tool
    orphan/mismatch) surfaced as an operational time series. One
    conv_id window Exchange carrying no text, days-sized output."""
    from .pipeline.audits import role_consistency_audit
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return role_consistency_audit(t)


def _trending_oracle(path: str, k: int = 5) -> str:
    return f"""
    WITH words AS (
      SELECT date_trunc('day', ts) AS day,
             unnest(string_split_regex(lower(coalesce(text, '')),
                                       '[^a-z0-9]+')) AS word
      FROM read_parquet('{path}')
    ),
    counts AS (
      SELECT day, word, count(*) AS n FROM words
      WHERE word <> '' GROUP BY 1, 2
    ),
    ranked AS (
      SELECT day, word, CAST(n AS BIGINT) AS n,
             row_number() OVER (PARTITION BY day
                                ORDER BY n DESC, word) AS rank
      FROM counts
    )
    SELECT day, word, n, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k} ORDER BY day, rank
    """


@register(
    "trending_terms_transcripts",
    oracle=_trending_oracle(FIXTURE_TRANSCRIPTS, k=5),
)
def trending_terms_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day top-5 tokens by frequency — the trending-terms view of
    corpus drift (a new term spiking into the daily top-k is the
    earliest topical-shift signal). Plan: explode → two-phase hash count
    keyed (day, word) → per-day row_number with the rank filter pushed
    as a WindowGroupLimit partial before the window Exchange, so no
    day's full vocabulary crosses the shuffle. Deterministic
    (n DESC, word) tie order; same tokenization as vocab_topk."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    words = t.select(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), "[^a-z0-9]+")
        ).alias("word"),
    ).filter("word <> ''")
    counts = words.groupBy("day", "word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("word"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("day", "rank")
    )


def _conv_near_dup_oracle(path: str) -> str:
    return f"""
    WITH t AS (
      SELECT conv_id, turn_idx, coalesce(text, '') AS text
      FROM read_parquet('{path}')
    ),
    conv AS (
      SELECT conv_id AS cid,
             string_agg(text, chr(10) ORDER BY turn_idx) AS s
      FROM t GROUP BY conv_id
    ),
    base AS (
      SELECT cid, s FROM conv
      UNION ALL
      SELECT 'm' || substr(cid, 2), s || ' extra closing words'
      FROM conv WHERE cid < 'c00000040'
    ),
    grams AS (
      -- BYTE 5-grams over the utf-8 encoding: the Spark verifier
      -- (functions/hashing.char_shingles) slides over the utf-8 buffer,
      -- and these texts are multilingual, so char grams would diverge
      SELECT DISTINCT cid, substr(hex(encode(s)), 2*i - 1, 10) AS gram
      FROM base,
           UNNEST(range(1, greatest(octet_length(encode(s))-4, 1)+1)) AS t(i)
    ),
    sizes AS (SELECT cid, count(*) AS n FROM grams GROUP BY 1),
    inter AS (
      SELECT a.cid AS id_a, b.cid AS id_b, count(*) AS c
      FROM grams a JOIN grams b USING (gram)
      WHERE a.cid < b.cid GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.cid = id_a
    JOIN sizes sb ON sb.cid = id_b
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
    ORDER BY 1, 2
    """


@register(
    "conv_near_dup_transcripts",
    oracle=_conv_near_dup_oracle(FIXTURE_TRANSCRIPTS),
)
def conv_near_dup_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level MinHash near-dup: whole conversations that are
    minor edits of each other (re-rolled sessions, resubmitted chats)
    — turn-exact dedup (conv_dedup_transcripts) misses them. Each
    conversation flattens to one ordered text (same one-shuffle
    array_sort(collect_list) move as render_chat), 40 planted mutated
    copies, then the document LSH machinery verbatim (r=2, b=32 banded
    equijoin + exact-Jaccard verification ≥0.8 — the fixture's templated
    conversations pack a dense genuine-pair band in [0.60, 0.72], so the
    threshold sits in the empty margin above it: planted pairs all score
    ≥0.897); the oracle recomputes
    exact 5-char-shingle Jaccard over every pair of the bounded input.
    At scale the candidate join stays banded — no all-pairs path."""
    from .operators.dedup import minhash_lsh_dedup_pairs
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    conv = t.groupBy(F.col("conv_id").alias("cid")).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("turn_idx", F.coalesce("text", F.lit("")).alias("text"))
                    )
                ),
                lambda s: s["text"],
            ),
        ).alias("s")
    )
    mutated = conv.filter(F.col("cid") < "c00000040").select(
        F.concat(F.lit("m"), F.substring("cid", 2, 100)).alias("cid"),
        F.concat(F.col("s"), F.lit(" extra closing words")).alias("s"),
    )
    inner = minhash_lsh_dedup_pairs(
        conv.unionAll(mutated),
        text_col="s",
        id_col="cid",
        threshold=0.8,
        num_perm=64,
        bands=32,
    )
    return _carry_cached(
        inner.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b"),
        inner,
    )


from .operators.lm import corpus_lm_oracle_sql as _corpus_lm_oracle  # noqa: E402


@register(
    "corpus_lm_ppl_documents",
    oracle=_corpus_lm_oracle(
        "SELECT doc_id, text FROM documents WHERE doc_id < 300", "doc_id"
    ),
)
def corpus_lm_ppl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM perplexity (operators/lm): train the
    49-class char-bigram model ON the documents themselves (one
    mapInPandas counting pass, driver sees ≤2401 cells), broadcast the
    log-prob matrix, score every doc under it — the CCNet in-domain-LM
    recipe, where the embedded-corpus scorer is replaced by one trained
    on the target corpus. The oracle re-trains the same LM entirely in
    DuckDB SQL from the same rows. Bounded to 300 docs so the SQL
    char-explosion stays cheap; the Spark path is corpus-size-free."""
    from .operators.lm import corpus_lm_scores

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 300")
    )
    return corpus_lm_scores(docs).orderBy("doc_id")


from .operators.lm import grouped_lm_oracle_sql as _grouped_lm_oracle  # noqa: E402


@register(
    "lang_lm_ppl_documents",
    oracle=_grouped_lm_oracle(
        "SELECT doc_id, lang, text FROM documents WHERE doc_id < 300",
        "lang",
        "doc_id",
    ),
)
def lang_lm_ppl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE corpus-trained LM perplexity (operators/lm
    grouped_lm_scores — the actual CCNet recipe: one LM per language,
    each doc scored under its own language's model). Training is still
    ONE mapInPandas pass + one #langs×2401-key aggregate; scoring
    dispatches to the right broadcast matrix inside a single Arrow UDF.
    Oracle re-trains every per-language LM in SQL from the same rows."""
    from .operators.lm import grouped_lm_scores

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .filter("doc_id < 300")
    )
    return grouped_lm_scores(docs, "lang").orderBy("doc_id")


from .operators.nblangid import nb_langid_oracle_sql as _nb_langid_oracle  # noqa: E402


@register(
    "nb_langid_confusion_documents",
    oracle=_nb_langid_oracle(
        "SELECT lang, text FROM documents WHERE doc_id < 400", "lang"
    ),
)
def nb_langid_confusion_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRAINED language-ID (operators/nblangid): multinomial Naive Bayes
    over char trigrams fit on the corpus's own labels — the supervised,
    fastText-flavored counterpart of the heuristic langid spec, trained
    in ONE (lang, trigram) aggregation pass with a broadcast dense
    model and pure-Catalyst scoring (explode → semi-join vocab →
    broadcast model join → argmax window). Output is the integer
    confusion matrix, so the value hash is float-free; the oracle
    re-derives the identical model and predictions in SQL."""
    from .operators.nblangid import nb_langid_confusion

    docs = (
        _t(spark, sf_dir, "documents")
        .select("lang", "text")
        .filter("doc_id < 400")
    )
    inner = nb_langid_confusion(docs, "lang")
    return _carry_cached(inner, inner)


# --------------------------------------------------------------------------
# round-5 conversation-health audits (pipeline/convaudit) — dialogue-level
# operational signals above the per-turn rules; all shuffles text-free
# --------------------------------------------------------------------------

from .pipeline.convaudit import (  # noqa: E402
    conversation_outcome_oracle_sql as _outcome_oracle,
    role_transition_oracle_sql as _transition_oracle,
    templated_response_oracle_sql as _template_oracle,
    tool_chain_oracle_sql as _tool_chain_oracle,
)


@register(
    "role_transitions_transcripts",
    oracle=_transition_oracle(FIXTURE_TRANSCRIPTS),
)
def role_transitions_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day role-bigram transition matrix
    (pipeline/convaudit.role_transition_stats): lag(role) over each
    conversation feeds a (day, prev_role, role) count with day-shares.
    A drifting transition mix is the earliest structural drift signal
    for a serving stack. One text-free conv_id window + a tiny day
    aggregate."""
    from .pipeline.convaudit import role_transition_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    return role_transition_stats(spark.read.parquet(FIXTURE_TRANSCRIPTS))


@register(
    "conversation_outcomes_transcripts",
    oracle=_outcome_oracle(FIXTURE_TRANSCRIPTS),
)
def conversation_outcomes_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day conversation-ending audit
    (pipeline/convaudit.conversation_outcome_stats): closing role per
    conversation via max_by(role, turn_idx) — abandoned-on-user,
    dangling-tool and assistant-close shares plus mean length. Training
    on abandoned tails teaches a model to stop answering; this is the
    per-day tripwire. Two tiny hash aggregates, no text shuffled."""
    from .pipeline.convaudit import conversation_outcome_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    return conversation_outcome_stats(
        spark.read.parquet(FIXTURE_TRANSCRIPTS)
    )


@register(
    "templated_responses_transcripts",
    oracle=_template_oracle(FIXTURE_TRANSCRIPTS),
)
def templated_responses_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Templated/canned assistant-response detector
    (pipeline/convaudit.templated_response_stats): normalize (lower,
    digit-collapse, whitespace-collapse), md5 a 48-char prefix map-side,
    then two-phase (hash, conv) → hash aggregation — boilerplate
    templates re-used across ≥3 conversations, with use counts. The
    shuffle carries 32-hex-byte fingerprints, never text, and no
    count(DISTINCT) Expand is planned."""
    from .pipeline.convaudit import templated_response_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    return templated_response_stats(
        spark.read.parquet(FIXTURE_TRANSCRIPTS)
    )


@register(
    "tool_chains_transcripts",
    oracle=_tool_chain_oracle(FIXTURE_TRANSCRIPTS),
)
def tool_chains_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-tool-call chain audit
    (pipeline/convaudit.tool_chain_stats): gaps-and-islands
    (turn_idx − row_number) on the ~5% tool-turn slice after a map-side
    role filter, aggregated per day of the chain's first call —
    runaway chains flag wedged agents that per-turn rules miss."""
    from .pipeline.convaudit import tool_chain_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    return tool_chain_stats(spark.read.parquet(FIXTURE_TRANSCRIPTS))


from .functions.scriptmix import script_mix_oracle_sql as _script_oracle  # noqa: E402
from .pipeline.convaudit import (  # noqa: E402
    context_overflow_oracle_sql as _overflow_oracle,
)


@register(
    "script_mix_documents",
    oracle=_script_oracle("documents"),
)
def script_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script-mix audit (functions/scriptmix.script_mix_stats):
    per-document counts over explicit BMP script ranges (Latin, Han,
    Cyrillic, kana, digits — literal ranges shared with the RE2 oracle,
    no \\p{} spelling seam), priority-argmax dominant script and a
    mixed-script flag, aggregated per declared language. Mixed-script
    spam is what language-ID alone misses. Map-only JVM regexp counts in
    scan codegen; the groupBy ships #langs×10 numerics."""
    from .functions.scriptmix import script_mix_stats

    return script_mix_stats(_t(spark, sf_dir, "documents"))


@register(
    "context_overflow_transcripts",
    oracle=_overflow_oracle(FIXTURE_TRANSCRIPTS),
)
def context_overflow_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-day context-window overflow audit
    (pipeline/convaudit.context_overflow_stats): BPE-ish token counts in
    scan codegen, cumulative sum per conversation, first turn past the
    512-token budget — the tripwire for conversations an SFT packer
    would silently truncate. The conv window shuffles (conv_id,
    turn_idx, n_tok, ts), never text."""
    from .pipeline.convaudit import context_overflow_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    return context_overflow_stats(
        spark.read.parquet(FIXTURE_TRANSCRIPTS)
    )


from .pipeline.convaudit import (  # noqa: E402
    turn_integrity_oracle_sql as _integrity_oracle,
)

# planted-defect lattice for the turn-integrity audit: the fixture itself is
# clean, so — like the encoding audit — defects are planted identically on
# both sides so the value check proves positive counts, not vacuous zeros:
#   g-convs: every turn_idx % 5 == 2 removed        → index gaps
#   d-convs: every turn_idx % 7 == 3 duplicated     → duplicate indices
#   i-convs: turns with turn_idx % 4 == 1 shifted −400 s (inter-turn gaps
#            are 1–299 s, so each shifted turn inverts)
_INTEGRITY_ORACLE_INPUT = """(
  SELECT conv_id, turn_idx, ts FROM read_parquet('{path}')
  UNION ALL
  SELECT 'g' || conv_id, turn_idx, ts FROM read_parquet('{path}')
  WHERE conv_id < 'c00000050' AND turn_idx % 5 <> 2
  UNION ALL
  SELECT 'd' || conv_id, turn_idx, ts FROM read_parquet('{path}')
  WHERE conv_id < 'c00000030' AND turn_idx % 7 = 3
  UNION ALL
  SELECT 'd' || conv_id, turn_idx, ts FROM read_parquet('{path}')
  WHERE conv_id < 'c00000030'
  UNION ALL
  SELECT 'i' || conv_id, turn_idx,
         CASE WHEN turn_idx % 4 = 1
              THEN ts - INTERVAL 400 SECOND ELSE ts END AS ts
  FROM read_parquet('{path}') WHERE conv_id < 'c00000020'
)"""


@register(
    "turn_integrity_transcripts",
    oracle=_integrity_oracle(FIXTURE_TRANSCRIPTS).replace(
        f"read_parquet('{FIXTURE_TRANSCRIPTS}')",
        _INTEGRITY_ORACLE_INPUT.format(path=FIXTURE_TRANSCRIPTS),
        1,
    ),
)
def turn_integrity_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Turn-ordering integrity audit
    (pipeline/convaudit.turn_integrity_stats): per-day counts of
    conversations with turn_idx gaps, duplicate indices, or timestamp
    inversions — the preconditions the north rule's "stable turn
    ordering" parity contract rests on. Duplicates are detected by lag
    adjacency (the window already sorts by turn_idx), so no
    count(DISTINCT) Expand. Defects are planted on a deterministic
    conv_id lattice identically in both engines so every output column
    is checked against positive counts."""
    from .pipeline.convaudit import turn_integrity_stats
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    base = spark.read.parquet(FIXTURE_TRANSCRIPTS).select(
        "conv_id", "turn_idx", "ts"
    )
    gaps = (
        base.where(
            (F.col("conv_id") < "c00000050") & (F.col("turn_idx") % 5 != 2)
        ).select(
            F.concat(F.lit("g"), "conv_id").alias("conv_id"),
            "turn_idx",
            "ts",
        )
    )
    dup_extra = base.where(
        (F.col("conv_id") < "c00000030") & (F.col("turn_idx") % 7 == 3)
    )
    dups = (
        dup_extra.unionAll(base.where(F.col("conv_id") < "c00000030"))
        .select(
            F.concat(F.lit("d"), "conv_id").alias("conv_id"),
            "turn_idx",
            "ts",
        )
    )
    inv = base.where(F.col("conv_id") < "c00000020").select(
        F.concat(F.lit("i"), "conv_id").alias("conv_id"),
        "turn_idx",
        F.when(
            F.col("turn_idx") % 4 == 1,
            F.col("ts") - F.expr("INTERVAL 400 SECOND"),
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    return turn_integrity_stats(
        base.unionAll(gaps).unionAll(dups).unionAll(inv)
    )


def _drop_attribution_oracle(path: str) -> str:
    """Wrap the proven keep-flags oracle in a per-rule attribution rollup:
    for each rule, how many turns it fails and how many it UNIQUELY
    fails (no other rule fires) — the 'why was my data dropped' query."""
    from .pipeline.oracle_sql import keep_flags_oracle_sql
    from .pipeline.rules import RULE_NAMES

    inner = keep_flags_oracle_sql(path)
    nf = " + ".join(
        f"(CASE WHEN NOT {r} THEN 1 ELSE 0 END)" for r in RULE_NAMES
    )
    sums = ", ".join(
        f"sum(CASE WHEN NOT {r} THEN 1 ELSE 0 END) AS f_{r}, "
        f"sum(CASE WHEN NOT {r} AND nf = 1 THEN 1 ELSE 0 END) AS u_{r}"
        for r in RULE_NAMES
    )
    arms = " UNION ALL ".join(
        f"SELECT '{r}' AS rule, CAST(f_{r} AS BIGINT) AS n_fail, "
        f"CAST(u_{r} AS BIGINT) AS n_unique_fail, "
        f"round(f_{r} / n_turns, 6) AS fail_share FROM agg"
        for r in RULE_NAMES
    )
    return f"""
    WITH labels AS ( SELECT * FROM ( {inner} ) ),
    nfail AS ( SELECT *, {nf} AS nf FROM labels ),
    agg AS ( SELECT count(*) AS n_turns, {sums} FROM nfail )
    SELECT * FROM ( {arms} ) ORDER BY rule
    """


@register(
    "drop_attribution_transcripts",
    oracle=_drop_attribution_oracle(FIXTURE_TRANSCRIPTS),
)
def drop_attribution_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-rule drop attribution over the flagship pipeline's labels:
    for each of the nine quality rules, how many turns fail it and how
    many turns fail ONLY it (the rule's unique kill count — the number
    that tells an operator which threshold to tune). Reuses the full
    Arrow pipeline on the Spark side and the complete SQL re-derivation
    of every rule (langid + SQL-trained perplexity LM included) on the
    oracle side, so the attribution inherits the keep-flags parity
    chain. One 18-sum aggregate over the labels frame, unpivoted with
    stack over a 1-row frame — adds no shuffle beyond the pipeline's
    own."""
    from .pipeline.quality import run_quality_pipeline
    from .pipeline.rules import RULE_NAMES
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    df = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    labels = run_quality_pipeline(df).select(*RULE_NAMES)
    nf = None
    for r in RULE_NAMES:
        term = (~F.col(r)).cast("int")
        nf = term if nf is None else nf + term
    nfail = labels.withColumn("nf", nf)
    aggs = [F.count(F.lit(1)).alias("n_turns")]
    for r in RULE_NAMES:
        aggs.append(F.sum((~F.col(r)).cast("long")).alias(f"f_{r}"))
        aggs.append(
            F.sum(((~F.col(r)) & (F.col("nf") == 1)).cast("long")).alias(
                f"u_{r}"
            )
        )
    agg = nfail.agg(*aggs)
    stack_args = ", ".join(
        f"'{r}', f_{r}, u_{r}" for r in RULE_NAMES
    )
    return (
        agg.select(
            "n_turns",
            F.expr(
                f"stack({len(RULE_NAMES)}, {stack_args}) AS "
                "(rule, n_fail, n_unique_fail)"
            ),
        )
        .select(
            "rule",
            "n_fail",
            "n_unique_fail",
            F.round(F.col("n_fail") / F.col("n_turns"), 6).alias(
                "fail_share"
            ),
        )
        .orderBy("rule")
    )


def _embedding_health_oracle() -> str:
    """DuckDB twin of embedding_health over the planted-defect corpus:
    identical defect lattice (vec_id % 97 -> zero vector, vec_id % 101
    -> NaN in dim 1), identical double fold for the squared norm,
    identical micro-BIGINT quantization and the same left-associated
    arithmetic tree for avg_norm / collapse_ratio."""
    s_sums = ", ".join(
        "sum(CASE WHEN NOT bad AND n2 > 0 THEN "
        f"CAST(round(CAST(v[{i}] AS DOUBLE) * 1000000) AS BIGINT) "
        f"ELSE 0 END) AS s{i}"
        for i in range(1, 65)
    )
    mean2 = " + ".join(
        f"(s{i} / n_healthy / 1000000) * (s{i} / n_healthy / 1000000)"
        for i in range(1, 65)
    )
    return f"""
    WITH base AS (
      SELECT label,
             CASE WHEN vec_id % 97 = 0
                  THEN list_transform(embedding, x -> CAST(0.0 AS REAL))
                  WHEN vec_id % 101 = 0
                  THEN list_concat([CAST('nan' AS REAL)], embedding[2:])
                  ELSE embedding END AS v
      FROM embeddings
    ),
    flagged AS (
      SELECT label, v,
             len(list_filter(v, x -> isnan(x))) > 0 AS bad,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (a, b) -> a + b) AS n2
      FROM base
    ),
    g AS (
      SELECT label,
             CAST(count(*) AS BIGINT) AS n_vecs,
             CAST(sum(CASE WHEN NOT bad AND n2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_zero,
             CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonfinite,
             CAST(sum(CASE WHEN NOT bad AND n2 > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_healthy,
             sum(CASE WHEN NOT bad AND n2 > 0
                 THEN CAST(round(sqrt(n2) * 1000000) AS BIGINT)
                 ELSE 0 END) AS qn_sum,
             min(CASE WHEN NOT bad AND n2 > 0 THEN round(sqrt(n2), 6) END)
               AS min_norm,
             max(CASE WHEN NOT bad AND n2 > 0 THEN round(sqrt(n2), 6) END)
               AS max_norm,
             {s_sums}
      FROM flagged GROUP BY label
    )
    SELECT label, n_vecs, n_zero, n_nonfinite,
           CASE WHEN n_healthy > 0
                THEN round(qn_sum / n_healthy / 1000000, 6) END AS avg_norm,
           min_norm, max_norm,
           CASE WHEN n_healthy > 0
                THEN round(sqrt({mean2})
                           / (qn_sum / n_healthy / 1000000), 6)
           END AS collapse_ratio
    FROM g ORDER BY label
    """


@register("embedding_health_embeddings", oracle=_embedding_health_oracle())
def embedding_health_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus health audit (operators/embhealth.py): per label,
    dead-vector counts (all-zero / NaN), norm statistics over healthy
    vectors and the representation-collapse ratio ||mean vec|| / mean
    norm. Defects are planted on a vec_id lattice with identical
    literals in both engines (vec_id % 97 -> zero vector, % 101 -> NaN
    in dim 1) so every detector counts POSITIVE hits, not vacuous
    zeros. Map-only codegen row stage + ONE 71-expression HashAggregate
    over 10 groups; all shuffled floats are micro-BIGINT-quantized, so
    the result is shuffle-order-proof. Extends reference
    preprocess.py:218-229 (per-column null ratio / min / max / mean) to
    the array<float> column type."""
    from .operators.embhealth import embedding_health

    df = _t(spark, sf_dir, "embeddings")
    dim = 64
    planted = (
        F.when(
            F.col("vec_id") % 97 == 0,
            F.array_repeat(F.lit(0.0).cast("float"), dim),
        )
        .when(
            F.col("vec_id") % 101 == 0,
            F.concat(
                F.array(F.lit(float("nan")).cast("float")),
                F.slice(F.col("embedding"), 2, dim - 1),
            ),
        )
        .otherwise(F.col("embedding"))
    )
    base = df.select("label", planted.alias("embedding"))
    return embedding_health(base, "embedding", "label", dim=dim)


def _mad_oracle() -> str:
    from .operators.robust import mad_outliers_oracle_sql

    return mad_outliers_oracle_sql(
        "events", "value", "ts", "event_type", spike=60.0
    )


@register("mad_outliers_events_daily", oracle=_mad_oracle())
def mad_outliers_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD robust z-score outliers over each event type's daily-mean
    series (operators/robust.py mad_outliers_by_interval) — the
    masking-proof twin of the reference's Z-score criterion
    (reference evaluate.py:91-97, sigma==0 guard at :92-93). A +60
    spike is planted on every day-of-month-7 AFTER daily aggregation
    with identical literals in both engines, so the detector is
    value-checked on POSITIVE hits. One corpus-compacting
    (group, day) HashAggregate; both medians are integer-rank order
    statistics over the compacted series — no quantile-interpolation
    engine seam."""
    from .operators.robust import mad_outliers_by_interval

    return mad_outliers_by_interval(
        _t(spark, sf_dir, "events"), "value", "ts", "event_type", spike=60.0
    )


def _cohort_oracle() -> str:
    from .operators.eventflow import cohort_retention_oracle_sql

    return cohort_retention_oracle_sql("events", "user_id", "ts")


@register("cohort_retention_events", oracle=_cohort_oracle())
def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events table
    (operators/eventflow.py cohort_retention) — the classic
    activity-monitoring view over the same table the reference
    aggregates per-interval (reference aggregate.py:23-60). Uniform
    user-keyed aggregates compact the corpus; the cohort-size join is
    broadcast."""
    from .operators.eventflow import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"), "user_id", "ts")


def _funnel_oracle() -> str:
    from .operators.eventflow import funnel_conversion_oracle_sql

    return funnel_conversion_oracle_sql("events", "user_id", "ts", "event_type")


@register("funnel_conversion_events", oracle=_funnel_oracle())
def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day view→click→purchase funnel with strict timestamp
    ordering (operators/eventflow.py funnel_conversion). ONE
    groupBy(user, day) + Catalyst array fold walks the funnel — a
    single shuffle vs the oracle's aggregate+join per step; greedy
    earliest-match makes both formulations provably identical, and the
    value hash confirms it."""
    from .operators.eventflow import funnel_conversion

    return funnel_conversion(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type"
    )


def _ewma_oracle() -> str:
    from .operators.eventflow import ewma_deviation_oracle_sql

    return ewma_deviation_oracle_sql(
        "events", "value", "ts", "event_type", spike=60.0
    )


@register("ewma_break_events_daily", oracle=_ewma_oracle())
def ewma_break_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA one-step-ahead forecast deviation per event type's daily
    means (operators/eventflow.py ewma_deviation) — the sequential twin
    of mad_outliers_events_daily: MAD catches level outliers, EWMA
    catches breaks from the local trend. Decay 0.5 keeps every weight a
    power of two (exact float products); a +60 spike planted on
    day-of-month 7 in both engines value-checks positive hits."""
    from .operators.eventflow import ewma_deviation

    return ewma_deviation(
        _t(spark, sf_dir, "events"), "value", "ts", "event_type", spike=60.0
    )


def _split_leak_oracle() -> str:
    from .operators.splits import split_leakage_oracle_sql

    base = (
        "SELECT doc_id, text FROM documents "
        "UNION ALL "
        "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
        "WHERE doc_id % 10 = 0"
    )
    return split_leakage_oracle_sql(base, "doc_id", "text")


@register("split_leakage_documents", oracle=_split_leak_oracle())
def split_leakage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-stable train/valid/test split + cross-split exact-dup
    leakage audit (operators/splits.py). Every 10th document is cloned
    under a shifted id with identical literals in both engines, so the
    leak detector is value-checked on positive hits: the clone's
    id-hash lands it in a (usually) different split and both copies
    must be reported leaked. Digest-keyed uniform shuffles only — no
    text moves."""
    from .operators.splits import split_leakage

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return split_leakage(docs.unionByName(clones), "doc_id", "text")


def _rau_oracle() -> str:
    from .operators.eventflow import rolling_active_users_oracle_sql

    return rolling_active_users_oracle_sql("events", "user_id", "ts")


@register("rolling_active_users_events", oracle=_rau_oracle())
def rolling_active_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / new-user DAU / trailing-7-day WAU per day
    (operators/eventflow.py rolling_active_users). The trailing window
    is a map-side explode over the compacted activity frame + one
    countDistinct — W x |activity| rows shuffled instead of the
    |activity| x |days| BroadcastNestedLoopJoin a day-range theta-join
    would cost at 100 TB."""
    from .operators.eventflow import rolling_active_users

    return rolling_active_users(_t(spark, sf_dir, "events"), "user_id", "ts")


def _hh_oracle() -> str:
    from .operators.heavyhitters import heavy_hitters_oracle_sql

    return heavy_hitters_oracle_sql(
        "SELECT text FROM documents", "text", k=100
    )


@register("heavy_hitters_documents", oracle=_hh_oracle())
def heavy_hitters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide frequent terms (freq > n/100) via the
    Misra-Gries candidate sweep + broadcast-gated exact recount
    (operators/heavyhitters.py) — the no-full-vocab-shuffle path. The
    DuckDB oracle brute-forces the same definition; the value hash
    proves the two-phase distributed answer IS the exact answer."""
    from .operators.heavyhitters import heavy_hitters_exact

    return heavy_hitters_exact(
        _t(spark, sf_dir, "documents"), "text", k=100
    )


_SFT_SPANS_ORACLE = rf"""
    WITH t AS (
      SELECT conv_id, turn_idx, role,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS INT) AS n_text_tokens
      FROM read_parquet('{FIXTURE_TRANSCRIPTS}')
    ),
    s AS (
      SELECT conv_id, turn_idx, role, n_text_tokens,
             CAST(COALESCE(SUM(CAST(n_text_tokens AS BIGINT) + 2) OVER (
                    PARTITION BY conv_id ORDER BY turn_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS tok_start
      FROM t
    )
    SELECT conv_id, turn_idx, role, n_text_tokens, tok_start,
           tok_start + n_text_tokens + 2 AS tok_end,
           CASE WHEN role = 'assistant' THEN 1 ELSE 0 END AS in_loss,
           CAST(CASE WHEN role = 'assistant' THEN n_text_tokens ELSE 0 END
                AS INT) AS loss_tokens
    FROM s ORDER BY conv_id, turn_idx
    """


@register("sft_loss_spans_transcripts", oracle=_SFT_SPANS_ORACLE)
def sft_loss_spans_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn token spans + loss mask for SFT (operators/sft.py
    turn_loss_spans): each turn's half-open [tok_start, tok_end) in the
    rendered conversation (2 template-overhead tokens per turn) and
    in_loss/loss_tokens marking assistant turns — what a trainer needs
    to pack conversations and mask non-assistant tokens. ONE window
    Exchange on conv_id — the reassembly shuffle shape, no text moves
    past the token count."""
    from .operators.sft import turn_loss_spans
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return turn_loss_spans(t).orderBy("conv_id", "turn_idx")


def _sft_pack_oracle() -> str:
    from .operators.sft import pack_conversations_oracle_sql

    return pack_conversations_oracle_sql(
        FIXTURE_TRANSCRIPTS, capacity=512, n_buckets=16
    )


@register("sft_pack_convs_transcripts", oracle=_sft_pack_oracle())
def sft_pack_convs_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic greedy conversation packing into 512-token bins
    (operators/sft.py pack_conversations): conversations never split
    across packs; exact greedy runs inside 16 deterministic md5-Horner
    buckets via applyInPandas over the conversation-LEVEL frame (id +
    token count only — 9 orders smaller than the turn table at 10^12
    turns). The DuckDB oracle replays the same greedy recurrence with a
    bounded recursive CTE (one conversation per bucket per step); the
    value hash proves the bucketed distributed answer equals the
    sequential definition."""
    from .operators.sft import pack_conversations
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return pack_conversations(t, capacity=512, n_buckets=16).orderBy(
        "conv_id"
    )


def _sft_trunc_oracle() -> str:
    from .operators.sft import truncate_to_context_oracle_sql

    return truncate_to_context_oracle_sql(FIXTURE_TRANSCRIPTS, capacity=128)


@register("sft_truncate_transcripts", oracle=_sft_trunc_oracle())
def sft_truncate_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window cropping to the trailing whole turns under a
    128-token budget (operators/sft.py truncate_to_context) — the
    standard SFT policy: recent turns carry the signal, whole turns
    only, last turn always kept, spans re-based to the truncated
    rendering. Two window passes over ONE conv_id Exchange; the budget
    filter drops pre-window history before any downstream stage."""
    from .operators.sft import truncate_to_context
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    return truncate_to_context(t, capacity=128).orderBy("conv_id", "turn_idx")


def _sft_manifest_oracle() -> str:
    from .operators.sft import pack_conversations_oracle_sql

    inner = pack_conversations_oracle_sql(
        FIXTURE_TRANSCRIPTS, capacity=512, n_buckets=16
    )
    return f"""
    WITH packed AS ({inner})
    SELECT bucket, pack_id,
           CAST(count(*) AS BIGINT) AS n_convs,
           CAST(sum(n_conv_tokens) AS BIGINT) AS n_tokens,
           round(sum(n_conv_tokens) / 512.0, 6) AS fill_ratio,
           array_to_string(list(pack_offset ORDER BY pack_offset), ',')
             AS conv_boundaries
    FROM packed GROUP BY bucket, pack_id ORDER BY bucket, pack_id
    """


@register("sft_pack_manifest_transcripts", oracle=_sft_manifest_oracle())
def sft_pack_manifest_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-pack manifest over the atomic packing: conversation count,
    token fill, fill ratio vs the 512 capacity, and the sorted
    conversation-start offsets ("attention boundaries" — a trainer
    resets cross-conversation attention at exactly these positions).
    One groupBy over the conversation-level packed frame — metadata
    scale; the turn table is never re-read."""
    from .operators.sft import pack_conversations
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    packed = pack_conversations(t, capacity=512, n_buckets=16)
    return (
        packed.groupBy("bucket", "pack_id")
        .agg(
            F.count("*").alias("n_convs"),
            F.sum("n_conv_tokens").alias("n_tokens"),
            F.round(F.sum("n_conv_tokens") / F.lit(512.0), 6).alias(
                "fill_ratio"
            ),
            F.array_join(
                F.sort_array(F.collect_list("pack_offset")), ","
            ).alias("conv_boundaries"),
        )
        .orderBy("bucket", "pack_id")
    )


# ---------------------------------------------------------------------------
# Round-5 closing additions: lexical retrieval, tokenizer fertility,
# content-drift KL, edit-distance-verified fuzzy dedup
# ---------------------------------------------------------------------------

# Deterministic BM25 query set over the corpus vocabulary; q3 carries a
# zero-df term to pin the absent-term path (it contributes nothing in
# both engines). (query_id, term) pairs, already tokenized.
_BM25_QUERIES = [
    (1, "spark"), (1, "window"), (1, "agg"),
    (2, "customer"), (2, "order"), (2, "value"),
    (3, "slow"), (3, "query"), (3, "scan"), (3, "nonexistenttoken"),
]
_BM25_QUERY_VALUES = "SELECT * FROM (VALUES " + ", ".join(
    f"({qid}, '{t}')" for qid, t in _BM25_QUERIES
) + ")"


def _bm25_oracle() -> str:
    from .operators.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(
        "SELECT doc_id, text FROM documents", _BM25_QUERY_VALUES, topk=10
    )


@register("bm25_topk_documents", oracle=_bm25_oracle())
def bm25_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval (operators/retrieval.py): top-10
    documents per query for a 3-query set, Lucene always-positive IDF.
    The corpus-sized shuffle carries only query-term postings (broadcast
    semi-join before the count agg); IDF and per-term contributions are
    quantized to integer micro-nats so the BIGINT score sum is
    shuffle-order-proof; top-k runs as a per-query WindowGroupLimit.
    No retrieval surface exists in the reference (its model stops at
    interval stats, reference preprocess.py:195-230) — this is the
    RAG/decontamination-triage extension."""
    from .operators.retrieval import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qt = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    out = bm25_topk(docs, qt, topk=10)
    return out.select(
        "query_id", "doc_id", "score_micro", "rank"
    ).orderBy("query_id", "rank")


@register(
    "tokenizer_fertility_documents",
    oracle=r"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
             AS BIGINT) AS bpe_tokens,
           CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
             AS ws_tokens,
           CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
           round(CAST(sum(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
             AS BIGINT)
             / CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT), 6)
             AS fertility,
           round(CAST(sum(strlen(text)) AS BIGINT)
             / CAST(sum(len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')))
             AS BIGINT), 6) AS bytes_per_token,
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def tokenizer_fertility_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: BPE-ish tokens per
    whitespace word and bytes per token — the standard multilingual
    tokenizer-efficiency diagnostic (a high-fertility language pays more
    context budget per word). Map-only JVM regexp_count in scan codegen
    + one lang-sized agg; the two ratios each divide exact BIGINT sums
    (single correctly-rounded double division — bit-identical across
    engines)."""
    from .functions.textstats import TOKEN_CLASS, bpe_token_count

    df = _t(spark, sf_dir, "documents")
    bpe = F.sum(bpe_token_count(F.col("text")))
    ws = F.sum(F.regexp_count("text", F.lit(TOKEN_CLASS)))
    nb = F.sum(F.octet_length("text"))
    return (
        df.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            bpe.alias("bpe_tokens"),
            ws.alias("ws_tokens"),
            nb.alias("n_bytes"),
            F.round(bpe / ws, 6).alias("fertility"),
            F.round(nb / bpe, 6).alias("bytes_per_token"),
        )
        .orderBy("lang")
    )


def _unigram_kl_oracle() -> str:
    from .operators.distdrift import unigram_kl_oracle_sql

    return unigram_kl_oracle_sql("documents", "source", "text", 2000)


@register("unigram_kl_documents", oracle=_unigram_kl_oracle())
def unigram_kl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence vs the corpus distribution over
    the top-2000 vocabulary (operators/distdrift.unigram_kl) — the
    content-level drift monitor: numeric drift is covered by PSI/KS,
    this answers "whose token mix is off?" for mixing/contamination
    triage. Bounded vocab via TakeOrderedAndProject, broadcast back;
    per-term contributions quantized to nano-nats before the BIGINT
    sum."""
    from .operators.distdrift import unigram_kl

    docs = _t(spark, sf_dir, "documents")
    return unigram_kl(docs, "source", "text", 2000).orderBy("slice")


_EDITDIST_ORACLE = """
    WITH base AS (SELECT doc_id, text FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, md5(substr(text, i, 8)) AS h
      FROM base, UNNEST(range(1, greatest(length(text)-7, 1)+1)) AS t(i)
    ), sigs AS (
      SELECT doc_id, (list_sort(list(h)))[1:8] AS fp FROM grams GROUP BY doc_id
    ), entries AS (SELECT doc_id, unnest(fp) AS h FROM sigs
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM entries a JOIN entries b USING (h)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2 HAVING count(*) >= 4
    )
    SELECT c.id_a, c.id_b, c.n_shared,
           CAST(levenshtein(da.text, db.text) AS INT) AS dist,
           CAST(greatest(length(da.text), length(db.text)) AS INT) AS maxlen
    FROM cand c
    JOIN base da ON da.doc_id = c.id_a
    JOIN base db ON db.doc_id = c.id_b
    WHERE levenshtein(da.text, db.text) <= 200
      AND 10 * levenshtein(da.text, db.text)
          <= 3 * greatest(length(da.text), length(db.text))
    ORDER BY 1, 2
    """


@register("editdist_near_dup_documents", oracle=_EDITDIST_ORACLE)
def editdist_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified fuzzy dedup: min-k md5 fingerprint
    candidates (operators/dedup.fingerprint_overlap_pairs — entry
    equijoin on uniform sketch hashes, never all-pairs) verified with
    Levenshtein. The effective gate is dist ≤ min(0.3·maxlen, 200):
    relative distance ≤ 0.3, capped at an absolute 200 edits, so pairs
    of long documents (maxlen > 666) need more than 30% similarity to
    pass. The verify runs ONLY on the bounded candidate set, with
    Spark's early-exit threshold form (levenshtein(a, b, 200) returns
    -1 past 200, capping the DP at O(len·200)); the oracle applies the
    same cap as ``levenshtein(...) <= 200``. The integer filter
    10·dist ≤ 3·maxlen avoids any float threshold boundary. Both
    distances are classic unit-cost codepoint DP — value-identical
    across engines."""
    from .operators.dedup import fingerprint_overlap_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    cand = fingerprint_overlap_pairs(docs, min_shared=4)
    a = docs.select(
        F.col("doc_id").alias("id_a"), F.col("text").alias("text_a")
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"), F.col("text").alias("text_b")
    )
    dist = F.levenshtein("text_a", "text_b", 200)
    maxlen = F.greatest(F.length("text_a"), F.length("text_b"))
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("dist", dist)
        .withColumn("maxlen", maxlen)
        .filter((F.col("dist") >= 0) & (10 * F.col("dist") <= 3 * F.col("maxlen")))
        .select("id_a", "id_b", "n_shared", "dist", "maxlen")
        .orderBy("id_a", "id_b")
    )
    return _carry_cached(out, cand)


def _rrf_oracle() -> str:
    from .operators.retrieval import rrf_oracle_sql

    return rrf_oracle_sql(
        "SELECT doc_id, text FROM documents",
        _BM25_QUERY_VALUES,
        per_ranker_topk=20,
        topk=10,
    )


@register("rrf_hybrid_topk_documents", oracle=_rrf_oracle())
def rrf_hybrid_topk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal rank fusion (Cormack et al. 2009) of
    two rankers with deliberately different biases — BM25 (tf·idf,
    length-normalized) and query-term coverage (set containment, short
    docs first) — each truncated to top-20 per query, fused by
    nano-quantized 1/(60+rank) contributions summed as exact BIGINTs.
    The fusion stage aggregates only the bounded top-k frames; the
    corpus is scanned by the two rankers' shared shapes (broadcast
    postings filter, partial WindowGroupLimit)."""
    from .operators.retrieval import bm25_topk, coverage_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qt = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    bm25 = bm25_topk(docs, qt, topk=20)
    cov = coverage_topk(docs, qt, topk=20)
    out = rrf_fuse([bm25, cov], topk=10)
    return out.select(
        "query_id", "doc_id", "rrf_nano", "n_rankers", "rank"
    ).orderBy("query_id", "rank")


def _parrot_oracle(path: str) -> str:
    return f"""
    WITH base AS (
      SELECT conv_id, turn_idx, role, ts,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS toks
      FROM read_parquet('{path}')
    ), g AS (
      SELECT conv_id, turn_idx, role, ts,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct([substr(md5(array_to_string(toks[i:i+2], ' ')),
                                     1, 16)
                              FOR i IN range(1, len(toks) - 1)])
             ELSE [] END AS grams
      FROM base
    ), l AS (
      SELECT *, lag(role) OVER w AS prev_role, lag(grams) OVER w AS prev_grams
      FROM g WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    ), c AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CASE WHEN 10 * len(list_intersect(grams, prev_grams))
                       >= 2 * len(grams) THEN 1 ELSE 0 END AS parrot
      FROM l
      WHERE role = 'assistant' AND prev_role = 'user'
            AND len(grams) > 0 AND len(prev_grams) > 0
    )
    SELECT day, CAST(count(*) AS BIGINT) AS n_considered,
           CAST(sum(parrot) AS BIGINT) AS n_parrot,
           round(CAST(sum(parrot) AS BIGINT)
                 / CAST(count(*) AS BIGINT), 6) AS parrot_rate
    FROM c GROUP BY day ORDER BY day
    """


@register("parrot_rate_transcripts", oracle=None)  # bound below
def parrot_rate_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant-parroting audit: per-day share of assistant turns whose
    word-3-gram set is ≥20% contained in the immediately-preceding user
    turn — the "model echoes the user" SFT-quality signal (echo-heavy
    conversations teach copying, not answering). The conv_id window
    shuffles 16-hex-char gram digests, never text (the digest-only
    shuffle rule every conversation op here follows); containment is an
    exact integer compare (10·|A∩P| ≥ 2·|A| — no float threshold). The
    descending-sequence(1,0) trap on <3-token turns is gated exactly as
    in operators/nblangid.py."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    g = t.select(
        "conv_id",
        "turn_idx",
        "role",
        "ts",
        F.expr(
            "CASE WHEN size(filter(split(lower(text), '[^a-z0-9]+'),"
            " x -> x <> '')) >= 3 THEN"
            " array_distinct(transform("
            "   sequence(1, size(filter(split(lower(text), '[^a-z0-9]+'),"
            "                    x -> x <> '')) - 2),"
            "   i -> substr(md5(concat_ws(' ',"
            "     slice(filter(split(lower(text), '[^a-z0-9]+'),"
            "           x -> x <> ''), i, 3))), 1, 16)))"
            " ELSE CAST(array() AS array<string>) END"
        ).alias("grams"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    l = g.select(
        "*",
        F.lag("role").over(w).alias("prev_role"),
        F.lag("grams").over(w).alias("prev_grams"),
    )
    c = l.filter(
        (F.col("role") == "assistant")
        & (F.col("prev_role") == "user")
        & (F.size("grams") > 0)
        & (F.size("prev_grams") > 0)
    ).select(
        F.to_date("ts").cast("string").alias("day"),
        (
            10 * F.size(F.array_intersect("grams", "prev_grams"))
            >= 2 * F.size("grams")
        )
        .cast("long")
        .alias("parrot"),
    )
    return (
        c.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_considered"),
            F.sum("parrot").alias("n_parrot"),
            F.round(F.sum("parrot") / F.count(F.lit(1)), 6).alias(
                "parrot_rate"
            ),
        )
        .orderBy("day")
    )


ORACLES["parrot_rate_transcripts"] = _parrot_oracle(FIXTURE_TRANSCRIPTS)


@register(
    "corpus_datacard_documents",
    oracle=r"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
             AS total_ws_tokens,
           round(CAST(sum(length(text)) AS BIGINT)
                 / CAST(count(*) AS BIGINT), 6) AS mean_doc_chars,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           round((CAST(count(*) AS BIGINT)
                  - CAST(count(DISTINCT md5(text)) AS BIGINT))
                 / CAST(count(*) AS BIGINT), 6) AS exact_dup_rate
    FROM documents
    """,
)
def corpus_datacard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus datacard: the headline numbers a dataset card
    reports (doc/source/language counts, size, exact-duplicate rate).
    All algebraic aggregates in one pass; the only distinct is over
    16-byte md5 digests (never text) — the same digest-only rule the
    dedup operators follow. Ratios divide exact BIGINTs."""
    df = _t(spark, sf_dir, "documents")
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.regexp_count("text", F.lit(r"\S+"))).alias("total_ws_tokens"),
        F.round(F.sum(F.length("text")) / F.count(F.lit(1)), 6).alias(
            "mean_doc_chars"
        ),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        F.round(
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text")))
            / F.count(F.lit(1)),
            6,
        ).alias("exact_dup_rate"),
    )


@register(
    "feature_corr_documents",
    oracle=r"""
    WITH f AS (
      SELECT source, CAST(length(text) AS BIGINT) AS x,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS y
      FROM documents
    ), s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM f GROUP BY source
    )
    SELECT source, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS corr_chars_tokens
    FROM s ORDER BY source
    """,
)
def feature_corr_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Pearson correlation between document length (chars)
    and whitespace token count — the sanity audit run while developing
    quality features (a source where the two decorrelate has anomalous
    tokenization: code, CJK, binary junk). The five moment sums are
    exact BIGINTs from ONE map-side-combined agg; the correlation
    formula is then a single double expression written identically in
    both engines (no avg/stddev built-ins — engine-internal streaming
    variance orders would diverge)."""
    df = _t(spark, sf_dir, "documents")
    x = F.length("text").cast("long")
    y = F.regexp_count("text", F.lit(r"\S+")).cast("long")
    s = df.select(
        "source", x.alias("x"), y.alias("y")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    return s.select(
        "source",
        "n",
        F.round(
            (nd * sxyd - sxd * syd)
            / (
                F.sqrt(nd * sxxd - sxd * sxd)
                * F.sqrt(nd * syyd - syd * syd)
            ),
            6,
        ).alias("corr_chars_tokens"),
    ).orderBy("source")


def _dup_growth_oracle(path: str) -> str:
    return f"""
    WITH t AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, md5(text) AS dg
      FROM read_parquet('{path}') WHERE text IS NOT NULL
    ), per AS (
      SELECT dg, day, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY dg, day
    ), firsts AS (
      SELECT dg, min(day) AS first_day FROM per GROUP BY dg
    )
    SELECT day,
           CAST(sum(n) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN day > first_day THEN n ELSE 0 END) AS BIGINT)
             AS n_seen_before,
           round(CAST(sum(CASE WHEN day > first_day THEN n ELSE 0 END)
                      AS BIGINT)
                 / CAST(sum(n) AS BIGINT), 6) AS repeat_rate
    FROM per JOIN firsts USING (dg)
    GROUP BY day ORDER BY day
    """


@register("dup_growth_transcripts", oracle=None)  # bound below
def dup_growth_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-growth monitor: per day, the share of turns whose exact
    text already appeared on an EARLIER day (same md5 digest) — rising
    repeat-rate means templated/bot traffic is accreting and dedup
    pressure is growing. The corpus compacts to (digest, day) counts in
    one map-side-combined shuffle; first-seen day is a digest-keyed agg
    over that compacted frame, co-partitioned with the join that follows
    (one Exchange reused); only 16-byte digests ever shuffle."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = (
        spark.read.parquet(FIXTURE_TRANSCRIPTS)
        .filter("text IS NOT NULL")
        .select(
            F.to_date("ts").cast("string").alias("day"),
            F.md5("text").alias("dg"),
        )
    )
    per = t.groupBy("dg", "day").agg(F.count(F.lit(1)).alias("n"))
    firsts = per.groupBy("dg").agg(F.min("day").alias("first_day"))
    seen = F.when(F.col("day") > F.col("first_day"), F.col("n")).otherwise(
        F.lit(0)
    )
    return (
        per.join(firsts, "dg")
        .groupBy("day")
        .agg(
            F.sum("n").alias("n_turns"),
            F.sum(seen).alias("n_seen_before"),
            F.round(F.sum(seen) / F.sum("n"), 6).alias("repeat_rate"),
        )
        .orderBy("day")
    )


ORACLES["dup_growth_transcripts"] = _dup_growth_oracle(FIXTURE_TRANSCRIPTS)


def _pq_recall_oracle() -> str:
    pq_sql = _pq_adc_oracle("embeddings", query_vec_id=7, k=10, m=8, ksub=8)
    return f"""
    WITH approx AS (
      SELECT vec_id FROM ({pq_sql}) pq
    ), exact AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                 (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
                  WHERE vec_id = 7)), 6) AS c
        FROM embeddings
        ORDER BY c DESC, vec_id LIMIT 10
      )
    )
    SELECT CAST(10 AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_overlap,
           round(CAST(count(*) AS BIGINT) / 10, 6) AS recall_at_k
    FROM exact JOIN approx USING (vec_id)
    """


@register("pq_recall_embeddings", oracle=_pq_recall_oracle())
def pq_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of the PQ asymmetric-distance
    search against the exact cosine ranking for the same corpus query
    vector (vec_id=7) — the measurement that decides whether a
    quantized index is good enough to replace the exact path. Both
    rankings are bounded top-k frames (TakeOrderedAndProject each); the
    exact side ranks on the 6dp-rounded cosine with vec_id tiebreak,
    the same engine-noise pin the PQ query uses. One row out."""
    from .operators.pq import pq_adc_topk, pq_encode, pq_train
    from .operators.similarity import cosine_col

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_train(emb, m=8, ksub=8, iters=1)
    codes = pq_encode(emb, cb)
    q = (
        emb.filter(F.col("vec_id") == 7)
        .select(F.col("embedding").cast("array<double>").alias("q"))
        .first()["q"]
    )
    approx = pq_adc_topk(codes, cb, list(q), k=10).select("vec_id")
    qlit = F.array(*[F.lit(float(x)) for x in q])
    exact = (
        emb.select(
            "vec_id",
            F.round(
                cosine_col(F.col("embedding").cast("array<double>"), qlit), 6
            ).alias("c"),
        )
        .orderBy(F.desc("c"), F.col("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    return exact.join(approx, "vec_id").agg(
        F.lit(10).alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(F.count(F.lit(1)) / 10, 6).alias("recall_at_k"),
    )


def _conv_depth_oracle(path: str) -> str:
    return f"""
    WITH per AS (
      SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns
      FROM read_parquet('{path}') GROUP BY conv_id
    )
    SELECT n_turns, CAST(count(*) AS BIGINT) AS n_convs
    FROM per GROUP BY n_turns ORDER BY n_turns
    """


@register("conv_depth_histogram_transcripts", oracle=None)  # bound below
def conv_depth_histogram_transcripts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conversation-depth distribution: how many conversations have
    exactly N turns — the mixing/curriculum planner's first question
    (a depth-2 corpus trains a different model than a depth-40 one).
    Two cascaded map-side-combined aggs; the second runs over the
    conversation-level frame, so the corpus shuffles once on conv_id
    carrying a count only."""
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    per = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    return (
        per.groupBy("n_turns")
        .agg(F.count(F.lit(1)).alias("n_convs"))
        .orderBy("n_turns")
    )


ORACLES["conv_depth_histogram_transcripts"] = _conv_depth_oracle(
    FIXTURE_TRANSCRIPTS
)


@register(
    "dup_cluster_sizes_documents",
    oracle=f"""
    WITH RECURSIVE {_simhash_cte(_SIMHASH_BASE_SQL)},
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src),
    all_docs AS (SELECT doc_id FROM base),
    labeled AS (
      SELECT a.doc_id, CAST(coalesce(c.component, a.doc_id) AS BIGINT)
               AS component
      FROM all_docs a LEFT JOIN comp c USING (doc_id)
    ),
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM labeled GROUP BY component
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def dup_cluster_sizes_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: after resolving simhash pairs
    into connected components, how many clusters of each size exist and
    how many documents they hold — the dedup-pressure summary a corpus
    report leads with (a fat tail of large clusters means template
    spam). Composes the pointer-jumping components operator; both
    histogram aggs run over component-level frames (corpus-compacting
    first shuffle carries 8-byte ids)."""
    from .operators.components import resolve_duplicates
    from .operators.dedup import simhash_md5_pairs

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 500")
    )
    mutated = (
        docs.filter(F.col("doc_id") < 50)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    all_docs = docs.unionAll(mutated)
    pairs = simhash_md5_pairs(all_docs, max_hamming=3)
    resolved = resolve_duplicates(all_docs, pairs)
    sizes = resolved.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "keep_rate_by_lang_transcripts",
    oracle=keep_flags_oracle_sql(FIXTURE_TRANSCRIPTS, by_lang=True),
)
def keep_rate_by_lang_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-rate per PREDICTED language over the flagship pipeline's
    labels — the fairness/mix view of the quality filter (a language
    whose keep rate craters signals a rule biased against it, the
    first thing a multilingual-corpus owner audits). Reuses the full
    pipeline frame (single wide conv_id shuffle, text projected out);
    the aggregation adds one lang-sized map-side-combined pass. The
    DuckDB oracle re-derives every rule INCLUDING the in-SQL-trained
    perplexity LM, grouped by the same langid spec labels."""
    from .pipeline.quality import run_quality_pipeline
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    df = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    res = run_quality_pipeline(df)
    return (
        res.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.round(
                F.sum(F.col("keep").cast("long")) / F.count(F.lit(1)), 6
            ).alias("keep_rate"),
        )
        .orderBy("lang")
    )


_SFT_MASK_STATS_ORACLE = rf"""
    WITH t AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, role,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_text_tokens
      FROM read_parquet('{FIXTURE_TRANSCRIPTS}')
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(n_text_tokens + 2) AS BIGINT) AS train_tokens,
           CAST(sum(CASE WHEN role = 'assistant' THEN n_text_tokens
                         ELSE 0 END) AS BIGINT) AS loss_tokens,
           round(CAST(sum(CASE WHEN role = 'assistant' THEN n_text_tokens
                          ELSE 0 END) AS BIGINT)
                 / CAST(sum(n_text_tokens + 2) AS BIGINT), 6) AS loss_share
    FROM t GROUP BY day ORDER BY day
    """


@register("sft_mask_stats_transcripts", oracle=_SFT_MASK_STATS_ORACLE)
def sft_mask_stats_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss-mask budget per day: rendered training tokens (text + the
    2-token turn template overhead, the sft_loss_spans spec) vs tokens
    actually in the loss (assistant text) — the share of compute that
    teaches anything. A falling loss share means the corpus is drifting
    toward long prompts with short answers. Map-only token counts in
    scan codegen + one day-sized agg; no window needed (span offsets
    don't matter for sums, so this costs a fraction of the spans
    query)."""
    from .operators.sft import _ws_tokens
    from .testdata import write_transcripts_parquet

    write_transcripts_parquet(FIXTURE_TRANSCRIPTS, n_convs=400, seed=42)
    t = spark.read.parquet(FIXTURE_TRANSCRIPTS)
    ntok = _ws_tokens(F.col("text")).cast("long")
    loss = F.when(F.col("role") == "assistant", ntok).otherwise(F.lit(0))
    return (
        t.select(
            F.to_date("ts").cast("string").alias("day"),
            ntok.alias("ntok"),
            loss.alias("loss"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("ntok") + 2).alias("train_tokens"),
            F.sum("loss").alias("loss_tokens"),
            F.round(F.sum("loss") / F.sum(F.col("ntok") + 2), 6).alias(
                "loss_share"
            ),
        )
        .orderBy("day")
    )
