"""Shuffle-key skew audit: exact Gini / top-share / CV of per-key counts.

Before shuffling 10^12 turns on ``conv_id`` (the graft pipeline's one
wide Exchange, pipeline/quality.py) an operator needs to know whether
the key distribution is skewed enough to need salting — BASELINE.json's
north rule calls out "salted repartitioning to break hot-conversation
skew" explicitly.  This audit quantifies that skew from the data itself:

* ``gini``          — Gini coefficient of the per-key count distribution
* ``top1_share``    — share of all rows held by the single hottest key
* ``top1pct_share`` — share held by the hottest ceil(1%) of keys
* ``cv``            — coefficient of variation of the counts

Spark-first shape (holds at 10^12 rows / 10^9 keys):

1. ``groupBy(key).count()`` — the ONE key-cardinality shuffle, map-side
   combined.
2. ``groupBy(count)`` — histogram of counts.  Distinct count values are
   bounded by ``sqrt(2·n_rows)`` (k distinct positive counts sum to at
   least k(k+1)/2), so even at 10^12 rows the histogram is ≤ ~1.4M rows.
3. All rank-weighted sums run over the *histogram*: keys sharing a count
   are fungible in every statistic here, so the classic sorted-index
   Gini ``(2·Σ i·x_i − (n+1)·Σx) / (n·Σx)`` collapses to one unpartitioned
   window over the tiny frame — a run of ``m`` keys with count
   ``c`` starting at rank ``r0`` contributes ``c·(m·r0 + m(m−1)/2)``
   exactly, in BIGINT.  (The window is unpartitioned — one task on
   purpose over the bounded histogram — so Spark logs its no-partition
   WindowExec warning.)

Every sum is exact integer arithmetic until the final divisions, so the
one-row result is shuffle-order-proof and the driver value-checks it
against a DuckDB twin with the identical expression tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["key_skew_audit", "skew_oracle_sql"]


def key_skew_audit(df: DataFrame, key_col: str) -> DataFrame:
    """One-row skew audit of the ``key_col`` count distribution."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("__c"))
    hist = counts.groupBy("__c").agg(F.count(F.lit(1)).alias("__m"))

    w_asc = Window.orderBy("__c")
    w_desc = Window.orderBy(F.col("__c").desc())
    before = Window.unboundedPreceding, -1
    ranked = (
        hist.withColumn(
            "__before_asc",
            F.coalesce(F.sum("__m").over(w_asc.rowsBetween(*before)), F.lit(0)),
        )
        .withColumn(
            "__before_desc",
            F.coalesce(
                F.sum("__m").over(w_desc.rowsBetween(*before)), F.lit(0)
            ),
        )
        .withColumn(
            "__n_keys", F.sum("__m").over(Window.partitionBy())
        )
    )

    m, c = F.col("__m"), F.col("__c")
    # Σ i·x_i for the m keys with count c occupying ranks r0..r0+m-1
    # (ascending by count): c·(m·r0 + m(m−1)/2) — `div` keeps the whole
    # term in BIGINT (the `/` operator would detour through double and
    # lose exactness past 2^53).
    rank_sum = F.expr(
        "__c * (__m * (__before_asc + 1) + (__m * (__m - 1)) div 2)"
    )
    # hottest ceil(1%) of keys: take whole runs from the descending side,
    # a partial run at the boundary (fungible — equal counts).
    k_top = F.ceil(F.col("__n_keys") / F.lit(100.0))
    kept = F.least(m, F.greatest(k_top - F.col("__before_desc"), F.lit(0)))

    agg = ranked.select(
        m,
        c,
        rank_sum.cast("bigint").alias("__ranksum"),
        (kept * c).cast("bigint").alias("__topsum"),
    ).agg(
        F.sum("__m").cast("bigint").alias("n_keys"),
        F.sum(m * c).cast("bigint").alias("n_rows"),
        F.max("__c").cast("bigint").alias("max_count"),
        F.sum("__ranksum").alias("__S"),
        F.sum("__topsum").alias("__T1P"),
        F.sum(m * c * c).cast("double").alias("__sumsq"),
    )

    n = F.col("n_keys").cast("double")
    t = F.col("n_rows").cast("double")
    gini = (2.0 * F.col("__S") - (n + 1.0) * t) / (n * t)
    var = (F.col("__sumsq") - t * t / n) / (n - 1.0)
    cv = F.when(
        F.col("n_keys") > 1,
        F.sqrt(F.greatest(var, F.lit(0.0))) / (t / n),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "n_keys",
        "n_rows",
        "max_count",
        F.round(t / n, 6).alias("mean_count"),
        F.round(cv, 6).alias("cv"),
        F.round(gini, 6).alias("gini"),
        F.round(F.col("max_count") / t, 6).alias("top1_share"),
        F.round(F.col("__T1P") / t, 6).alias("top1pct_share"),
    )


def skew_oracle_sql(table_expr: str, key: str) -> str:
    """DuckDB twin of :func:`key_skew_audit` (identical expression tree).

    ``table_expr`` is a FROM-able expression (table name or
    ``read_parquet('...')``).
    """
    return f"""
    WITH counts AS (
      SELECT {key} AS k, count(*) AS c FROM {table_expr} GROUP BY 1
    ),
    hist AS (SELECT c, count(*) AS m FROM counts GROUP BY c),
    ranked AS (
      SELECT c, m,
             coalesce(sum(m) OVER (ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before_asc,
             coalesce(sum(m) OVER (ORDER BY c DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before_desc,
             sum(m) OVER () AS n_keys
      FROM hist
    ),
    terms AS (
      SELECT c, m,
             CAST(c * (m * (before_asc + 1) + (m * (m - 1)) // 2) AS BIGINT)
               AS ranksum,
             CAST(least(m, greatest(CAST(ceil(n_keys / 100.0) AS BIGINT)
                                    - before_desc, 0)) * c AS BIGINT)
               AS topsum
      FROM ranked
    ),
    agg AS (
      SELECT CAST(sum(m) AS BIGINT) AS n_keys,
             CAST(sum(m * c) AS BIGINT) AS n_rows,
             CAST(max(c) AS BIGINT) AS max_count,
             sum(ranksum) AS s, sum(topsum) AS t1p,
             CAST(sum(m * c * c) AS DOUBLE) AS sumsq
      FROM terms
    )
    SELECT n_keys, n_rows, max_count,
           round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
             AS mean_count,
           round(CASE WHEN n_keys > 1 THEN
                   sqrt(greatest((sumsq - CAST(n_rows AS DOUBLE)
                                  * CAST(n_rows AS DOUBLE)
                                  / CAST(n_keys AS DOUBLE))
                                 / (CAST(n_keys AS DOUBLE) - 1.0), 0.0))
                   / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))
                 ELSE 0.0 END, 6) AS cv,
           round((2.0 * s - (CAST(n_keys AS DOUBLE) + 1.0)
                  * CAST(n_rows AS DOUBLE))
                 / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6)
             AS gini,
           round(max_count / CAST(n_rows AS DOUBLE), 6) AS top1_share,
           round(t1p / CAST(n_rows AS DOUBLE), 6) AS top1pct_share
    FROM agg
    """
