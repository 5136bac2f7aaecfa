"""Deterministic, engine-portable sampling for training-data pipelines.

``df.sample()`` is seed-dependent per partition layout and not
reproducible across engines; quota/holdout decisions in a data pipeline
must be STABLE (the same row lands on the same side of the split on
every run, any cluster, any partitioning). The md5-bucket sampler here
keys the decision on a hash of the row's identity: bucket =
first-16-bits of md5(key) → keep iff bucket < rate·65536. Every
construct (md5/substr/instr, arithmetic) evaluates identically in Spark
SQL and DuckDB, so the sample set itself is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = 65536  # first 4 md5 nibbles


def _bucket_expr(key_col: str) -> str:
    """0..65535 from the first 4 hex chars of md5(key) — shared verbatim
    with the DuckDB oracle. NULL keys coalesce to a sentinel so they hash
    deterministically into one bucket instead of evaluating the filter to
    NULL and silently vanishing from every sample."""
    key = f"coalesce(cast({key_col} as string), '__null_key__')"
    nib = lambda j: (  # noqa: E731 — tiny local template
        f"(instr('0123456789abcdef', substr(md5({key}), {j}, 1)) - 1)"
    )
    return f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"


def deterministic_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id"
) -> DataFrame:
    """Stable ``rate``-fraction sample keyed on ``key_col``.

    Row-identity-hashed, so the decision is independent of partitioning,
    ordering, engine, and run count; samples are nested in the rate (the
    0.25 sample lies inside the 0.5 sample).
    Pure Catalyst — the filter runs inside the scan's codegen stage.
    """
    threshold = int(rate * _BUCKETS)
    return df.filter(F.expr(f"{_bucket_expr(key_col)} < {threshold}"))


def sample_oracle_predicate(rate: float, key_col: str = "doc_id") -> str:
    """DuckDB WHERE predicate matching :func:`deterministic_sample`."""
    threshold = int(rate * _BUCKETS)
    return f"{_bucket_expr(key_col)} < {threshold}"


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------

def _sql_quote(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def stratified_sample_predicate(
    fractions: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> str:
    """Shared Spark/DuckDB predicate for a per-stratum deterministic
    sample: each stratum keeps its own md5-bucket fraction. The stratum
    value is folded into the hash key, so a key appearing in several
    strata (or the same key re-sampled under a different stratification)
    draws independently."""
    key = f"concat(cast({strata_col} as string), ':', cast({key_col} as string))"
    thr = "CASE " + " ".join(
        f"WHEN cast({strata_col} as string) = {_sql_quote(s)} "
        f"THEN {int(r * _BUCKETS)}"
        for s, r in sorted(fractions.items())
    ) + f" ELSE {int(default_rate * _BUCKETS)} END"
    return f"{_bucket_expr(key)} < ({thr})"


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum stable sampling (e.g. up-weight curated sources,
    down-weight crawl) — the mixture-reweighting primitive of a training
    pipeline. Pure Catalyst: the per-stratum threshold is a CASE inside
    the scan's codegen stage, no shuffle, no per-stratum pass; unlisted
    strata default to ``default_rate``. Decisions are independent of
    partitioning/engine/run like :func:`deterministic_sample`."""
    return df.filter(
        F.expr(stratified_sample_predicate(fractions, strata_col, key_col,
                                           default_rate))
    )


def balanced_mix_sample(
    df: DataFrame,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    targets: dict[str, int] | None = None,
) -> DataFrame:
    """Data-mixing resample: thin each stratum toward a target count —
    by default the size of the RAREST stratum, i.e. a balanced mix.

    Unlike :func:`stratified_sample` the rates are not given, they are
    COMPUTED from the observed stratum counts, so the operator is the
    two-phase shape a mixture-rebalancing job has at corpus scale: a
    tiny per-stratum count aggregation (map-side combined), thresholds
    derived with exact integer arithmetic (``target * 65536 div cnt`` —
    no float rate, so engine-portable to the oracle), broadcast back,
    and the same md5-bucket keep decision as every sampler here running
    inside the scan's codegen. Expectation-level thinning: a stratum
    lands within binomial noise of the target, never above
    ``rate = 1`` (no upsampling — strata at or below target pass
    through whole).

    ``targets`` optionally pins absolute per-stratum counts (e.g. a
    mixture recipe); missing strata default to the min-count target.
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_cnt"))
    # global min via a broadcast 1-row cross-join: the frame is only
    # #strata rows, but an unpartitioned Window here makes every plan
    # that embeds this operator emit Spark's single-partition
    # WindowExec warning — the broadcast join computes the same value
    # warning-clean
    gmin = counts.agg(F.min("_cnt").alias("_min_cnt"))
    counts = counts.crossJoin(F.broadcast(gmin))
    if targets:
        tgt = "CASE " + " ".join(
            f"WHEN cast({strata_col} as string) = {_sql_quote(s)} "
            f"THEN CAST({int(t)} AS BIGINT)"
            for s, t in sorted(targets.items())
        ) + " ELSE _min_cnt END"
    else:
        tgt = "_min_cnt"
    thr = counts.select(
        strata_col,
        F.expr(f"({tgt} * {_BUCKETS}) div _cnt").alias("_thr"),
    )
    key = f"concat(cast({strata_col} as string), ':', cast({key_col} as string))"
    return (
        df.join(F.broadcast(thr), strata_col)
        .filter(F.expr(f"{_bucket_expr(key)} < _thr"))
        .drop("_thr")
    )


def balanced_mix_oracle_sql(
    table: str,
    select_cols: str,
    strata_col: str = "lang",
    key_col: str = "doc_id",
) -> str:
    """DuckDB query matching :func:`balanced_mix_sample` (default
    min-count target) — same integer threshold math and bucket hash."""
    key = f"concat(cast({strata_col} as string), ':', cast({key_col} as string))"
    return f"""
    WITH counts AS (
      SELECT {strata_col}, CAST(count(*) AS BIGINT) AS cnt
      FROM {table} GROUP BY {strata_col}
    ),
    tgt AS (SELECT min(cnt) AS target FROM counts),
    thr AS (
      SELECT {strata_col}, (tgt.target * {_BUCKETS}) // cnt AS threshold
      FROM counts, tgt
    )
    SELECT {select_cols}
    FROM {table} d JOIN thr USING ({strata_col})
    WHERE {_bucket_expr(key)} < thr.threshold
    """


def weighted_take_score_expr(weight_col: str, key_col: str = "doc_id") -> str:
    """Efraimidis–Spirakis priority, engine-portable.

    A-ES draws u ~ U(0,1) per row and keeps the top-n by u^(1/w) —
    equivalently the BOTTOM-n by -ln(u)/w (exponential race). u here is
    deterministic: (2·bucket+1)/131072 from the md5 bucket, so the same
    row gets the same priority on any engine/partitioning/run.

    The one cross-engine hazard is ``ln``: Java's Math.log and libm may
    disagree in the last ulp, which could flip an ORDER BY on two
    near-equal priorities. Rounding the score to 9 decimals (score
    magnitudes here are ≤ ~11/w) collapses ulp noise while keeping
    astronomically unlikely real ties, which the key tie-break then
    settles."""
    u = f"(CAST(2 * {_bucket_expr(key_col)} + 1 AS DOUBLE) / {2 * _BUCKETS})"
    return f"round(-ln({u}) / CAST({weight_col} AS DOUBLE), 9)"


def weighted_take(
    df: DataFrame,
    n: int,
    weight_col: str,
    key_col: str = "doc_id",
) -> DataFrame:
    """``n`` rows drawn WITHOUT replacement with probability ∝ ``weight_col``
    (Efraimidis–Spirakis A-ES), deterministic across engines and runs.

    The length-biased sample every curation loop needs (inspect/score
    documents proportional to their token mass). Plan shape: the
    priority is computed inside the scan's codegen and the global
    bottom-n is a TakeOrderedAndProject — per-partition heaps of n, one
    driver merge, never a full sort or single-reducer shuffle; rows
    with non-positive/NULL weight are excluded by definition."""
    score = weighted_take_score_expr(weight_col, key_col)
    return (
        df.filter(F.expr(f"{weight_col} > 0"))
        .withColumn("_score", F.expr(score))
        .orderBy(F.col("_score").asc(), F.col(key_col).asc())
        .limit(n)
        .drop("_score")
    )


def weighted_take_oracle_sql(
    table: str,
    n: int,
    weight_col: str,
    select_cols: str,
    key_col: str = "doc_id",
) -> str:
    """DuckDB query matching :func:`weighted_take` row-for-row."""
    score = weighted_take_score_expr(weight_col, key_col)
    return f"""
    SELECT {select_cols} FROM {table}
    WHERE {weight_col} > 0
    ORDER BY {score} ASC, {key_col} ASC
    LIMIT {n}
    """


def stratified_take(
    df: DataFrame,
    n_per_stratum: int,
    strata_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer when a stratum
    is smaller), chosen by md5-hash order — deterministic across runs,
    partitionings and engines (eval-set construction semantics).

    Plan: one shuffle keyed by the stratum for a rank window. A single
    hot stratum serializes into one task, so this is for SELECTING
    BOUNDED SETS (n ≲ 10^6); for proportional thinning at corpus scale
    use :func:`stratified_sample`, which never shuffles."""
    key = f"concat(cast({strata_col} as string), ':', cast({key_col} as string))"
    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.expr(f"md5({key})"), F.col(key_col))
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


# ---------------------------------------------------------------------------
# temperature-scaled mixture sampling
# ---------------------------------------------------------------------------

def _temp_rate_expr(alpha: float, min_cnt: str, cnt: str) -> str:
    """Shared Spark/DuckDB expression for the per-stratum keep threshold
    ``floor((min_cnt/cnt)^(1-alpha) * 65536)``.

    Exactness: for alpha in {0.0, 0.5, 0.75, 1.0} the exponent is a sum
    of negative powers of two, expressed as an exact sqrt chain — IEEE
    sqrt and division are correctly rounded, so Spark (Java) and DuckDB
    (libm) produce bit-identical doubles and the floor()ed integer
    threshold matches exactly. Other alphas fall back to pow(), which
    both engines round correctly to within 1 ulp; the threshold only
    differs if rate*65536 lands within that ulp of an integer —
    vanishingly unlikely, and flagged here for the oracle-minded."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1] (got {alpha})")
    ratio = f"(CAST({min_cnt} AS DOUBLE) / {cnt})"
    e = 1.0 - alpha
    exact = {1.0: ratio, 0.5: f"sqrt({ratio})", 0.25: f"sqrt(sqrt({ratio}))",
             0.75: f"(sqrt({ratio}) * sqrt(sqrt({ratio})))", 0.0: "1.0"}
    rate = exact.get(e, f"pow({ratio}, {e!r})")
    return f"CAST(floor({rate} * {_BUCKETS}) AS BIGINT)"


def temperature_mix_sample(
    df: DataFrame,
    alpha: float = 0.5,
    strata_col: str = "lang",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled mixture resampling (the multilingual-corpus
    ``p^alpha`` trick, mT5/XLM-R style): thin each stratum at rate
    ``(min_cnt / cnt)^(1-alpha)``, so ``alpha=1`` keeps the natural
    mixture, ``alpha=0`` flattens it to the rarest stratum's share
    (== :func:`balanced_mix_sample`'s default), and values between
    up-weight the tail smoothly. The rarest stratum always passes whole.

    Plan shape matches :func:`balanced_mix_sample`: one tiny map-side
    combined count aggregation, rates derived on #strata rows, broadcast
    back, md5-bucket keep decision inside the scan's codegen — no
    data-sized shuffle at any corpus size."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_cnt"))
    gmin = counts.agg(F.min("_cnt").alias("_min_cnt"))
    counts = counts.crossJoin(F.broadcast(gmin))
    thr = counts.select(
        strata_col,
        F.expr(_temp_rate_expr(alpha, "_min_cnt", "_cnt")).alias("_thr"),
    )
    key = f"concat(cast({strata_col} as string), ':', cast({key_col} as string))"
    return (
        df.join(F.broadcast(thr), strata_col)
        .filter(F.expr(f"{_bucket_expr(key)} < _thr"))
        .drop("_thr")
    )


def temperature_mix_oracle_sql(
    table: str,
    select_cols: str,
    alpha: float = 0.5,
    strata_col: str = "lang",
    key_col: str = "doc_id",
) -> str:
    """DuckDB query matching :func:`temperature_mix_sample` exactly
    (same sqrt-chain rate, same integer threshold, same bucket hash)."""
    key = f"concat(cast({strata_col} as string), ':', cast({key_col} as string))"
    thr = _temp_rate_expr(alpha, "tgt.min_cnt", "cnt")
    return f"""
    WITH counts AS (
      SELECT {strata_col}, CAST(count(*) AS BIGINT) AS cnt
      FROM {table} GROUP BY {strata_col}
    ),
    tgt AS (SELECT min(cnt) AS min_cnt FROM counts),
    thr AS (
      SELECT {strata_col}, {thr} AS threshold
      FROM counts, tgt
    )
    SELECT {select_cols}
    FROM {table} d JOIN thr USING ({strata_col})
    WHERE {_bucket_expr(key)} < thr.threshold
    """


def token_budget_select(
    df: DataFrame,
    group_col: str,
    priority_col: str,
    key_col: str,
    token_count_col,
    budget: int,
) -> DataFrame:
    """Greedy per-group token-budget selection: order each group by
    ``priority_col`` DESC (``key_col`` ASC tiebreak) and keep rows while
    the running token total stays within ``budget``.

    The data-mixing step of a training run: each domain/source gets an
    absolute token allowance and the highest-priority documents fill it
    first.  ONE window per group — a cumulative BIGINT sum over the
    (priority, key) order, so the keep frontier is exact and engine-
    portable (no float weights).  At 10^12 rows the shuffle keys on the
    group column; domains are numerous so the per-group windows
    parallelize, and a hot domain still only sorts its own rows
    (the audit in operators/skew decides when that needs salting).
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(priority_col).desc(), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("n_tokens", token_count_col.cast("bigint"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn("keep", F.col("cum_tokens") <= F.lit(int(budget)))
    )


def token_budget_oracle_sql(
    table: str,
    group: str,
    priority: str,
    key: str,
    token_expr: str,
    budget: int,
) -> str:
    """DuckDB twin of :func:`token_budget_select` (projected columns)."""
    return f"""
    WITH toks AS (
      SELECT {key}, {group}, CAST({token_expr} AS BIGINT) AS n_tokens,
             {priority} AS pri
      FROM {table}
    )
    SELECT {key}, {group}, n_tokens,
           sum(n_tokens) OVER (PARTITION BY {group}
                               ORDER BY pri DESC, {key}
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens,
           sum(n_tokens) OVER (PARTITION BY {group}
                               ORDER BY pri DESC, {key}
                               ROWS UNBOUNDED PRECEDING) <= {int(budget)}
             AS keep
    FROM toks ORDER BY {key}
    """


def quality_tiers(
    df: DataFrame,
    group_col: str,
    score_col: str,
    key_col: str,
    n_tiers: int = 4,
) -> DataFrame:
    """Per-group quality tiering for curriculum / mixing schedules:
    rank rows by ``score_col`` DESC within each group and assign tier
    ``((rank-1) · n_tiers) div n`` — tier 0 is the best quantile, sizes
    balanced to within one row.

    Pure integer arithmetic on ``row_number`` ranks (deterministic
    ``key_col`` tiebreak), so tier boundaries are exact and engine-
    portable — no ``ntile`` implementation seam.  One window per group;
    groups are numerous at scale so the shuffle parallelizes.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(key_col)
    )
    wp = Window.partitionBy(group_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wp))
        .withColumn(
            "tier",
            F.expr(f"((__rn - 1) * {int(n_tiers)}) div __n").cast("int"),
        )
        .drop("__rn", "__n")
    )


def quality_tiers_oracle_sql(
    table: str,
    group: str,
    score: str,
    key: str,
    n_tiers: int = 4,
) -> str:
    """DuckDB twin of :func:`quality_tiers` (projected key/group/tier)."""
    return f"""
    WITH ranked AS (
      SELECT {key}, {group}, {score} AS score,
             row_number() OVER (PARTITION BY {group}
                                ORDER BY {score} DESC, {key}) AS rn,
             count(*) OVER (PARTITION BY {group}) AS n
      FROM {table}
    )
    SELECT {key}, {group}, score,
           CAST(((rn - 1) * {int(n_tiers)}) // n AS INTEGER) AS tier
    FROM ranked ORDER BY {key}
    """


def unimax_mixture(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    budget: int,
    max_epochs: int = 2,
) -> DataFrame:
    """UniMax mixture allocation (Chung et al., "UniMax: Fairer and More
    Effective Language Sampling for Large-Scale Multilingual
    Pretraining", ICLR 2023): distribute a total token ``budget`` over
    groups as uniformly as possible while capping every group at
    ``max_epochs`` passes over its data.

    The paper's greedy loop (ascending corpus size: give each group the
    uniform share of the remaining budget, capped at ``max_epochs*n``)
    has a closed form — caps are monotone ascending and the uniform
    share is invariant once a group is share-limited, so the allocation
    is a CAP-LIMITED PREFIX followed by an EQUAL-SHARE SUFFIX.  That
    makes it pure window arithmetic, identical in Spark and DuckDB:

    - per-group token counts ``n`` (one groupBy, map-side combined),
    - sort ascending (n, group), ``i = row_number``, ``L = count``,
    - ``cap = max_epochs*n`` (exact BIGINT, so the running sum is
      exact),
    - ``share_i = (budget - cumcap_{<i}) / (L - i + 1)`` (double),
    - the first ``i`` with ``cap >= share`` starts the suffix; rows
      before it allocate ``cap`` (= max_epochs epochs), rows from it on
      allocate the suffix share computed AT that pivot row.

    Emits (group, n_tokens, alloc_tokens, epochs, weight), 6dp.  The
    windows run unpartitioned, in one task on purpose, over the
    #groups-sized counts frame — metadata, not data (Spark still logs
    its no-partition WindowExec warning for them)."""
    counts = df.groupBy(F.col(group_col).alias("g")).agg(
        F.sum(F.col(tokens_col)).cast("bigint").alias("n")
    )
    w = Window.orderBy("n", "g")
    wall = Window.partitionBy()
    ranked = (
        counts.withColumn("i", F.row_number().over(w))
        .withColumn("L", F.count(F.lit(1)).over(wall))
        .withColumn(
            "cap", (F.col("n") * F.lit(int(max_epochs))).cast("bigint")
        )
        .withColumn(
            "cumcap_prev",
            F.coalesce(
                F.sum("cap").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("bigint"),
            ),
        )
        .withColumn(
            "share",
            (F.lit(float(budget)) - F.col("cumcap_prev").cast("double"))
            / (F.col("L") - F.col("i") + 1).cast("double"),
        )
        .withColumn("limited", F.col("cap").cast("double") < F.col("share"))
        .withColumn(
            "t",
            F.coalesce(
                F.min(F.when(~F.col("limited"), F.col("i"))).over(wall),
                F.max("i").over(wall) + 1,
            ),
        )
        .withColumn(
            "suffix_share",
            F.coalesce(
                F.max(
                    F.when(F.col("i") == F.col("t"), F.col("share"))
                ).over(wall),
                F.lit(0.0),
            ),
        )
    )
    alloc = F.when(
        F.col("i") < F.col("t"), F.col("cap").cast("double")
    ).otherwise(F.col("suffix_share"))
    return ranked.select(
        F.col("g").alias(group_col),
        F.col("n").alias("n_tokens"),
        F.round(alloc, 6).alias("alloc_tokens"),
        F.round(alloc / F.col("n").cast("double"), 6).alias("epochs"),
        F.round(alloc / F.lit(float(budget)), 6).alias("weight"),
    ).orderBy(group_col)


def unimax_oracle_sql(
    table: str,
    group: str,
    tokens: str,
    budget: int,
    max_epochs: int = 2,
) -> str:
    """DuckDB twin of :func:`unimax_mixture` — same window arithmetic,
    same doubles, same rounding."""
    return f"""
    WITH counts AS (
      SELECT {group} AS g, CAST(sum({tokens}) AS BIGINT) AS n
      FROM {table} GROUP BY 1
    ),
    ranked AS (
      SELECT g, n,
             row_number() OVER (ORDER BY n, g) AS i,
             count(*) OVER () AS L,
             CAST(n * {int(max_epochs)} AS BIGINT) AS cap,
             coalesce(sum(CAST(n * {int(max_epochs)} AS BIGINT))
                      OVER (ORDER BY n, g
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS cumcap_prev
      FROM counts
    ),
    shared AS (
      SELECT *,
             (CAST({float(budget)} AS DOUBLE) - CAST(cumcap_prev AS DOUBLE))
               / CAST(L - i + 1 AS DOUBLE) AS share
      FROM ranked
    ),
    pivot_ AS (
      SELECT coalesce(min(i) FILTER (NOT (CAST(cap AS DOUBLE) < share)),
                      max(i) + 1) AS t
      FROM shared
    ),
    suffix AS (
      SELECT coalesce(max(s.share), 0.0) AS suffix_share
      FROM shared s JOIN pivot_ p ON s.i = p.t
    )
    SELECT g AS {group}, n AS n_tokens,
           round(CASE WHEN i < t THEN CAST(cap AS DOUBLE)
                 ELSE suffix_share END, 6) AS alloc_tokens,
           round(CASE WHEN i < t THEN CAST(cap AS DOUBLE)
                 ELSE suffix_share END / CAST(n AS DOUBLE), 6) AS epochs,
           round(CASE WHEN i < t THEN CAST(cap AS DOUBLE)
                 ELSE suffix_share END / CAST({float(budget)} AS DOUBLE), 6)
             AS weight
    FROM shared, pivot_, suffix
    ORDER BY {group}
    """
