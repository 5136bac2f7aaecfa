"""Model-based quality classifier: logistic regression scored AND
trained inside the engine.

Heuristic keep/drop rules (pipeline/rules.py) are interpretable but
brittle; production quality filtering (fastText-classifier style —
CCNet, RedPajama, FineWeb all do this) distils them into a trained
scorer.  This module provides both halves Spark-first:

* **scoring** — ``sigmoid(w · x)`` over JVM feature expressions
  (clipped length, centered token count, symbol ratio), map-only inside
  whole-stage codegen.  At 10^12 turns this is a pure projection pass.
* **training** — full-batch gradient descent, one job per iteration:
  the gradient is ``avg((sigmoid(w·x) - y) * x_j)`` per weight — a
  single partial→final aggregation over the corpus — followed by a
  bounded O(d) driver collect that feeds the next broadcast of
  literals.  The same iterative-broadcast shape as operators/kmeans.py,
  zero Python in the hot path.

Labels come from a mini heuristic rule (token count >= 50), i.e. the
trainer distils a rule into a smooth scorer — the realistic pipeline
coupling.  Weight updates round to 6 decimals inside the engine per
iteration (Spark and DuckDB both round half-away-from-zero), pinning
the trajectory so a CTE-unrolled DuckDB oracle value-checks the whole
training run.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "feature_label_cols",
    "lr_score",
    "lr_train",
    "lr_train_stats",
    "lr_train_oracle_sql",
    "lr_score_oracle_sql",
    "auc_stats",
    "auc_oracle_sql",
    "calibration_curve",
    "calibration_oracle_sql",
]

N_FEATURES = 3  # plus implicit bias term

# DuckDB-side feature/label expressions (the Spark twins are built in
# feature_label_cols; split/regexp constructs differ by engine but are
# the repo's established parity pairs)
_SQL_X1 = "(least(length(text), 2000) / 1000.0 - 0.3)"
_SQL_TOK = r"len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))"
_SQL_X2 = f"({_SQL_TOK} / 100.0 - 0.5)"
_SQL_X3 = (
    "((length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')))"
    " / (length(text) + 1.0))"
)
_SQL_Y = f"(CASE WHEN {_SQL_TOK} >= 50 THEN 1.0 ELSE 0.0 END)"


def feature_label_cols(text_col: str = "text") -> tuple[list[Column], Column]:
    """Spark feature columns [x1, x2, x3] and the label column y."""
    t = F.col(text_col)
    n_tok = F.size(F.filter(F.split(t, r"\s+"), lambda x: x != F.lit("")))
    x1 = F.least(F.length(t), F.lit(2000)) / 1000.0 - 0.3
    x2 = n_tok / 100.0 - 0.5
    x3 = (F.length(t) - F.length(F.regexp_replace(t, "[^a-z0-9 ]", ""))) / (
        F.length(t) + 1.0
    )
    y = F.when(n_tok >= 50, 1.0).otherwise(0.0)
    return [x1, x2, x3], y


def _sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _z(weights: list[float], terms: list[Column]) -> Column:
    return reduce(
        lambda a, b: a + b,
        (F.lit(float(w)) * x for w, x in zip(weights, terms)),
    )


def lr_train(
    df: DataFrame,
    lr: float = 8.0,
    iters: int = 4,
    text_col: str = "text",
) -> list[float]:
    """Full-batch GD from zero weights; returns [w0(bias), w1..w3],
    each engine-rounded to 6 decimals per iteration."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    feats, y = feature_label_cols(text_col)
    terms = [F.lit(1.0)] + feats
    w = [0.0] * (N_FEATURES + 1)
    for _ in range(iters):
        err = _sigmoid(_z(w, terms)) - y
        row = df.agg(
            *[
                F.round(F.lit(w[j]) - lr * F.avg(err * terms[j]), 6).alias(f"w{j}")
                for j in range(len(terms))
            ]
        ).collect()[0]
        w = [row[f"w{j}"] for j in range(len(terms))]
    return w


def lr_train_stats(
    df: DataFrame,
    lr: float = 8.0,
    iters: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Train, then report one row: the final weights plus training
    accuracy at threshold 0.5 and the row count (the distributed
    evaluation pass)."""
    w = lr_train(df, lr=lr, iters=iters, text_col=text_col)
    feats, y = feature_label_cols(text_col)
    terms = [F.lit(1.0)] + feats
    correct = F.when(
        (_sigmoid(_z(w, terms)) >= 0.5) == (y == 1.0), 1.0
    ).otherwise(0.0)
    return df.agg(
        *[F.lit(w[j]).alias(f"w{j}") for j in range(len(w))],
        F.round(F.avg(correct), 6).alias("train_acc"),
        F.count("*").alias("n"),
    )


def lr_score(
    df: DataFrame,
    weights: list[float],
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Map-only scoring: appends ``score`` (rounded 6dp) and ``keep``."""
    if len(weights) != N_FEATURES + 1:
        raise ValueError(f"need {N_FEATURES + 1} weights (bias first)")
    feats, _ = feature_label_cols(text_col)
    score = _sigmoid(_z(weights, [F.lit(1.0)] + feats))
    return df.withColumn("keep", score >= threshold).withColumn(
        "score", F.round(score, 6)
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _sql_sig(w0: str = "w0", w1: str = "w1", w2: str = "w2", w3: str = "w3") -> str:
    return (
        f"(1.0/(1.0+exp(-({w0} + {w1}*{_SQL_X1} + {w2}*{_SQL_X2}"
        f" + {w3}*{_SQL_X3}))))"
    )


def lr_train_oracle_sql(table: str, lr: float = 8.0, iters: int = 4) -> str:
    """CTE-unrolled GD matching :func:`lr_train_stats`."""
    feats = (
        f"SELECT {_SQL_X1} AS x1, {_SQL_X2} AS x2, {_SQL_X3} AS x3,"
        f" {_SQL_Y} AS y FROM {table}"
    )
    sig = "(1.0/(1.0+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))))"
    grad = lambda xj: f"avg(({sig} - y) * {xj})"  # noqa: E731
    step = (
        f"SELECT round(any_value(w0) - {lr!r} * {grad('1.0')}, 6) AS w0, "
        f"round(any_value(w1) - {lr!r} * {grad('x1')}, 6) AS w1, "
        f"round(any_value(w2) - {lr!r} * {grad('x2')}, 6) AS w2, "
        f"round(any_value(w3) - {lr!r} * {grad('x3')}, 6) AS w3 FROM feats, {{prev}}"
    )
    its = ",\n".join(
        f"it{i + 1} AS ({step.format(prev='w_init' if i == 0 else f'it{i}')})"
        for i in range(iters)
    )
    return f"""
    WITH feats AS ({feats}),
    w_init AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
    {its}
    SELECT any_value(w0) AS w0, any_value(w1) AS w1, any_value(w2) AS w2,
           any_value(w3) AS w3,
           round(avg(CASE WHEN (({sig} >= 0.5) = (y = 1.0))
                     THEN 1.0 ELSE 0.0 END), 6) AS train_acc,
           CAST(count(*) AS BIGINT) AS n
    FROM feats, it{iters}
    """


def lr_score_oracle_sql(table: str, weights: list[float]) -> str:
    """Per-row scoring matching :func:`lr_score`."""
    w = [repr(float(x)) for x in weights]
    sig = _sql_sig(*w)
    return f"""
    SELECT doc_id, {sig} >= 0.5 AS keep, round({sig}, 6) AS score
    FROM {table}
    """


# ---------------------------------------------------------------------------
# classifier evaluation: ROC-AUC
# ---------------------------------------------------------------------------

def auc_stats(
    df: DataFrame,
    weights: list[float],
    text_col: str = "text",
    decimals: int = 4,
) -> DataFrame:
    """Distributed ROC-AUC of the scorer against the heuristic labels —
    the calibration gate a production quality-classifier rollout runs
    before swapping thresholds.

    Shape: scores bin to ``round(score, decimals)`` (domain [0,1] →
    at most ``10^decimals + 1`` bins **by construction**, independent of
    corpus size), one partial→final aggregation to per-bin pos/neg
    counts, then Mann-Whitney with tie correction over the bounded bin
    frame: ``AUC = sum_b pos_b * (2*cumneg_<b + neg_b) / (2*P*N)``.
    The running-negatives window orders the bin frame unpartitioned —
    single-task on purpose (the frame is domain-bounded, the same
    metadata-sized argument as the sampler's counts frame; Spark logs
    its no-partition WindowExec warning).  All numerators stay BIGINT-exact (order-independent,
    engine-portable); exactness holds while ``2*P*N < 2^63``, i.e. to
    ~2e9 rows per class — past that the final ratio should move to
    double, noted here so the seam is explicit."""
    if len(weights) != N_FEATURES + 1:
        raise ValueError(f"need {N_FEATURES + 1} weights (bias first)")
    feats, y = feature_label_cols(text_col)
    s = F.round(_sigmoid(_z(weights, [F.lit(1.0)] + feats)), decimals)
    binned = (
        df.select(s.alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(
            F.count_if(F.col("y") == 1.0).alias("pos"),
            F.count_if(F.col("y") == 0.0).alias("neg"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = binned.withColumn(
        "cumneg", F.coalesce(F.sum("neg").over(w), F.lit(0))
    )
    agg = cum.agg(
        F.sum(
            F.col("pos") * (2 * F.col("cumneg") + F.col("neg"))
        ).alias("u2"),
        F.sum("pos").alias("n_pos"),
        F.sum("neg").alias("n_neg"),
        F.count("*").alias("n_bins"),
    )
    return agg.select(
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("u2") / (2.0 * F.col("n_pos") * F.col("n_neg")), 6
            ),
        ).alias("auc"),
        "n_pos",
        "n_neg",
        "n_bins",
    )


def calibration_curve(
    df: DataFrame,
    weights: list[float],
    text_col: str = "text",
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram for the scorer: fixed probability bins
    (``floor(score*bins)``, top edge clamped), per-bin count, mean
    predicted score, and observed keep rate.  A calibrated scorer has
    mean_score ≈ keep_rate per bin; systematic gaps say the threshold
    the pipeline ships must be re-fit.  One map-only projection + a
    ``bins``-row aggregate — the cheapest useful eval pass there is."""
    if len(weights) != N_FEATURES + 1:
        raise ValueError(f"need {N_FEATURES + 1} weights (bias first)")
    feats, y = feature_label_cols(text_col)
    s = _sigmoid(_z(weights, [F.lit(1.0)] + feats))
    b = F.least(F.floor(s * bins), F.lit(bins - 1)).cast("int")
    return (
        df.select(b.alias("bin"), s.alias("s"), y.alias("y"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("s"), 6).alias("mean_score"),
            F.round(F.avg("y"), 6).alias("keep_rate"),
        )
    )


def calibration_oracle_sql(
    table: str, weights: list[float], bins: int = 10
) -> str:
    """DuckDB twin of :func:`calibration_curve`."""
    w = [repr(float(x)) for x in weights]
    sig = _sql_sig(*w)
    return f"""
    SELECT CAST(least(floor({sig} * {bins}), {bins - 1}) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg({sig}), 6) AS mean_score,
           round(avg({_SQL_Y}), 6) AS keep_rate
    FROM {table} GROUP BY 1
    """


def auc_oracle_sql(
    table: str, weights: list[float], decimals: int = 4
) -> str:
    """DuckDB twin of :func:`auc_stats` — same binning, same integer
    Mann-Whitney numerator, same rounding."""
    w = [repr(float(x)) for x in weights]
    sig = _sql_sig(*w)
    return f"""
    WITH scored AS (
      SELECT round({sig}, {decimals}) AS s, {_SQL_Y} AS y FROM {table}
    ),
    binned AS (
      SELECT s,
             CAST(count(*) FILTER (WHERE y = 1.0) AS BIGINT) AS pos,
             CAST(count(*) FILTER (WHERE y = 0.0) AS BIGINT) AS neg
      FROM scored GROUP BY s
    ),
    cum AS (
      SELECT s, pos, neg,
             coalesce(sum(neg) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumneg
      FROM binned
    )
    SELECT CASE WHEN sum(pos) > 0 AND sum(neg) > 0 THEN
             round(sum(pos * (2 * cumneg + neg))
                   / (2.0 * sum(pos) * sum(neg)), 6)
           END AS auc,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           CAST(count(*) AS BIGINT) AS n_bins
    FROM cum
    """
