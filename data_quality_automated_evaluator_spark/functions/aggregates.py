"""Stage-1 aggregate expression builders (per-interval descriptive stats).

Mirrors the reference's single-pass aggregation (preprocess.py:175-235):
for every column, count-distinct and null-ratio; for numeric columns
additionally min/max/mean/median/std. All statistics are computed in ONE
``groupBy().agg(...)`` so Catalyst plans a single partial→final
ObjectHashAggregate pair around one Exchange. No expression here is a
``DISTINCT`` aggregate: ``countDistinct`` next to other aggregates makes
Catalyst's distinct rewrite replicate every row once per distinct
column through an ``Expand`` and aggregate twice, so the exact count
is a set aggregate instead (:func:`n_unique_expr`).

Column-name encoding (kept for report parity with the reference,
utility/__init__.py:5-8):

- ``" __<stat>"``            overview-level (row count, target average)
- ``"__ <col> __<stat>"``    per-column stats
- ``"n__ <col> __<stat>"``   numeric-only stats

Semantic deltas handled here:
- Polars ``n_unique`` counts NULL as a distinct value; Spark's
  ``collect_set`` drops NULL → ``n_unique_expr`` adds an indicator.
- Spark ``median`` (4.x) interpolates like Polars' default — used as-is.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TIME_INTERVAL_COL = "__time_interval"
OVERVIEW_PREFIX = " __"
COLUMN_PREFIX = "__ "
NUMERIC_PREFIX = "n__ "
STAT_SEP = " __"


def n_unique_expr(col: str, dtype: T.DataType) -> Column:
    """Null-inclusive exact count-distinct (Polars ``n_unique`` parity).

    Equals ``countDistinct(c) + max(isnull(c))`` without being a
    ``DISTINCT`` aggregate, so the stage-1 plan keeps one aggregation
    level. ``collect_set`` drops NULL, so a group holding a NULL adds 1.
    ``collect_set`` keeps every NaN apart where ``countDistinct`` counts
    NaN once, so floating-point NaN is left out of the set and counted
    once through ``max(isnan(c))``; ``-0.0`` and ``0.0`` already
    collapse in the set. The set buffers each group's distinct values,
    like the exact median buffers its values; at extreme scale swap for
    ``approx_count_distinct`` via the ``approx_distinct`` config knob in
    :func:`collect_aggregations`.
    """
    c = F.col(col)
    nulls = F.max(c.isNull().cast("long"))
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        nan = F.isnan(c)
        return F.size(F.collect_set(F.when(~nan, c))) + F.max(nan.cast("long")) + nulls
    return F.size(F.collect_set(c)) + nulls


def approx_n_unique_expr(col: str, rsd: float = 0.01) -> Column:
    """HLL-based variant for 10^12-row scale: a fixed-size sketch per
    group instead of a set of every distinct value."""
    return F.approx_count_distinct(F.col(col), rsd) + F.max(
        F.col(col).isNull().cast("long")
    )


def null_ratio_expr(col: str) -> Column:
    return F.avg(F.col(col).isNull().cast("double"))


def is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, T.NumericType)


@dataclass
class AggregationPlan:
    """The assembled aggregate expressions + per-column metadata.

    ``metadata`` maps source column → dtype string for numeric columns,
    else None — drives the report's numeric subsections (mirrors
    reference preprocess.py:231-233).
    """

    exprs: list[Column] = field(default_factory=list)
    metadata: dict[str, str | None] = field(default_factory=dict)


def collect_aggregations(
    df: DataFrame,
    target_column: str | None = None,
    columns_to_exclude: list[str] | None = None,
    approx_distinct: bool = False,
    approx_median: bool = False,
) -> AggregationPlan:
    """Build the full stage-1 aggregate expression list for ``df``.

    Per reference semantics (preprocess.py:196-235):
    - overview: row count; mean of ``target_column`` when present
    - per column (minus exclusions + the interval column):
      count-distinct (null-inclusive), proportion of missing values
    - per numeric column: min, max, mean, median, std (sample)
    """
    excluded = set(columns_to_exclude or [])
    plan = AggregationPlan()
    plan.exprs.append(F.count(F.lit(1)).alias(f"{OVERVIEW_PREFIX}Number of values"))
    if target_column is not None and target_column in df.columns:
        plan.exprs.append(
            F.avg(F.col(target_column)).alias(f"{OVERVIEW_PREFIX}Target average")
        )

    numeric_cols = {f.name for f in df.schema.fields if is_numeric(f.dataType)}
    for f_ in df.schema.fields:
        col = f_.name
        if col == TIME_INTERVAL_COL or col in excluded:
            continue
        distinct = (
            approx_n_unique_expr(col)
            if approx_distinct
            else n_unique_expr(col, f_.dataType)
        )
        plan.exprs.append(
            distinct.alias(f"{COLUMN_PREFIX}{col}{STAT_SEP}Number of unique values")
        )
        plan.exprs.append(
            null_ratio_expr(col).alias(
                f"{COLUMN_PREFIX}{col}{STAT_SEP}Proportion of missing values"
            )
        )
        if col in numeric_cols:
            c = F.col(col)
            plan.exprs.extend(
                [
                    F.min(c).alias(f"{NUMERIC_PREFIX}{col}{STAT_SEP}Min"),
                    F.max(c).alias(f"{NUMERIC_PREFIX}{col}{STAT_SEP}Max"),
                    F.avg(c).alias(f"{NUMERIC_PREFIX}{col}{STAT_SEP}Mean"),
                    # exact median buffers every group value (object-hash
                    # agg, spills to sort); percentile_approx is the
                    # bounded-memory sketch for the 10^12-row regime
                    (
                        F.percentile_approx(c, 0.5, 10000)
                        if approx_median
                        else F.median(c)
                    ).alias(f"{NUMERIC_PREFIX}{col}{STAT_SEP}Median"),
                    F.stddev_samp(c).alias(
                        f"{NUMERIC_PREFIX}{col}{STAT_SEP}Standard deviation"
                    ),
                ]
            )
            plan.metadata[col] = f_.dataType.simpleString()
        else:
            plan.metadata[col] = None
    return plan


def stat_title(encoded_column: str) -> str:
    """Human title from a name-encoded stat column (split on ' __')."""
    return encoded_column.split(STAT_SEP)[-1]
