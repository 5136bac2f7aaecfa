"""Stage-1 preprocessing: filter → transforms → interval bucketing →
single-pass aggregation.

Capability rebuild of the reference's ``make_preprocessing``
(preprocess.py:8-72), expressed as lazy DataFrame transformations so
Catalyst fuses filter + projections into the scan (predicate pushdown,
column pruning) and plans one partial→final ObjectHashAggregate pair
around one Exchange.

Contract parity with the reference:
- the SQL filter sees the frame as table ``self`` and runs BEFORE
  transformations (preprocess.py:33-35), so filters reference source
  columns and transforms may then build date/target columns;
- transformations are a ``{alias: sql_expr}`` dict applied sequentially;
  an alias matching an existing column replaces it, otherwise a new
  column is appended — later exprs see earlier results
  (preprocess.py:97-124);
- the date column defaults to the literal name ``"date_column"``;
  missing → error (preprocess.py:44,172); a string date column is
  strictly cast (preprocess.py:159-161) — we assert no new nulls were
  introduced to reproduce strict behavior;
- the truncated column is renamed to ``__time_interval``
  (preprocess.py:166-167).
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.aggregates import (
    TIME_INTERVAL_COL,
    AggregationPlan,
    collect_aggregations,
)
from ..functions.intervals import truncate_to_interval
from ..functions.sqldialect import to_spark_sql

DEFAULT_TIME_INTERVAL = "1d"
DEFAULT_DATE_COLUMN = "date_column"
DEFAULT_TARGET_COLUMN = "target_column"

_INT_DATE_CAST = re.compile(r"\bCAST\s*\(\s*([^()]+?)\s+AS\s+DATE\s*\)", re.IGNORECASE)


def apply_filter(df: DataFrame, filter_sql: str | None) -> DataFrame:
    """Run one SQL statement with the frame registered as table ``self``.

    Full Spark SQL (can slice rows AND project columns). Reference:
    preprocess.py:75-94.
    """
    if not filter_sql:
        return df
    spark = df.sparkSession
    view = f"self_{uuid.uuid4().hex[:8]}"
    df.createOrReplaceTempView(view)
    sql = to_spark_sql(filter_sql)
    sql = re.sub(r"(?i)(\bfrom\s+)self\b", rf"\g<1>{view}", sql)
    return spark.sql(sql)


def _expr_with_int_date_fallback(df: DataFrame, sql_expr: str):
    """Build an expression Column; if it fails because of an int→date
    cast (reference configs use ``CAST(step AS DATE)`` meaning
    epoch-days), rewrite to ``date_add(date'1970-01-01', x)``."""
    expr = F.expr(sql_expr)
    try:
        df.select(expr)  # analysis only — no job runs
        return expr
    except Exception as orig:
        rewritten = _INT_DATE_CAST.sub(
            r"DATE_ADD(DATE'1970-01-01', CAST(\1 AS INT))", sql_expr
        )
        if rewritten == sql_expr:
            raise
        try:
            return F.expr(rewritten)
        except Exception as exc:
            # surface the ORIGINAL analysis error — the rewrite failing
            # second is a symptom, not the cause
            raise orig from exc


def apply_transformations(
    df: DataFrame, transformations: dict[str, str] | None
) -> DataFrame:
    """Apply ``{alias: sql_expr}`` sequentially (replace-or-append).

    Reference: preprocess.py:97-124. Sequential ``withColumn`` keeps the
    reference's visibility rule (later exprs see earlier aliases); the
    chain collapses into a single Project node under Catalyst's
    CollapseProject, so there is no per-column execution cost.
    """
    for alias, sql_expr in (transformations or {}).items():
        shimmed = to_spark_sql(str(sql_expr))
        df = df.withColumn(alias, _expr_with_int_date_fallback(df, shimmed))
    return df


def process_date_column(
    df: DataFrame,
    date_column: str,
    time_interval: str = DEFAULT_TIME_INTERVAL,
) -> DataFrame:
    """Cast (if string) → truncate into tumbling buckets → rename to
    ``__time_interval``. Reference: preprocess.py:127-172."""
    if date_column not in df.columns:
        raise ValueError(
            f"date column {date_column!r} not found; available: {df.columns}"
        )
    dtype = dict(df.dtypes)[date_column]
    col = F.col(date_column)
    if dtype == "string":
        col = F.to_date(col)
    bucket = truncate_to_interval(col, time_interval)
    # truncation of a pure Date at day+ granularity should stay a date-like
    # value; keep timestamp for uniformity (stage 2 treats it opaquely).
    return df.withColumn(TIME_INTERVAL_COL, bucket).drop(date_column)


@dataclass
class PreprocessResult:
    aggregate: DataFrame  # one row per interval, name-encoded stat columns
    metadata: dict[str, str | None]  # source col → numeric dtype str | None
    plan: AggregationPlan


def make_preprocessing(
    df: DataFrame,
    config: dict,
) -> PreprocessResult:
    """Full stage-1 pipeline from a config dict (reference main-path parity).

    Config keys (all optional except the date column's presence in the
    data): ``filter``, ``transformations``, ``date_column``,
    ``time_interval``, ``target_column``, ``columns_to_exclude``,
    ``approx_distinct``, ``approx_median``.

    Returns the per-interval aggregate as a *lazy* DataFrame (callers
    collect; at #intervals rows it is tiny) plus column metadata. Its
    rows come in no particular order: a Spark sort of #intervals rows
    costs a range-partition sampling job and a second Exchange, so
    :func:`~data_quality_automated_evaluator_spark.report.make_report`
    puts the collected rows in time order in pandas.
    """
    df = apply_filter(df, config.get("filter"))
    df = apply_transformations(df, config.get("transformations"))

    date_column = config.get("date_column", DEFAULT_DATE_COLUMN)
    time_interval = config.get("time_interval", DEFAULT_TIME_INTERVAL)
    df = process_date_column(df, date_column, time_interval)

    target_column = config.get("target_column", DEFAULT_TARGET_COLUMN)
    if target_column not in df.columns:
        target_column = None  # silently dropped, reference preprocess.py:51-56

    plan = collect_aggregations(
        df,
        target_column=target_column,
        columns_to_exclude=config.get("columns_to_exclude"),
        approx_distinct=bool(config.get("approx_distinct", False)),
        approx_median=bool(config.get("approx_median", False)),
    )
    agg = df.groupBy(TIME_INTERVAL_COL).agg(*plan.exprs)
    if config.get("explain"):
        # reference keeps a commented lf_agg.explain() hook (preprocess.py:70);
        # here it's a config flag
        agg.explain("formatted")
    return PreprocessResult(aggregate=agg, metadata=plan.metadata, plan=plan)
