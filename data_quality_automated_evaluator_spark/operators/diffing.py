"""Snapshot diff — dataset versioning for training-data pipelines.

Between two versions of a table (yesterday's crawl vs today's, the
store before and after an ingest, two Iceberg snapshots read as
DataFrames), classify every key as ``added`` / ``removed`` /
``changed`` / ``unchanged``. This is the audit primitive behind "what
did this pipeline run actually do" and the input to incremental
downstream refresh.

Scale shape: content is collapsed MAP-SIDE to a fixed-width md5
digest, so the full-outer join shuffles only (key, digest) — never
the payload. At 100 TB the exchange is |keys| × ~50 bytes per side;
with both snapshots bucketed by key it plans with no exchange at all
(the same layout trick as operators/incremental.py).

Digest portability: md5 over '\\x1f'-joined columns with NULLs
coalesced to a sentinel — evaluates identically in Spark SQL and
DuckDB, so the whole diff is value-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["content_digest_expr", "table_diff"]

_NULL = "__null__"


def content_digest_expr(cols: list[str]) -> str:
    """md5 over the listed columns, NULL-safe and order-significant —
    shared verbatim with the DuckDB oracle (chr(31) evaluates to the
    same unit separator in both engines; it keeps ('ab','c') and
    ('a','bc') distinct)."""
    parts = ", ".join(
        f"coalesce(cast({c} as string), '{_NULL}')" for c in cols
    )
    return f"md5(concat_ws(chr(31), {parts}))"


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | None = None,
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
) -> DataFrame:
    """Key-level diff of two snapshots: (key columns..., status).

    ``compare_cols`` defaults to every column the two frames share
    except the keys. Rows are compared by content digest only — the
    join's shuffle payload is the digest, not the row."""
    if key_cols is None:
        key_cols = ["doc_id"]
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in key_cols
        ]
    dig = content_digest_expr(compare_cols)
    o = old.select(*key_cols, F.expr(dig).alias("_dig_old"))
    n = new.select(*key_cols, F.expr(dig).alias("_dig_new"))
    j = o.join(n, key_cols, "full_outer").select(
        *key_cols,
        F.when(F.col("_dig_old").isNull(), F.lit("added"))
        .when(F.col("_dig_new").isNull(), F.lit("removed"))
        .when(F.col("_dig_old") != F.col("_dig_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    if not include_unchanged:
        j = j.filter(F.col("status") != "unchanged")
    return j


