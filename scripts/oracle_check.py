"""Local replica of the driver's oracle-parity gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema
(column names, sorted) and a value hash (values normalised the way the
driver does: columns sorted by name, rows sorted, floats rounded).

Usage:  python scripts/oracle_check.py [sf_dir] [query ...]
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "\0"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        "|".join(_norm_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = e.queries()
    osql = e.oracle_sql()
    results = {}
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            results[name] = {"err": f"spark: {ex}"}
            failures.append(name)
            continue
        finally:
            # operators persist intermediates the query's plan reuses;
            # drop them before the next query so the sweep's cache stays flat
            spark.catalog.clearCache()
        if name not in osql:
            results[name] = {"spark_rows": len(spdf), "err": "no_oracle"}
            continue
        try:
            opdf = con.execute(osql[name]).df()
        except Exception as ex:  # noqa: BLE001
            results[name] = {"err": f"duckdb: {ex}"}
            failures.append(name)
            continue
        rows = len(spdf) == len(opdf)
        schema = sorted(spdf.columns) == sorted(opdf.columns)
        hmatch = schema and value_hash(spdf) == value_hash(opdf)
        results[name] = {
            "rows_match": rows,
            "schema_match": schema,
            "hash_match": hmatch,
            "spark_rows": len(spdf),
            "oracle_rows": len(opdf),
        }
        if not (rows and schema and hmatch):
            failures.append(name)
    print(json.dumps(results, indent=1))
    n_oracle = sum(1 for r in results.values() if "rows_match" in r)
    print(
        f"\n{n_oracle - len(failures)}/{n_oracle} oracled queries green; "
        f"failures: {failures or 'none'}",
        file=sys.stderr,
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
