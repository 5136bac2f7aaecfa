"""Jar-less Apache Iceberg table reader/writer (format v2 subset).

The reference evaluator's production source is Iceberg
(``pl.scan_iceberg`` — reference utility/handle_data.py:109), and this
sandbox has neither the Iceberg Spark runtime jar nor a pyiceberg wheel,
so until round 4 the Iceberg path was dispatch-only. This module makes it
LIVE by implementing the public Iceberg table spec
(https://iceberg.apache.org/spec/) at the metadata level in pure Python:

- **read**: ``version-hint.text`` → ``vN.metadata.json`` → snapshot →
  manifest list (Avro) → manifests (Avro) → live data-file list, with
  snapshot time travel and partition pruning BEFORE any data is opened;
  the pruned file list goes to ``spark.read.parquet`` so the actual scan
  stays a distributed, column-pruned, predicate-pushed parquet read.
- **write/append/overwrite**: partitioned parquet data files written by
  Spark, then manifest + manifest-list Avro and the next
  ``vN.metadata.json`` committed atomically (tempfile + rename), with
  identity and ``days(ts)`` partition transforms.

Avro containers ride :mod:`..functions.avro_io` (stdlib-only codec).

Scale honesty: on a real cluster you run the Iceberg runtime jar — its
scan planning is the same algorithm (metadata JSON + manifest Avro →
pruned file list) executed driver-side, and commit uses the catalog's
atomic swap instead of a filesystem rename. Everything distributed here
(the data scan, the partitioned write) IS the production plan; the
driver-side metadata walk is O(#manifests + #files-listed), identical in
complexity to the runtime jar's planner. Per-file record counts come
from parquet footers (metadata pages only, no data pages).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.avro_io import read_container_file, write_container_file

# ---------------------------------------------------------------------------
# spec-faithful Avro schemas (field names and field-ids per the Iceberg
# table spec, Appendix C) — subset: required fields + the stats this
# writer records; the schema-generic reader accepts any superset.
# ---------------------------------------------------------------------------


def _manifest_list_schema() -> dict:
    fs = {
        "type": "record", "name": "field_summary",
        "fields": [
            {"name": "contains_null", "type": "boolean", "field-id": 509},
            {"name": "contains_nan", "type": ["null", "boolean"],
             "default": None, "field-id": 518},
            {"name": "lower_bound", "type": ["null", "bytes"],
             "default": None, "field-id": 510},
            {"name": "upper_bound", "type": ["null", "bytes"],
             "default": None, "field-id": 511},
        ],
    }
    return {
        "type": "record", "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string", "field-id": 500},
            {"name": "manifest_length", "type": "long", "field-id": 501},
            {"name": "partition_spec_id", "type": "int", "field-id": 502},
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
            {"name": "added_snapshot_id", "type": "long", "field-id": 503},
            {"name": "added_files_count", "type": "int", "field-id": 504},
            {"name": "existing_files_count", "type": "int", "field-id": 505},
            {"name": "deleted_files_count", "type": "int", "field-id": 506},
            {"name": "added_rows_count", "type": "long", "field-id": 512},
            {"name": "existing_rows_count", "type": "long", "field-id": 513},
            {"name": "deleted_rows_count", "type": "long", "field-id": 514},
            {"name": "partitions",
             "type": ["null", {"type": "array", "items": fs}],
             "default": None, "field-id": 507},
        ],
    }


def _partition_avro_type(iceberg_type: str) -> str | dict:
    if iceberg_type in ("int", "date"):
        return "int"
    if iceberg_type in ("long", "time", "timestamp", "timestamptz"):
        return "long"
    if iceberg_type in ("float",):
        return "float"
    if iceberg_type in ("double",):
        return "double"
    if iceberg_type in ("boolean",):
        return "boolean"
    return "string"


def _manifest_entry_schema(partition_fields: list[dict]) -> dict:
    part_record = {
        "type": "record", "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": ["null", _partition_avro_type(pf["result_type"])],
                "default": None,
                "field-id": pf["field-id"],
            }
            for pf in partition_fields
        ],
    }
    data_file = {
        "type": "record", "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": part_record, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        ],
    }
    return {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


_SPARK_TO_ICEBERG = {
    "long": "long", "bigint": "long", "int": "int", "integer": "int",
    "short": "int", "byte": "int", "string": "string", "double": "double",
    "float": "float", "boolean": "boolean", "date": "date",
    "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
    "binary": "binary",
}

_ICEBERG_TO_SPARK = {
    "long": "bigint", "int": "int", "string": "string", "double": "double",
    "float": "float", "boolean": "boolean", "date": "date",
    "timestamptz": "timestamp", "timestamp": "timestamp_ntz",
    "binary": "binary",
}


# ---------------------------------------------------------------------------
# metadata resolution (read path)
# ---------------------------------------------------------------------------


def _metadata_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def current_metadata_path(location: str) -> str:
    """Resolve the table's current metadata file: explicit ``*.json`` path,
    else ``metadata/version-hint.text``, else the highest ``vN``."""
    if location.endswith(".json"):
        return location
    mdir = _metadata_dir(location)
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            v = f.read().strip()
        return os.path.join(mdir, f"v{v}.metadata.json")
    versions = sorted(
        int(n[1:].split(".")[0])
        for n in os.listdir(mdir)
        if n.startswith("v") and n.endswith(".metadata.json")
    )
    if not versions:
        raise FileNotFoundError(f"no metadata files under {mdir}")
    return os.path.join(mdir, f"v{versions[-1]}.metadata.json")


def load_metadata(location: str) -> dict:
    with open(current_metadata_path(location)) as f:
        return json.load(f)


def _select_snapshot(meta: dict, snapshot_id: int | None) -> dict | None:
    snaps = meta.get("snapshots", [])
    if snapshot_id is None:
        cur = meta.get("current-snapshot-id")
        if cur in (None, -1):
            return None
        snapshot_id = cur
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(f"snapshot {snapshot_id} not found")


def _resolve_path(location: str, p: str) -> str:
    """Manifest/data paths are stored absolute (possibly with a scheme or
    under the table's original location); re-root under ``location`` so a
    moved/copied table directory still reads."""
    if os.path.exists(p):
        return p
    tail = p.split("://", 1)[-1]
    for marker in ("/metadata/", "/data/"):
        if marker in tail:
            return os.path.join(
                location, marker.strip("/"), tail.split(marker, 1)[1]
            )
    return os.path.join(location, os.path.basename(p))


def iceberg_files(
    location: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
) -> list[dict]:
    """Live data files of a snapshot after partition pruning.

    Returns dicts: ``file_path``, ``partition`` (dict), ``record_count``.
    ``partition_filter`` maps partition-field name → required value (or a
    callable value → bool); non-matching files are pruned HERE, before
    Spark ever lists or opens them — the Iceberg scan-planning contract.
    """
    meta = load_metadata(location)
    snap = _select_snapshot(meta, snapshot_id)
    if snap is None:
        return []
    mlist_path = _resolve_path(location, snap["manifest-list"])
    _, manifests = read_container_file(mlist_path)
    out: list[dict] = []
    for mf in manifests:
        if mf.get("content", 0) != 0:
            continue  # delete manifests: not produced by this writer
        mpath = _resolve_path(location, mf["manifest_path"])
        _, entries = read_container_file(mpath)
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            df_rec = e["data_file"]
            part = df_rec.get("partition") or {}
            if partition_filter and not _part_match(part, partition_filter):
                continue
            out.append(
                {
                    "file_path": _resolve_path(location, df_rec["file_path"]),
                    "partition": part,
                    "record_count": df_rec["record_count"],
                    "file_size": df_rec.get("file_size_in_bytes", 0),
                    "snapshot_id": e.get("snapshot_id"),
                }
            )
    return out


def _part_match(part: dict, flt: dict) -> bool:
    for k, want in flt.items():
        have = part.get(k)
        if callable(want):
            if not want(have):
                return False
        elif have != want:
            return False
    return True


def read_iceberg(
    spark: SparkSession,
    location: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Snapshot-consistent DataFrame over an Iceberg table directory.

    The file list is resolved from metadata (with time travel +
    partition pruning) and read as ONE parquet scan with the table's data
    schema (spec types, identity partition fields left out), so planning
    runs no schema-inference job, a file written under an older schema
    that lacks a column reads it as NULL, and the plan has one scan leaf
    however many partitions the files span. Identity-partition columns
    live in directory names, not data pages (the partitioned write drops
    them), so each row gets its file's value back from a literal map
    keyed by the path Spark reports in ``_metadata.file_path``. A filter
    on such a column therefore prunes no files: callers prune through
    ``partition_filter``. The result is projected onto the table schema
    in field order with spec types, so derived-transform directory
    columns (e.g. ``ts_day=``) never leak extra columns.
    """
    meta = load_metadata(location)
    files = iceberg_files(location, snapshot_id, partition_filter)
    schema_fields = _current_schema(meta)["fields"]
    spark_type = {
        f["name"]: _ICEBERG_TO_SPARK.get(f["type"], "string")
        for f in schema_fields
    }
    select = [
        F.col(f["name"]).cast(spark_type[f["name"]]).alias(f["name"])
        for f in schema_fields
    ]
    if not files:
        ddl = ", ".join(f"{n} {t}" for n, t in spark_type.items())
        return spark.createDataFrame([], ddl)
    # identity partition fields = table columns to restore from the
    # partition tuple; transform fields (day, ...) are derived and never
    # re-materialized
    spec = next(
        (s for s in meta.get("partition-specs", [])
         if s.get("spec-id") == meta.get("default-spec-id", 0)),
        {"fields": []},
    )
    identity = [
        pf["name"] for pf in spec["fields"] if pf["transform"] == "identity"
    ]
    data_schema = ", ".join(
        f"`{n}` {t}" for n, t in spark_type.items() if n not in identity
    )
    out = spark.read.schema(data_schema).parquet(*(f["file_path"] for f in files))
    # _metadata.file_path spells a file as ``file:`` + the percent-encoded
    # path Spark lists it under (``file:/a%20b/...``)
    uri = {}
    for listed in out.inputFiles():
        path = urllib.parse.urlparse(listed).path
        uri[os.path.abspath(urllib.parse.unquote(path))] = f"file:{path}"
    for k in identity:
        by_file = []
        for f in files:
            v = f["partition"].get(k)
            if spark_type.get(k) == "date" and isinstance(v, int):
                # spec encoding: days from epoch → a typed date literal
                # (an int literal cast to date would be NULL)
                v = _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
            by_file += [F.lit(uri[os.path.abspath(f["file_path"])]),
                        F.lit(v).cast(spark_type.get(k, "string"))]
        out = out.withColumn(
            k, F.element_at(F.create_map(*by_file), F.col("_metadata.file_path")))
    return out.select(*select)


def _current_schema(meta: dict) -> dict:
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas", []):
        if s.get("schema-id") == sid:
            return s
    if "schema" in meta:  # v1 tables
        return meta["schema"]
    raise ValueError("no current schema in metadata")


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def _partition_spec(
    df: DataFrame, partition_by: list | None, schema_fields: list[dict]
) -> tuple[list[dict], list, DataFrame]:
    """Normalize ``partition_by`` (column name = identity, or
    ``("days", col)``) into spec fields + the physical partition columns
    Spark writes directories for. Returns (spec_fields, dir_cols, df)."""
    ids = {f["name"]: f["id"] for f in schema_fields}
    spec_fields: list[dict] = []
    dir_cols: list[str] = []
    fid = 1000
    for p in partition_by or []:
        if isinstance(p, (tuple, list)) and p[0] == "days":
            src = p[1]
            name = f"{src}_day"
            # Iceberg days() transform: date(ts) as days from epoch (int)
            df = df.withColumn(name, F.datediff(F.to_date(src), F.lit("1970-01-01")))
            spec_fields.append(
                {"name": name, "transform": "day", "source-id": ids[src],
                 "field-id": fid, "result_type": "date"}
            )
        else:
            name = str(p)
            ftype = next(f["type"] for f in schema_fields if f["name"] == name)
            if ftype in ("timestamp", "timestamptz", "binary", "float",
                         "double"):
                # directory-encoded identity values must round-trip
                # exactly through hive path strings; partition timestamps
                # via the days() transform instead
                raise ValueError(
                    f"identity partitioning on {ftype} column {name!r} is "
                    "not supported; use ('days', col) for timestamps"
                )
            spec_fields.append(
                {"name": name, "transform": "identity", "source-id": ids[name],
                 "field-id": fid, "result_type": ftype}
            )
        dir_cols.append(name)
        fid += 1
    return spec_fields, dir_cols, df


def _coerce_part_value(raw: str, result_type: str):
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if result_type == "date":
        # spec stores dates as days from epoch (int); Spark's hive-style
        # directory writes ISO strings (part_date=2024-01-03)
        if raw.lstrip("-").isdigit():
            return int(raw)
        return (_dt.date.fromisoformat(raw) - _dt.date(1970, 1, 1)).days
    if result_type in ("int", "long"):
        return int(raw)
    if result_type in ("float", "double"):
        return float(raw)
    if result_type == "boolean":
        return raw.lower() == "true"
    return raw


def write_iceberg(
    df: DataFrame,
    location: str,
    partition_by: list | None = None,
    mode: str = "append",
) -> int:
    """Commit ``df`` to the Iceberg table at ``location``; returns the new
    snapshot id.

    ``mode='append'`` adds a snapshot keeping prior manifests (the
    resumable-ingest shape); ``mode='overwrite'`` starts the file set
    fresh; ``mode='overwrite_partitions'`` is dynamic partition
    overwrite — partitions present in ``df`` replace their prior files,
    all other partitions are carried forward (the idempotent
    re-run-a-partition shape; prior snapshots keep their own manifest
    lists, so time travel still sees the replaced files). First commit
    creates the table (schema from ``df``, ``partition_by`` = identity
    column names or ``("days", ts_col)``). The data write is a normal
    distributed partitioned-parquet job; only the metadata commit is
    driver-side.
    """
    if mode not in ("append", "overwrite", "overwrite_partitions"):
        raise ValueError(f"unknown write_iceberg mode {mode!r}")
    import pyarrow.parquet as pq

    spark = df.sparkSession
    os.makedirs(_metadata_dir(location), exist_ok=True)
    data_root = os.path.join(location, "data")

    try:
        meta = load_metadata(location)
        version = int(
            os.path.basename(current_metadata_path(location))[1:].split(".")[0]
        )
    except (FileNotFoundError, OSError):
        meta, version = None, 0

    if meta is None:
        schema_fields = [
            {
                "id": i + 1,
                "name": f.name,
                "required": False,
                "type": _SPARK_TO_ICEBERG.get(
                    f.dataType.simpleString(), "string"
                ),
            }
            for i, f in enumerate(df.schema.fields)
        ]
    else:
        schema_fields = _current_schema(meta)["fields"]
        if partition_by is None:
            partition_by = _spec_to_partition_by(meta, schema_fields)

    spec_fields, dir_cols, df_out = _partition_spec(
        df, partition_by, schema_fields
    )

    # --- distributed data write (new files only: write into a unique
    # subdirectory so concurrent/aborted writes never collide) ---
    batch_dir = os.path.join(data_root, f"b{uuid.uuid4().hex[:12]}")
    writer = df_out.write.mode("overwrite")
    if dir_cols:
        writer = writer.partitionBy(*dir_cols)
    writer.parquet(batch_dir)

    # --- collect written files + footer record counts (metadata pages
    # only) and their partition tuples from the hive-style paths ---
    new_files: list[dict] = []
    for root, _dirs, names in os.walk(batch_dir):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            fp = os.path.join(root, n)
            rel = os.path.relpath(root, batch_dir)
            part: dict = {}
            for seg in rel.split(os.sep):
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    rt = next(
                        (s["result_type"] for s in spec_fields if s["name"] == k),
                        "string",
                    )
                    part[k] = _coerce_part_value(v, rt)
            new_files.append(
                {
                    "file_path": fp,
                    "partition": part,
                    "record_count": pq.ParquetFile(fp).metadata.num_rows,
                    "file_size": os.path.getsize(fp),
                }
            )

    # --- metadata commit ---
    # dynamic partition overwrite: files of partitions NOT being replaced
    # are carried into the new snapshot's (consolidated) manifest as
    # EXISTING entries; replaced partitions' files simply don't appear
    # (prior snapshots still reference them via their own manifest lists)
    carried: list[dict] = []
    if mode == "overwrite_partitions" and meta is not None:
        new_parts = {
            tuple(sorted(f["partition"].items())) for f in new_files
        }
        carried = [
            f for f in iceberg_files(location)
            if tuple(sorted(f["partition"].items())) not in new_parts
        ]

    snapshot_id = int(time.time() * 1000) * 1000 + version + 1
    seq = (meta.get("last-sequence-number", 0) if meta else 0) + 1
    mdir = _metadata_dir(location)
    manifest_path = os.path.join(mdir, f"{uuid.uuid4().hex}-m0.avro")
    entry_schema = _manifest_entry_schema(spec_fields)

    def _entry(f: dict, status: int) -> dict:
        return {
            "status": status,
            "snapshot_id": snapshot_id if status == 1 else (
                f.get("snapshot_id") or snapshot_id
            ),
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": f["file_path"],
                "file_format": "PARQUET",
                "partition": f["partition"],
                "record_count": f["record_count"],
                "file_size_in_bytes": f["file_size"],
            },
        }

    entries = [
        *(_entry(f, 1) for f in new_files),   # ADDED
        *(_entry(f, 0) for f in carried),     # EXISTING
    ]
    spec_json = json.dumps(
        {
            "spec-id": 0,
            "fields": [
                {k: s[k] for k in ("name", "transform", "source-id", "field-id")}
                for s in spec_fields
            ],
        }
    )
    mlen = write_container_file(
        manifest_path, entry_schema, entries,
        meta_extra={
            "format-version": b"2",
            "content": b"data",
            "partition-spec": spec_json.encode(),
            "partition-spec-id": b"0",
        },
    )

    new_manifest = {
        "manifest_path": manifest_path,
        "manifest_length": mlen,
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(new_files),
        "existing_files_count": len(carried),
        "deleted_files_count": 0,
        "added_rows_count": sum(f["record_count"] for f in new_files),
        "existing_rows_count": sum(f["record_count"] for f in carried),
        "deleted_rows_count": 0,
        "partitions": None,
    }
    prior_manifests: list[dict] = []
    if meta is not None and mode == "append":
        prev = _select_snapshot(meta, None)
        if prev is not None:
            _, prior_manifests = read_container_file(
                _resolve_path(location, prev["manifest-list"])
            )
    mlist_path = os.path.join(
        mdir, f"snap-{snapshot_id}-1-{uuid.uuid4().hex}.avro"
    )
    write_container_file(
        mlist_path, _manifest_list_schema(),
        [new_manifest, *prior_manifests],
        meta_extra={"format-version": b"2"},
    )

    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": int(time.time() * 1000),
        "manifest-list": mlist_path,
        "summary": {
            "operation": "append" if mode == "append" else "overwrite",
            "added-data-files": str(len(new_files)),
            "added-records": str(sum(f["record_count"] for f in new_files)),
        },
        "schema-id": 0,
    }
    if meta is not None and meta.get("current-snapshot-id") not in (None, -1):
        snapshot["parent-snapshot-id"] = meta["current-snapshot-id"]

    new_meta = {
        "format-version": 2,
        "table-uuid": (meta or {}).get("table-uuid", str(uuid.uuid4())),
        "location": location,
        "last-sequence-number": seq,
        "last-updated-ms": snapshot["timestamp-ms"],
        "last-column-id": len(schema_fields),
        "current-schema-id": 0,
        "schemas": [
            {"schema-id": 0, "type": "struct", "fields": schema_fields}
        ],
        "default-spec-id": 0,
        "partition-specs": [json.loads(spec_json)],
        "last-partition-id": max(
            [s["field-id"] for s in spec_fields], default=999
        ),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet"},
        "current-snapshot-id": snapshot_id,
        "snapshots": ((meta or {}).get("snapshots", []) + [snapshot]),
        "snapshot-log": (
            (meta or {}).get("snapshot-log", [])
            + [{"snapshot-id": snapshot_id,
                "timestamp-ms": snapshot["timestamp-ms"]}]
        ),
        "metadata-log": [],
    }
    vnext = version + 1
    tmp = os.path.join(mdir, f".v{vnext}.metadata.json.tmp")
    with open(tmp, "w") as f:
        json.dump(new_meta, f, indent=1)
    os.replace(tmp, os.path.join(mdir, f"v{vnext}.metadata.json"))
    with open(os.path.join(mdir, ".version-hint.tmp"), "w") as f:
        f.write(str(vnext))
    os.replace(
        os.path.join(mdir, ".version-hint.tmp"),
        os.path.join(mdir, "version-hint.text"),
    )
    return snapshot_id


def _spec_to_partition_by(meta: dict, schema_fields: list[dict]) -> list:
    """Reconstruct the writer's partition_by from the stored spec so
    appends keep partitioning without restating it."""
    by_id = {f["id"]: f["name"] for f in schema_fields}
    out: list = []
    spec = next(
        (s for s in meta.get("partition-specs", [])
         if s.get("spec-id") == meta.get("default-spec-id", 0)),
        {"fields": []},
    )
    for pf in spec["fields"]:
        if pf["transform"] == "day":
            out.append(("days", by_id[pf["source-id"]]))
        else:
            out.append(by_id[pf["source-id"]])
    return out
