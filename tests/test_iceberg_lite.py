"""Jar-less Iceberg: Avro codec round trips + live table semantics
(write → read, append snapshots, time travel, partition pruning,
overwrite isolation, reader-dispatch fallback)."""

from __future__ import annotations

import os

import pytest

from references import snapshots

from data_quality_automated_evaluator_spark.functions.avro_io import (
    read_container,
    write_container,
)
from data_quality_automated_evaluator_spark.sources.iceberg_lite import (
    iceberg_files,
    load_metadata,
    read_iceberg,
    write_iceberg,
)

NESTED_SCHEMA = {
    "type": "record",
    "name": "outer",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "ratio", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "blob", "type": "bytes"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
        {"name": "color",
         "type": {"type": "enum", "name": "col", "symbols": ["R", "G", "B"]}},
        {"name": "fx",
         "type": {"type": "fixed", "name": "f8", "size": 8}},
        {"name": "child",
         "type": ["null", {
             "type": "record", "name": "inner",
             "fields": [{"name": "x", "type": "int"}],
         }], "default": None},
    ],
}

ROWS = [
    {
        "id": 1, "name": "a", "ratio": 1.5, "flag": True, "blob": b"\x00\xff",
        "tags": ["x", "y"], "props": {"k": 7, "j": -3}, "color": "G",
        "fx": b"12345678", "child": {"x": 42},
    },
    {
        "id": -99, "name": None, "ratio": -0.25, "flag": False, "blob": b"",
        "tags": [], "props": {}, "color": "B",
        "fx": b"abcdefgh", "child": None,
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_round_trip(codec):
    data = write_container(NESTED_SCHEMA, ROWS, codec=codec)
    schema, records = read_container(data)
    assert schema["name"] == "outer"
    assert records == ROWS


def test_avro_zigzag_extremes():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "v", "type": "long"}]}
    vals = [0, -1, 1, 2**62, -(2**62), 63, -64]
    data = write_container(schema, [{"v": v} for v in vals], codec="null")
    _, recs = read_container(data)
    assert [r["v"] for r in recs] == vals


def _mk_df(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, lang string, score double, ts timestamp"
    )


def _rows(n0, n1, day=15):
    from datetime import datetime

    return [
        (i, "en" if i % 2 else "fr", i * 0.5,
         datetime(2024, 3, day + (i % 2), 10, 0, 0))
        for i in range(n0, n1)
    ]


def test_write_read_round_trip_identity_partition(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df = _mk_df(spark, _rows(0, 20))
    snap = write_iceberg(df, loc, partition_by=["lang"])
    assert snap > 0
    out = read_iceberg(spark, loc)
    assert out.columns == ["doc_id", "lang", "score", "ts"]
    got = sorted((r.doc_id, r.lang, r.score, r.ts) for r in out.collect())
    want = sorted(_rows(0, 20))
    assert got == want
    # identity-partition column came back typed, not inferred
    assert dict(out.dtypes)["lang"] == "string"
    # metadata invariants
    meta = load_metadata(loc)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == snap
    with open(os.path.join(loc, "metadata", "version-hint.text")) as f:
        assert f.read().strip() == "1"


def test_append_snapshots_and_time_travel(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    s1 = write_iceberg(_mk_df(spark, _rows(0, 10)), loc, partition_by=["lang"])
    s2 = write_iceberg(_mk_df(spark, _rows(10, 25)), loc)  # spec reused
    snaps = snapshots(loc)
    assert [s["snapshot-id"] for s in snaps] == [s1, s2]
    assert snaps[1]["parent-snapshot-id"] == s1
    assert read_iceberg(spark, loc).count() == 25
    assert read_iceberg(spark, loc, snapshot_id=s1).count() == 10
    # the second snapshot's manifest list reuses the first's manifest file
    assert len(iceberg_files(loc)) > len(iceberg_files(loc, snapshot_id=s1))


def test_days_transform_partition_pruning(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    write_iceberg(
        _mk_df(spark, _rows(0, 30)), loc, partition_by=[("days", "ts")]
    )
    files = iceberg_files(loc)
    days = {f["partition"]["ts_day"] for f in files}
    assert len(days) == 2  # two distinct dates in the fixture
    d0 = min(days)
    pruned = iceberg_files(loc, partition_filter={"ts_day": d0})
    assert 0 < len(pruned) < len(files)
    out = read_iceberg(spark, loc, partition_filter={"ts_day": d0})
    # pruning matches the data: every surviving row is on the min date
    assert out.count() == sum(f["record_count"] for f in pruned)
    assert out.select("ts").distinct().count() == 1
    # derived directory column never leaks into the schema
    assert "ts_day" not in out.columns
    # callable filters prune too
    assert len(iceberg_files(loc, partition_filter={"ts_day": lambda v: False})) == 0


def test_overwrite_keeps_old_snapshot_readable(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    s1 = write_iceberg(_mk_df(spark, _rows(0, 10)), loc, partition_by=["lang"])
    s2 = write_iceberg(
        _mk_df(spark, _rows(100, 104)), loc, mode="overwrite"
    )
    cur = read_iceberg(spark, loc)
    assert sorted(r.doc_id for r in cur.collect()) == [100, 101, 102, 103]
    # time travel still sees the pre-overwrite files
    assert read_iceberg(spark, loc, snapshot_id=s1).count() == 10
    assert snapshots(loc)[-1]["summary"]["operation"] == "overwrite"
    assert s2 != s1


def test_manifest_headers_and_schemas_are_spec_shaped(spark, tmp_path):
    from data_quality_automated_evaluator_spark.functions.avro_io import (
        read_container_file,
    )

    loc = str(tmp_path / "tbl")
    write_iceberg(_mk_df(spark, _rows(0, 6)), loc, partition_by=["lang"])
    meta = load_metadata(loc)
    mlist = meta["snapshots"][0]["manifest-list"]
    schema, manifests = read_container_file(mlist)
    assert schema["name"] == "manifest_file"
    assert {f["name"] for f in schema["fields"]} >= {
        "manifest_path", "manifest_length", "added_snapshot_id",
        "sequence_number", "content",
    }
    mschema, entries = read_container_file(manifests[0]["manifest_path"])
    assert mschema["name"] == "manifest_entry"
    e = entries[0]
    assert e["status"] == 1 and e["data_file"]["file_format"] == "PARQUET"
    assert e["data_file"]["record_count"] > 0
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "identity"


def test_reader_dispatch_falls_back_without_jar(spark, tmp_path):
    from data_quality_automated_evaluator_spark.sources.readers import read_source

    loc = str(tmp_path / "tbl")
    write_iceberg(_mk_df(spark, _rows(0, 8)), loc, partition_by=["lang"])
    df = read_source(spark, {"file_format": "iceberg", "path": loc})
    assert df.count() == 8
    assert read_iceberg(spark, loc).count() == 8


def test_unsupported_identity_partition_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="days"):
        write_iceberg(
            _mk_df(spark, _rows(0, 4)),
            str(tmp_path / "tbl"),
            partition_by=["ts"],
        )
