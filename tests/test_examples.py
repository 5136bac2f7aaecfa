"""Every shipped example config runs end-to-end (the reference's de-facto
correctness strategy is its examples/ directory — SURVEY.md §5)."""

from __future__ import annotations

import glob
import json
import os

import pytest

from data_quality_automated_evaluator_spark.app import run_evaluator, run_quality_filter

EXAMPLES = sorted(
    glob.glob(os.path.join(os.path.dirname(__file__), "..", "examples", "*.json"))
)

EVALUATOR_EXAMPLES = [p for p in EXAMPLES if "quality-filter" not in p]
QUALITY_EXAMPLES = [p for p in EXAMPLES if "quality-filter" in p]


@pytest.mark.parametrize(
    "path", EVALUATOR_EXAMPLES, ids=[os.path.basename(p) for p in EVALUATOR_EXAMPLES]
)
def test_evaluator_example_runs(spark, tmp_path, path):
    cfg = json.load(open(path))
    assert os.path.exists(cfg["source"]["file_path"]), path
    cfg["report_path"] = str(tmp_path / "REPORT.md")
    out = run_evaluator(spark, cfg)
    assert out is not None
    text = open(out).read()
    assert "## " in text and "__time_interval" not in text.split("\n")[0]
    assert len(text) > 500


@pytest.mark.parametrize(
    "path", QUALITY_EXAMPLES, ids=[os.path.basename(p) for p in QUALITY_EXAMPLES]
)
def test_quality_filter_example_runs(spark, tmp_path, path):
    from data_quality_automated_evaluator_spark.testdata import write_transcripts_parquet

    src = str(tmp_path / "transcripts.parquet")
    write_transcripts_parquet(src, n_convs=200, seed=5)

    cfg = json.load(open(path))
    cfg["source"]["file_path"] = src
    cfg["output_root"] = str(tmp_path / "out")
    summary = run_quality_filter(spark, cfg)
    assert summary["n_turns"] > 0
    assert 0 < summary["n_keep"] <= summary["n_turns"]
    # the sink wrote labeled turns + stats + ledger
    assert os.path.isdir(cfg["output_root"])
    assert any("turns" in d for d in os.listdir(cfg["output_root"]))


@pytest.mark.parametrize(
    "path", QUALITY_EXAMPLES, ids=[os.path.basename(p) for p in QUALITY_EXAMPLES]
)
def test_quality_filter_example_iceberg_sink(spark, tmp_path, path):
    """`"sink_format": "iceberg"` switches the same config to the
    Iceberg-committed sink: identical summary, plus turns/stats/lineage
    as real Iceberg tables."""
    from references import snapshots
    from data_quality_automated_evaluator_spark.testdata import write_transcripts_parquet

    src = str(tmp_path / "transcripts.parquet")
    write_transcripts_parquet(src, n_convs=200, seed=5)

    cfg = json.load(open(path))
    cfg["source"]["file_path"] = src
    cfg["output_root"] = str(tmp_path / "out_ice")
    cfg["sink_format"] = "iceberg"
    summary = run_quality_filter(spark, cfg)
    assert summary["n_turns"] > 0
    for table in ("turns", "stats", "lineage"):
        assert snapshots(os.path.join(cfg["output_root"], table)), table

    cfg["sink_format"] = "bogus"
    with pytest.raises(ValueError, match="sink_format"):
        run_quality_filter(spark, cfg)
