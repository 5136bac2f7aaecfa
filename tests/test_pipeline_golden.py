"""Golden gate (BASELINE north_rule): Spark quality pipeline vs the DuckDB
SQL oracle (``keep_flags_oracle_sql``) on the deterministic transcripts
fixture — keep/drop F1 ≥ 0.99, per-rule agreement, and byte-exact
scrubbed text under stable (conv_id, turn_idx) ordering.

The oracle re-derives every feature, the langid model and the bigram
perplexity model in SQL, so it shares no scoring code with Spark."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from data_quality_automated_evaluator_spark.functions.scrub import scrub_batch
from data_quality_automated_evaluator_spark.pipeline.oracle_sql import keep_flags_oracle_sql
from data_quality_automated_evaluator_spark.pipeline.quality import run_quality_pipeline
from data_quality_automated_evaluator_spark.pipeline.rules import RULE_NAMES
from data_quality_automated_evaluator_spark.testdata import generate_transcripts

N_CONVS = 800  # ~few thousand turns — fast but covers every text kind
KEYS = ["conv_id", "turn_idx"]


def f1_score(y_true: np.ndarray, y_pred: np.ndarray) -> float:
    """F1 of the keep label (positive class = keep)."""
    tp = int((y_true & y_pred).sum())
    fp = int((~y_true & y_pred).sum())
    fn = int((y_true & ~y_pred).sum())
    if tp == 0:
        return 0.0
    p, r = tp / (tp + fp), tp / (tp + fn)
    return 2 * p * r / (p + r)


@pytest.fixture(scope="module")
def transcripts() -> pd.DataFrame:
    return generate_transcripts(n_convs=N_CONVS, seed=42)


@pytest.fixture(scope="module")
def spark_result(spark, transcripts):
    res = run_quality_pipeline(spark.createDataFrame(transcripts))
    return res.toPandas().sort_values(KEYS).reset_index(drop=True)


@pytest.fixture(scope="module")
def oracle_result(transcripts, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("golden") / "transcripts.parquet")
    transcripts.to_parquet(path, index=False)
    return duckdb.sql(keep_flags_oracle_sql(path)).df()


def test_fixture_covers_kinds(transcripts):
    texts = transcripts["text"]
    assert (texts.str.contains("@example.com")).any()
    assert (texts.str.len() > 8000).any()
    assert (texts == "").any()
    langs = transcripts["text"].str.contains("модель")
    assert langs.any()


def test_keep_f1(spark_result, oracle_result):
    assert len(spark_result) == len(oracle_result)
    assert (spark_result["conv_id"].values == oracle_result["conv_id"].values).all()
    assert (spark_result["turn_idx"].values == oracle_result["turn_idx"].values).all()
    want = oracle_result["keep"].to_numpy(dtype=bool)
    got = spark_result["keep"].to_numpy(dtype=bool)
    f1 = f1_score(want, got)
    exact = (got == want).mean()
    assert f1 >= 0.99, f"keep/drop F1 {f1:.5f} < 0.99 (exact agreement {exact:.5f})"


def test_rule_flags_agree(spark_result, oracle_result):
    """Stronger than F1: every individual rule flag agrees (diagnosable)."""
    for r in RULE_NAMES:
        agree = (
            spark_result[r].astype(bool).values == oracle_result[r].astype(bool).values
        )
        assert agree.mean() > 0.999, (
            f"rule {r}: {100 * (1 - agree.mean()):.3f}% disagreement; "
            f"first idx {np.nonzero(~agree)[0][:5]}"
        )


def test_scrub_byte_exact(spark_result, transcripts):
    """The written scrubbed text is ``scrub_batch`` of each turn's own text
    — no row is paired with another turn's text on the way through."""
    ordered = transcripts.sort_values(KEYS).reset_index(drop=True)
    a = spark_result["text_scrubbed"].fillna("").tolist()
    b = scrub_batch(ordered["text"]).fillna("").tolist()
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not bad, f"{len(bad)} scrub mismatches, first: {bad[:3]}"


def test_scrub_actually_scrubs(spark_result):
    joined = "\n".join(spark_result["text_scrubbed"].fillna(""))
    assert "@example.com" not in joined
    assert "<EMAIL>" in joined
    assert "<CARD>" in joined
    assert "<PHONE>" in joined
    assert "<IP>" in joined
    assert "<TOX>" in joined


def test_keep_rate_sane(oracle_result):
    rate = oracle_result["keep"].astype(bool).mean()
    assert 0.3 < rate < 0.95, f"keep rate {rate:.3f} suspicious"
