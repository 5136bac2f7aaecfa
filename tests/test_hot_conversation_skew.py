"""Hot-key skew: one conversation at ~400x the median size must flow
through the salted two-phase aggregation and the full pipeline with
exact results (SURVEY §7 step 5)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from data_quality_automated_evaluator_spark.pipeline.features import (
    salted_conversation_stats,
)
from data_quality_automated_evaluator_spark.pipeline.oracle_sql import keep_flags_oracle_sql
from data_quality_automated_evaluator_spark.pipeline.quality import (
    labels_frame,
    run_quality_pipeline,
)
from data_quality_automated_evaluator_spark.testdata import generate_transcripts

HOT_TURNS = 20_000


@pytest.fixture(scope="module")
def skewed(spark):
    base = generate_transcripts(n_convs=500, seed=13)
    rng = np.random.default_rng(99)
    ts0 = pd.Timestamp("2024-03-01 00:00:00")
    hot = pd.DataFrame(
        {
            "conv_id": "conv_hot",
            "turn_idx": np.arange(HOT_TURNS, dtype=np.int32),
            "role": np.where(np.arange(HOT_TURNS) % 2 == 0, "user", "assistant"),
            "text": [
                f"turn {i} about the data pipeline and the quality rules"
                for i in range(HOT_TURNS)
            ],
            "tool": None,
            "ts": ts0 + pd.to_timedelta(rng.integers(0, 86_400, HOT_TURNS), unit="s"),
        }
    )
    pdf = pd.concat([base, hot], ignore_index=True)
    # shuffle rows so the hot conversation is scattered over input splits
    pdf = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    return pdf, spark.createDataFrame(pdf).repartition(16)


def test_salted_stats_exact_under_skew(spark, skewed):
    pdf, df = skewed
    got = salted_conversation_stats(df).toPandas().set_index("conv_id")
    assert got.loc["conv_hot", "n_turns"] == HOT_TURNS
    exp_chars = int(pdf.loc[pdf["conv_id"] == "conv_hot", "text"].str.len().sum())
    assert got.loc["conv_hot", "total_chars"] == exp_chars
    # every conversation exact, not just the hot one
    exp_n = pdf.groupby("conv_id").size()
    assert (got["n_turns"].sort_index() == exp_n.sort_index()).all()
    # n_roles is EXACT (set-merge across salt buckets), not a per-bucket
    # lower bound: the hot conv alternates user/assistant → exactly 2,
    # and every conversation matches pandas nunique
    assert got.loc["conv_hot", "n_roles"] == 2
    exp_roles = pdf.groupby("conv_id")["role"].nunique()
    assert (got["n_roles"].sort_index() == exp_roles.sort_index()).all()


def test_pipeline_labels_exact_under_skew(spark, skewed, tmp_path):
    pdf, df = skewed
    got = (
        labels_frame(run_quality_pipeline(df))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    path = str(tmp_path / "skewed.parquet")
    pdf.to_parquet(path, index=False)
    exp = duckdb.sql(keep_flags_oracle_sql(path)).df()
    assert len(got) == len(exp) == len(pdf)
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    agree = (got["keep"].values == exp["keep"].values).mean()
    assert agree >= 0.999, f"keep agreement {agree}"
    # the hot conversation's own labels are exact
    hg = got[got["conv_id"] == "conv_hot"]
    he = exp[exp["conv_id"] == "conv_hot"]
    assert (hg["keep"].values == he["keep"].values).all()
