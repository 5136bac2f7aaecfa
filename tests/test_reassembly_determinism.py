from __future__ import annotations

import pandas as pd
import pytest

from data_quality_automated_evaluator_spark.pipeline.quality import run_quality_pipeline
from data_quality_automated_evaluator_spark.testdata import generate_transcripts


@pytest.fixture(scope="module")
def pdf():
    return generate_transcripts(n_convs=250, seed=5)


def test_pipeline_permutation_invariance(spark, pdf):
    """north_rule: stable (conv_id, turn_idx) ordering — the pipeline's
    outputs must not depend on input row order or partitioning."""
    a = run_quality_pipeline(spark.createDataFrame(pdf))
    shuffled = pdf.sample(frac=1.0, random_state=99).reset_index(drop=True)
    b = run_quality_pipeline(spark.createDataFrame(shuffled).repartition(13))

    cols = ["conv_id", "turn_idx", "keep", "text_scrubbed", "lang"]
    pa = a.select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pb = b.select(cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for c in cols:
        assert (pa[c].fillna("@") == pb[c].fillna("@")).all(), c


def test_ppl_batch_boundary_invariance(spark, pdf):
    """Arrow batch boundaries must not affect scores (the perplexity
    kernel processes a concatenated buffer — separator masking must make
    batch size invisible)."""
    from data_quality_automated_evaluator_spark.functions.perplexity import perplexity_batch

    texts = pdf["text"].head(1000)
    whole = perplexity_batch(texts)
    split = pd.concat([
        perplexity_batch(texts.iloc[:333]),
        perplexity_batch(texts.iloc[333:700]),
        perplexity_batch(texts.iloc[700:]),
    ])
    assert (whole.values == split.values).all()
