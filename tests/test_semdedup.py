"""SemDeDup operator: keep/drop semantics, caps, degenerate vectors."""
from __future__ import annotations

import pytest

from data_quality_automated_evaluator_spark.operators.kmeans import kmeans_fit
from data_quality_automated_evaluator_spark.operators.semdedup import semantic_dedup_dropped


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_keeps_lowest_id(spark):
    # two identical pairs + one unique vector, all in one tiny space
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0]),     # dup of 1 → dropped
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.999, 0.01]),  # near-dup of 3 → dropped
        (5, [0.0, 0.0, 1.0]),     # unique → kept
    ]
    df = _emb(spark, rows)
    out = semantic_dedup_dropped(df, kmeans_fit(df, k=1, iters=1), tau=0.95).collect()
    sims = {r.vec_id: r.max_sim for r in out}
    assert set(sims) == {2, 4}
    assert sims[2] == pytest.approx(1.0)
    assert sims[4] > 0.95


def test_semantic_dedup_respects_cluster_boundary(spark):
    # identical vectors that land in DIFFERENT clusters are NOT compared:
    # centroids fixed far apart, vectors assigned by proximity
    rows = [
        (1, [10.0, 0.0]),
        (2, [-10.0, 0.0]),
        (3, [10.0, 0.0]),   # same cluster as 1 → dropped
        (4, [-10.0, 0.0]),  # same cluster as 2 → dropped
    ]
    centroids = [[10.0, 0.0], [-10.0, 0.0]]
    dropped = semantic_dedup_dropped(
        _emb(spark, rows), centroids, tau=0.9
    ).collect()
    assert sorted(r.vec_id for r in dropped) == [3, 4]
    cells = {r.vec_id: r.cell for r in dropped}
    assert cells[3] != cells[4]


def test_semantic_dedup_zero_vectors_never_match(spark):
    rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0])]
    dropped = semantic_dedup_dropped(
        _emb(spark, rows), [[0.0, 0.0]], tau=0.5
    ).collect()
    assert dropped == []  # zero-norm vectors have sim 0 to everything


def test_semantic_dedup_cluster_cap_raises(spark):
    rows = [(i, [1.0, 0.0]) for i in range(10)]
    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup_dropped(
            _emb(spark, rows), [[1.0, 0.0]], tau=0.9, max_cluster_rows=5
        ).collect()


def test_semantic_dedup_singleton_clusters(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = _emb(spark, rows)
    assert semantic_dedup_dropped(df, kmeans_fit(df, k=2, iters=1), tau=0.5).count() == 0
