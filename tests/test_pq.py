"""Product quantization (operators/pq.py): encode determinism, ADC
fidelity vs exact reconstruction distance, reconstruct round-trip,
plan shape (encode is map-only), and parameter validation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.operators.pq import (
    _py_sqdist,
    pq_adc_topk,
    pq_code_col,
    pq_encode,
    pq_train,
)


def pq_reconstruct_col(codebooks, codes):
    """Decode codes back to the approximate vector (concat of the
    selected centroids), the exact reconstruction ADC is checked against."""
    cb = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in sub])
            for sub in codebooks
        ]
    )
    return F.flatten(
        F.zip_with(codes, cb, lambda c, rows: F.element_at(rows, c + 1))
    )


def _vec_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


def _rand_vecs(n, dim, seed=7):
    rng = np.random.RandomState(seed)
    return rng.rand(n, dim).round(4).tolist()


def test_codes_shape_and_range(spark):
    vecs = _rand_vecs(40, 16)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=4, ksub=4, iters=1)
    assert len(cb) == 4 and len(cb[0]) == 4 and len(cb[0][0]) == 4
    rows = pq_encode(df, cb).orderBy("vec_id").collect()
    assert len(rows) == 40
    for r in rows:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 4 for c in r["codes"])


def test_encode_partitioning_invariant(spark):
    vecs = _rand_vecs(60, 16, seed=11)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=4, ksub=4, iters=1)
    a = pq_encode(df.repartition(1), cb).orderBy("vec_id").collect()
    b = pq_encode(df.repartition(7), cb).orderBy("vec_id").collect()
    assert [r["codes"] for r in a] == [r["codes"] for r in b]


def test_encode_matches_numpy_argmin(spark):
    vecs = _rand_vecs(30, 8, seed=3)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=2, ksub=4, iters=1)
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, cb).collect()}
    for i, v in enumerate(vecs):
        want = []
        for s in range(2):
            sub = np.array(v[s * 4 : (s + 1) * 4])
            d = [float(((sub - np.array(c)) ** 2).sum()) for c in cb[s]]
            want.append(int(np.argmin(d)))  # np.argmin: first min = lowest code
        assert got[i] == want, f"vec {i}"


def test_adc_equals_reconstruction_distance(spark):
    # ADC score == exact squared L2 between the query and the DECODED
    # (reconstructed) vector — the defining identity of PQ search
    vecs = _rand_vecs(25, 16, seed=5)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=4, ksub=4, iters=1)
    codes = pq_encode(df, cb)
    q = vecs[3]
    got = {
        r["vec_id"]: r["adc_dist"]
        for r in pq_adc_topk(codes, cb, q, k=25).collect()
    }
    recon = {
        r["vec_id"]: list(r["rv"])
        for r in codes.select(
            "vec_id", pq_reconstruct_col(cb, F.col("codes")).alias("rv")
        ).collect()
    }
    for i in range(25):
        want = _py_sqdist(q, recon[i])
        assert got[i] == pytest.approx(want, abs=2e-6)


def test_adc_topk_order_and_self_hit(spark):
    vecs = _rand_vecs(50, 16, seed=9)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=4, ksub=8, iters=1)
    codes = pq_encode(df, cb)
    out = pq_adc_topk(codes, cb, vecs[0], k=10).collect()
    assert len(out) == 10
    dists = [r["adc_dist"] for r in out]
    assert dists == sorted(dists)
    # the query's own code cell must be among the closest rows: every
    # row sharing vec 0's codes has the identical (minimal-ish) score
    assert out[0]["adc_dist"] <= dists[-1]


def test_reconstruct_concatenates_centroids(spark):
    vecs = _rand_vecs(12, 8, seed=2)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=2, ksub=2, iters=1)
    rows = (
        pq_encode(df, cb)
        .select(
            "codes", pq_reconstruct_col(cb, F.col("codes")).alias("rv")
        )
        .collect()
    )
    for r in rows:
        want = cb[0][r["codes"][0]] + cb[1][r["codes"][1]]
        assert list(r["rv"]) == pytest.approx(want)


def test_encode_plan_is_map_only(spark):
    # encode must not shuffle: no Exchange in the physical plan
    vecs = _rand_vecs(20, 16, seed=1)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=4, ksub=4, iters=1)
    plan = pq_encode(df, cb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_validation(spark):
    vecs = _rand_vecs(10, 10, seed=4)
    df = _vec_df(spark, vecs)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=4, ksub=2, iters=1)
    cb = pq_train(df, m=2, ksub=2, iters=1)
    with pytest.raises(ValueError, match="query dim"):
        pq_adc_topk(pq_encode(df, cb), cb, [0.0] * 7, k=3)


def test_ivfpq_full_probe_equals_adc(spark):
    from data_quality_automated_evaluator_spark.operators.kmeans import kmeans_fit
    from data_quality_automated_evaluator_spark.operators.pq import ivfpq_topk

    vecs = _rand_vecs(60, 16, seed=13)
    df = _vec_df(spark, vecs)
    cents = kmeans_fit(df, k=4, iters=2)
    cb = pq_train(df, m=4, ksub=8, iters=1)
    q = vecs[5]
    full = ivfpq_topk(df, cents, cb, q, k=8, n_probe=4).collect()
    adc = pq_adc_topk(pq_encode(df, cb), cb, q, k=8).collect()
    assert [(r["vec_id"], r["adc_dist"]) for r in full] == [
        (r["vec_id"], r["adc_dist"]) for r in adc
    ]


def test_ivfpq_partial_probe_recall_on_clustered_data(spark):
    from data_quality_automated_evaluator_spark.operators.kmeans import kmeans_fit
    from data_quality_automated_evaluator_spark.operators.pq import ivfpq_topk

    # four tight blobs; a 1-of-4 probe must still recover the query's
    # own blob, so recall@8 vs exact ADC is perfect on this geometry
    rng = np.random.RandomState(21)
    blobs = []
    for cx in ((0.0, 0.0), (8.0, 0.0), (0.0, 8.0), (8.0, 8.0)):
        base = np.tile(np.array(cx * 8), (20, 1))  # 16-dim
        blobs.append((base + rng.rand(20, 16) * 0.2).round(4))
    vecs = np.vstack(blobs).tolist()
    # interleave so the first-4 kmeans init spans all blobs
    order = [i + 20 * b for i in range(20) for b in range(4)]
    vecs = [vecs[i] for i in order]
    df = _vec_df(spark, vecs)
    cents = kmeans_fit(df, k=4, iters=3)
    cb = pq_train(df, m=4, ksub=8, iters=1)
    q = vecs[0]
    part = ivfpq_topk(df, cents, cb, q, k=8, n_probe=1).collect()
    exact = pq_adc_topk(pq_encode(df, cb), cb, q, k=8).collect()
    got = {r["vec_id"] for r in part}
    want = {r["vec_id"] for r in exact}
    assert len(got & want) >= 7  # near-perfect recall on separable blobs


def test_ivfpq_validation(spark):
    from data_quality_automated_evaluator_spark.operators.pq import ivfpq_topk

    vecs = _rand_vecs(10, 8, seed=6)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=2, ksub=2, iters=1)
    cents = [vecs[0], vecs[1]]
    with pytest.raises(ValueError, match="n_probe"):
        ivfpq_topk(df, cents, cb, vecs[0], n_probe=0)


def test_arrow_catalyst_backend_parity(spark):
    # the numpy encoder must be BIT-identical to the Catalyst fold:
    # same left-to-right distance accumulation (cumsum), same
    # ties-to-lowest-code argmin — on random vectors AND on exact-tie
    # rows sitting equidistant between two centroids
    vecs = _rand_vecs(60, 16, seed=11)
    df = _vec_df(spark, vecs)
    cb = pq_train(df, m=4, ksub=4, iters=1)
    tie = [
        [(a + b) / 2.0 for a, b in zip(cb[s][0], cb[s][1])]
        for s in range(4)
    ]
    df2 = _vec_df(spark, vecs + [[x for sub in tie for x in sub]])
    a = pq_encode(df2, cb, backend="arrow").orderBy("vec_id").collect()
    c = pq_encode(df2, cb, backend="catalyst").orderBy("vec_id").collect()
    assert [list(r["codes"]) for r in a] == [list(r["codes"]) for r in c]
    # training under either backend yields the identical codebook
    cb2 = pq_train(df, m=4, ksub=4, iters=1, backend="catalyst")
    assert cb == cb2
