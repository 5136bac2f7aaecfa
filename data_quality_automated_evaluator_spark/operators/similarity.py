"""Similarity search over embedding columns (array<float>).

- **Brute-force cosine top-k** (the correctness baseline): JVM-side
  ``F.zip_with`` + ``F.aggregate`` dot products — no Python in the loop,
  whole-stage codegen, embarrassingly parallel scan → top-k via
  orderBy+limit (Spark plans TakeOrderedAndProject — no full sort).
- **LSH-bucketed ANN** (the scale path): deterministic random-hyperplane
  signs → bucket id; queries probe only their bucket (plus optional
  multi-probe neighbors). Recall measured against brute force in tests.
- **Pairwise near-duplicate embeddings**: all pairs with cosine ≥ t
  via bucket-join prefilter, exact verification.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )


def cosine_col(a, b):
    """Cosine similarity Column between two array<float/double> columns."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for one query vector (ties broken by id).

    The query rides the plan as a literal array (no join, no broadcast
    needed); the scan is a single map stage + TakeOrderedAndProject.
    """
    qlit = F.array(*[F.lit(float(x)) for x in query])
    sim = cosine_col(F.col(vec_col).cast("array<double>"), qlit)
    return (
        df.select(F.col(id_col), sim.alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def multi_query_topk(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors in one pass.

    The query set rides as a broadcast cross join (tiny build side, no
    shuffle of the big table); ranking is a window partitioned by
    query_id. The ``rank <= k`` filter is recognized by Spark's
    InferWindowGroupLimit (plan-verified: a *Partial* WindowGroupLimit
    runs BEFORE the exchange), so each map task emits at most k rows per
    query and the shuffle carries ≤ partitions × |queries| × k rows —
    never the full corpus. One scan of the corpus regardless of
    |queries|. Returns (query_id, vec_id, cosine, rank ≤ k).
    """
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in v]) for qid, v in queries],
        "query_id int, qvec array<double>",
    )
    sim = cosine_col(F.col(vec_col).cast("array<double>"), F.col("qvec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        df.crossJoin(F.broadcast(qdf))
        .select("query_id", F.col(id_col), sim.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_col(vec_col, planes: np.ndarray):
    """Bucket id Column: sign bits against n fixed hyperplanes packed into
    a long. Pure Catalyst (aggregate over array literals)."""
    bits = []
    for i, p in enumerate(planes):
        plit = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(_dot(vec_col, plit) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    LSH-bucket equijoin prefilter (pairs in the same bucket), exact
    cosine verification — near-dups at 0.95+ collide with high
    probability on 8 planes; raise multiband variants for recall at
    lower thresholds."""
    v = F.col(vec_col).cast("array<double>")
    bucketed = df.select(
        F.col(id_col).alias("_id"), v.alias("_v"),
        lsh_bucket_col(v, _hyperplanes_for(df, vec_col, n_planes, seed)).alias("_bucket"),
    )
    a = bucketed.select(F.col("_id").alias("id_a"), F.col("_v").alias("va"), "_bucket")
    b = bucketed.select(F.col("_id").alias("id_b"), F.col("_v").alias("vb"), "_bucket")
    return (
        a.join(b, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .distinct()
    )


def _hyperplanes_for(df: DataFrame, vec_col: str, n_planes: int, seed: int) -> np.ndarray:
    dim = len(df.select(vec_col).first()[0])
    return _hyperplanes(dim, n_planes, seed)


# exact_cosine_pairs materializes the whole table on the driver; above
# this many vectors the caller must use embedding_dup_pairs / IVF instead.
EXACT_PAIRS_MAX_ROWS = 200_000


def exact_cosine_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = EXACT_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, broadcast-matmul formulation.

    The naive self-join evaluates an interpreted zip_with/aggregate per
    PAIR — O(n²·d) Catalyst expression work (measured 139 s on 2 000
    vectors). Here the normalized matrix is broadcast once (a
    broadcast-hash-join build side in spirit: must fit in executor
    memory, which is exactly the regime where an exact baseline makes
    sense — the scale path is :func:`embedding_dup_pairs`), and each
    Arrow batch of the probe side does ONE numpy matmul, emitting only
    the (id_a < id_b, cos ≥ t) survivors. Cost: O(n²·d) SIMD flops, no
    pair-wise shuffle at all.
    """
    # single-pass size guard: collect at most max_rows+1 rows — one extra
    # row proves the cap is exceeded without a separate count() scan
    pdf = (
        df.select(
            F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
        )
        .limit(max_rows + 1)
        .toPandas()
    )
    if len(pdf) > max_rows:
        raise ValueError(
            f"exact_cosine_pairs is the small-table exact baseline: input "
            f"exceeds max_rows={max_rows}; collecting it would OOM the "
            f"driver. Use embedding_dup_pairs (LSH prefilter) or the IVF ANN "
            f"path for large tables."
        )
    ids = pdf["_id"].to_numpy(dtype=np.int64)
    M = np.asarray(pdf["_v"].tolist(), dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    norms[norms == 0] = 1.0
    Mn = M / norms[:, None]
    bcast = df.sparkSession.sparkContext.broadcast((ids, Mn))
    thr = float(threshold)

    def gen(batches):
        ids_b, Mn_b = bcast.value
        for pin in batches:
            X = np.asarray(pin["_v"].tolist(), dtype=np.float64)
            xn = np.linalg.norm(X, axis=1)
            xn[xn == 0] = 1.0
            S = (X / xn[:, None]) @ Mn_b.T
            rid = pin["_id"].to_numpy(dtype=np.int64)
            ii, jj = np.nonzero(S >= thr)
            keep = rid[ii] < ids_b[jj]
            ii, jj = ii[keep], jj[keep]
            yield pd.DataFrame(
                {"id_a": rid[ii], "id_b": ids_b[jj], "cosine": S[ii, jj]}
            )

    probe = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )
    return probe.mapInPandas(gen, schema="id_a long, id_b long, cosine double")


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path
# --------------------------------------------------------------------------

def train_ivf_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means centroids from a deterministic sample.

    The sample (``orderBy(id).limit(sample_rows)``) is collected to the
    driver and Lloyd-iterated in numpy — centroid training is O(sample ×
    dim × k), never a cluster job. Deterministic: fixed seed, fixed
    sample order. Returns unit-norm centroids, shape (k, dim)."""
    rows = (
        df.orderBy(id_col).limit(sample_rows)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .toPandas()["v"].tolist()
    )
    X = np.asarray(rows, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    X = X / norms
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                s = members.sum(axis=0)
                n = np.linalg.norm(s)
                if n > 0:
                    C[c] = s / n
    return C


def ivf_cell_udf(centroids: np.ndarray):
    """Arrow-batched cell assignment: argmax cosine against the (small)
    centroid matrix. One matmul per batch — no per-row Python."""
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return pd.Series(np.argmax((X / norms) @ C.T, axis=1).astype(np.int32))

    return _assign


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding", cell_col: str = "ivf_cell") -> DataFrame:
    """Add the IVF cell column. At scale this runs ONCE at ingest and the
    table is written ``partitionedBy(ivf_cell)`` — a probe then prunes to
    n_probe partitions at the source instead of scanning."""
    return df.withColumn(
        cell_col, ivf_cell_udf(centroids)(F.col(vec_col).cast("array<double>"))
    )


def ivf_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_probe: int = 3,
    centroids: np.ndarray | None = None,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via IVF: score only rows whose cell is among the query's
    ``n_probe`` nearest centroids, then exact-cosine rank.

    Plan: scan → ArrowEvalPython(cell) → Filter(cell IN probes) → map
    cosine → TakeOrderedAndProject. With a pre-assigned ``ivf_cell``
    partition column the ArrowEvalPython disappears and the filter
    becomes partition pruning (touch n_probe/k of the data)."""
    C = centroids if centroids is not None else train_ivf_centroids(
        df, n_centroids=n_centroids, vec_col=vec_col, id_col=id_col, seed=seed
    )
    q = np.asarray(query, dtype=np.float64)
    qn = np.linalg.norm(q)
    probes = np.argsort(-(C @ (q / (qn or 1.0))))[:n_probe].tolist()
    cells = ivf_assign(df, C, vec_col=vec_col)
    qlit = F.array(*[F.lit(float(x)) for x in q])
    v = F.col(vec_col).cast("array<double>")
    return (
        cells.filter(F.col("ivf_cell").isin(probes))
        .select(F.col(id_col), cosine_col(v, qlit).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )
