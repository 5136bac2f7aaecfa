"""Product quantization (PQ) for embedding columns — the memory-side
scale path for similarity search.

At 10^12-row scale the float vectors themselves are the cost: a 64-dim
float32 embedding is 256 bytes/row, while an 8-subspace PQ code is 8
bytes/row — a 32x compression that turns a 100 TB vector corpus into a
~3 TB code table that fits hot storage and shuffles cheaply.  This is
the standard IVF-PQ decomposition (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011): split each vector into ``m``
contiguous subvectors, vector-quantize each subspace independently with
a tiny k-means codebook (``ksub`` centroids), and answer queries with
**asymmetric distance computation** (ADC): the query stays exact, each
database vector is approximated by its per-subspace centroids, and the
query-to-code distance is a sum of ``m`` table lookups.

Spark-first shape — map-only and embarrassingly parallel throughout;
encoding defaults to an Arrow-batched numpy UDF whose arithmetic is
bit-identical to the pure-Catalyst expression twin (the Catalyst
higher-order folds evaluate interpreted, so numpy is ~10x faster at
identical results — see ``pq_code_col_arrow``):

* **train** (`pq_train`): one grouped Lloyd loop over ALL subspaces —
  broadcast-assign via `pq_code_col`, re-aggregate means grouped by
  (subspace, cell, pos), O(m x ksub x dsub) driver collect per round
  (same math as ``operators/kmeans.kmeans_fit`` per subspace, but one
  Spark job per iteration instead of 2·m sequential tiny jobs).
  The codebook is metadata-sized (m * ksub * dsub doubles).
* **encode** (`pq_code_col`): the winning code per subspace is
  ``array_min`` over ``struct(squared_distance, code)`` on the sliced
  subvector — whole-stage codegen, map-only, embarrassingly parallel.
  Ties break to the lowest code id (struct ordering), matching the
  k-means assignment convention.
* **search** (`pq_adc_topk`): the m x ksub distance table is computed
  ON THE DRIVER from the (tiny) codebook and embedded as a literal
  2-D array; the per-row score is ``zip_with(codes, table, (c, row) ->
  element_at(row, c + 1))`` folded left-to-right — a scan +
  TakeOrderedAndProject, no join, no shuffle beyond the bounded top-k.

Determinism / oracle parity: centroids are rounded to 6 decimals
inside the engine exactly like ``kmeans_fit`` (round-half-away-from-
zero in both Spark and DuckDB), the driver-side distance table is
accumulated strictly left-to-right (plain Python loop) to match both
Spark's ``F.aggregate`` fold and DuckDB's ``list_sum``, and the final
ranking orders by (score rounded to 6dp, id) so a sub-rounding
disagreement between engines can never flip the reported top-k.
``pq_oracle_sql`` generates the CTE-unrolled DuckDB twin (init ->
assign -> scaffolded means per subspace, then encode / ADC) the same
way the ``kmeans_embeddings_2iter`` oracle is written.

Reference scope note: the reference evaluator (handle_data.py /
evaluate.py) has no vector path at all; this module is part of the
LLM-training-data extension surface alongside operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kmeans import _sq_dist, kmeans_assign_col

__all__ = [
    "pq_train",
    "pq_code_col",
    "pq_code_col_arrow",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
    "pq_oracle_sql",
    "pq_adc_oracle_sql",
]


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot infer vector dim from column {vec_col!r}")
    return int(row["d"])


def pq_train(
    df: DataFrame,
    m: int = 8,
    ksub: int = 8,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    backend: str = "arrow",
) -> list[list[list[float]]]:
    """Train per-subspace codebooks; returns ``codebooks[s][j]`` = the
    6dp-rounded centroid (length dim/m) for code ``j`` of subspace
    ``s``.  Init per subspace is the first ``ksub`` subvectors in
    ``id_col`` order (same deterministic convention as kmeans_fit);
    empty codes keep a zero centroid at their index.  ``backend``
    selects the assignment implementation (see :func:`pq_encode`);
    both yield identical codebooks."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    v = F.col(vec_col).cast("array<double>")
    # All m subspaces train in ONE grouped Lloyd loop: one bounded init
    # collect (the first ksub full vectors, sliced on the driver) and
    # one Spark job per iteration grouping by (subspace, cell, pos) —
    # per-subspace kmeans_fit calls ran 2·m sequential tiny jobs whose
    # scheduling overhead dominated (9.8 s -> ~3 s on the sf0.1 bench).
    # The math is identical: same init rows, same argmin assignment
    # (pq_code_col == kmeans_assign_col per subspace), same 6dp-rounded
    # per-(cell, pos) means, empty cells keep zero centroids in place.
    init_rows = (
        df.orderBy(id_col)
        .limit(ksub)
        .select(F.transform(v, lambda x: F.round(x, 6)).alias("c"))
        .collect()
    )
    codebooks: list[list[list[float]]] = [
        [list(r["c"])[s * dsub : (s + 1) * dsub] for r in init_rows]
        for s in range(m)
    ]
    base = df.select(v.alias("_v"))
    for _ in range(iters):
        if backend == "arrow":
            code = pq_code_col_arrow(codebooks)(F.col("_v"))
        elif backend == "catalyst":
            code = pq_code_col(codebooks, F.col("_v"))
        else:
            raise ValueError(f"unknown backend {backend!r}")
        assigned = base.withColumn("_codes", code)
        stats = (
            assigned.select("_codes", F.posexplode("_v").alias("pos", "x"))
            .groupBy(
                (F.col("pos") / dsub).cast("int").alias("s"),
                F.element_at(
                    "_codes", ((F.col("pos") / dsub).cast("int") + 1)
                ).alias("cell"),
                (F.col("pos") % dsub).alias("subpos"),
            )
            .agg(F.round(F.avg("x"), 6).alias("c"))
        )
        rows = stats.collect()  # bounded: m * ksub * dsub rows
        codebooks = [
            [[0.0] * dsub for _ in range(ksub)] for _ in range(m)
        ]
        for r in rows:
            codebooks[r["s"]][r["cell"]][r["subpos"]] = r["c"]
    return codebooks


def pq_code_col_arrow(codebooks: list[list[list[float]]]):
    """Arrow-vectorized twin of :func:`pq_code_col`: a pandas UDF whose
    numpy distance sums are BIT-IDENTICAL to the Catalyst fold.

    The higher-order ``aggregate``/``zip_with`` expressions in
    :func:`pq_code_col` evaluate interpreted (CodegenFallback), so each
    of the m·ksub per-row distance folds pays per-element lambda
    dispatch — ~2.6 s for 2000x64 floats at sf0.1.  numpy does the same
    arithmetic in C an order of magnitude faster.  Parity is exact, not
    approximate: ``cumsum`` accumulates strictly left-to-right (the
    fold's order, and ``0.0 + x0 == x0``), elementwise ``(a-b)*(a-b)``
    is the same IEEE op, and ``argmin`` takes the FIRST minimal index —
    the fold's ties-to-lowest-code rule.  Pinned against the Catalyst
    backend by tests/test_pq.py."""
    import numpy as np
    import pandas as pd

    cb = np.asarray(codebooks, dtype=np.float64)  # m x ksub x dsub
    m, ksub, dsub = cb.shape

    def _codes(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        x = np.asarray(
            [np.asarray(row, dtype=np.float64) for row in v]
        )
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for s in range(m):  # per-subspace loop bounds the temp to n*ksub*dsub
            d = x[:, s * dsub : (s + 1) * dsub][:, None, :] - cb[s][None, :, :]
            dist = np.cumsum(d * d, axis=-1)[..., -1]
            out[:, s] = dist.argmin(axis=1)
        return pd.Series(list(out))

    return F.pandas_udf(_codes, returnType="array<int>")


def pq_code_col(codebooks: list[list[list[float]]], v: Column) -> Column:
    """array<int> of length m: the nearest-centroid code per subspace
    (squared-L2, ties to the lowest code id). Pure codegen expression."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vd = v.cast("array<double>")
    codes = []
    for s in range(m):
        sub = F.slice(vd, s * dsub + 1, dsub)
        options = F.array(
            *[
                F.struct(_sq_dist(c, sub).alias("d"), F.lit(j).alias("c"))
                for j, c in enumerate(codebooks[s])
            ]
        )
        codes.append(F.array_min(options)["c"])
    return F.array(*codes)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "codes",
    backend: str = "arrow",
) -> DataFrame:
    """(id, codes array<int>) for every row — the compressed corpus.

    ``backend='arrow'`` (default) encodes with the numpy pandas UDF;
    ``'catalyst'`` uses the pure-expression path.  Both produce
    bit-identical codes (tests/test_pq.py pins it); arrow is ~10x
    faster because the Catalyst higher-order folds run interpreted."""
    if backend == "arrow":
        code = pq_code_col_arrow(codebooks)(F.col(vec_col))
    elif backend == "catalyst":
        code = pq_code_col(codebooks, F.col(vec_col))
    else:
        raise ValueError(f"unknown backend {backend!r}")
    return df.select(F.col(id_col), code.alias(codes_col))


def _py_sqdist(q: list[float], c: list[float]) -> float:
    # strict left-to-right accumulation: matches Spark's F.aggregate
    # fold and DuckDB's list_sum, so the literal distance table is the
    # same double either engine would compute
    acc = 0.0
    for a, b in zip(q, c):
        d = a - b
        acc += d * d
    return acc


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    codes_col: str = "codes",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k by ADC: score = sum_s table[s][code_s], where
    table[s][j] = ||query_s - codebook[s][j]||^2 is computed on the
    driver (m x ksub doubles) and rides the plan as a literal.

    Returns (id, adc_dist rounded to 6dp), ascending; ties and
    sub-rounding engine noise break on (rounded score, id)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query) != m * dsub:
        raise ValueError(f"query dim {len(query)} != {m * dsub}")
    table = [
        [
            _py_sqdist(query[s * dsub : (s + 1) * dsub], c)
            for c in codebooks[s]
        ]
        for s in range(m)
    ]
    dt = F.array(*[F.array(*[F.lit(float(d)) for d in row]) for row in table])
    score = F.aggregate(
        F.zip_with(F.col(codes_col), dt, lambda c, row: F.element_at(row, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        codes_df.select(
            F.col(id_col), F.round(score, 6).alias("adc_dist")
        )
        .orderBy(F.asc("adc_dist"), F.col(id_col))
        .limit(k)
    )


def ivfpq_topk(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    backend: str = "arrow",
) -> DataFrame:
    """IVF-PQ: coarse-quantize the corpus into IVF cells (codegen
    assignment, same pure-Catalyst argmin as kmeans), probe only the
    ``n_probe`` cells nearest the query, and rank the survivors by ADC.

    The FAISS-style scale composition: the cell filter prunes the scan
    (on a cell-partitioned store it becomes partition pruning), PQ codes
    shrink what's scored
    32x, and the driver only ever holds the centroid/codebook metadata.
    With ``n_probe = len(centroids)`` this is exactly ``pq_adc_topk``
    (pinned by tests/test_pq.py)."""
    if not 1 <= n_probe <= len(centroids):
        raise ValueError(f"n_probe must be in [1, {len(centroids)}]")
    order = sorted(
        (( _py_sqdist(query, c), i) for i, c in enumerate(centroids)),
    )
    probed = [i for _, i in order[:n_probe]]
    cell = kmeans_assign_col(centroids, F.col(vec_col).cast("array<double>"))
    pruned = df.withColumn("_ivf_cell", cell).filter(
        F.col("_ivf_cell").isin(probed)
    )
    codes = pq_encode(
        pruned, codebooks, vec_col=vec_col, id_col=id_col, backend=backend
    )
    return pq_adc_topk(codes, codebooks, query, k=k, id_col=id_col)


# ---------------------------------------------------------------------------
# DuckDB oracle twins (generated, CTE-unrolled like the kmeans oracle)
# ---------------------------------------------------------------------------


def _subspace_ctes(table: str, m: int, ksub: int, dsub: int, dim: int) -> str:
    """CTEs that retrain the per-subspace codebooks (1 Lloyd round,
    identical init / rounding / tie-break to pq_train(iters=1)) and
    encode every vector. Emits enc_{s} CTEs with (vec_id, code)."""
    parts = [
        f"vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM {table})"
    ]
    for s in range(m):
        lo = s * dsub + 1
        hi = lo + dsub
        rng = f"range(1, {dsub + 1})"
        parts.append(
            f"sub{s} AS (SELECT vec_id, "
            f"list_transform(range({lo}, {hi}), i -> v[i]) AS sv FROM vecs)"
        )
        parts.append(
            f"c0_{s} AS (SELECT CAST(vec_id AS INT) AS code, "
            f"list_transform(sv, x -> round(x, 6)) AS c "
            f"FROM sub{s} WHERE vec_id < {ksub})"
        )
        parts.append(
            f"a1_{s} AS (SELECT vec_id, sv, code, row_number() OVER ("
            f"PARTITION BY vec_id ORDER BY list_sum(list_transform({rng}, "
            f"i -> (sv[i] - c.c[i]) * (sv[i] - c.c[i]))), code) AS rk "
            f"FROM sub{s}, c0_{s} c)"
        )
        parts.append(
            f"m1_{s} AS (SELECT vec_id, sv, code FROM a1_{s} WHERE rk = 1)"
        )
        parts.append(
            f"means_{s} AS (SELECT code, i.i AS pos, round(avg(sv[i.i]), 6)"
            f" AS mu FROM m1_{s}, (SELECT UNNEST({rng}) AS i) i "
            f"GROUP BY code, i.i)"
        )
        # scaffold: every (code, pos) cell exists; empty codes -> 0.0,
        # matching kmeans_fit's zero centroid AT THE INDEX
        parts.append(
            f"c1_{s} AS (SELECT g.code, "
            f"list(coalesce(mu, 0.0) ORDER BY g.pos) AS c FROM "
            f"(SELECT cc.code, pp.i AS pos FROM "
            f"(SELECT UNNEST(range({ksub})) AS code) cc, "
            f"(SELECT UNNEST({rng}) AS i) pp) g "
            f"LEFT JOIN means_{s} mm ON mm.code = g.code AND mm.pos = g.pos "
            f"GROUP BY g.code)"
        )
        parts.append(
            f"enc_{s} AS (SELECT vec_id, code FROM (SELECT vec_id, code, "
            f"row_number() OVER (PARTITION BY vec_id ORDER BY "
            f"list_sum(list_transform({rng}, "
            f"i -> (sv[i] - c.c[i]) * (sv[i] - c.c[i]))), code) AS rk "
            f"FROM sub{s}, c1_{s} c) WHERE rk = 1)"
        )
    return ",\n".join(parts)


def pq_oracle_sql(table: str, m: int = 8, ksub: int = 8, dim: int = 64) -> str:
    """DuckDB twin of pq_train(iters=1) + pq_encode: (vec_id,
    code_0..code_{m-1})."""
    dsub = dim // m
    ctes = _subspace_ctes(table, m, ksub, dsub, dim)
    cols = ", ".join(
        f"CAST(enc_{s}.code AS INT) AS code_{s}" for s in range(m)
    )
    joins = " ".join(
        f"JOIN enc_{s} ON enc_{s}.vec_id = enc_0.vec_id"
        for s in range(1, m)
    )
    return (
        f"WITH {ctes} "
        f"SELECT enc_0.vec_id AS vec_id, {cols} FROM enc_0 {joins} "
        f"ORDER BY vec_id"
    )


def pq_adc_oracle_sql(
    table: str,
    query_vec_id: int,
    k: int = 10,
    m: int = 8,
    ksub: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB twin of the full PQ chain ending in pq_adc_topk, with the
    query vector taken from the corpus row ``query_vec_id`` (so both
    engines read the identical doubles from parquet)."""
    dsub = dim // m
    ctes = _subspace_ctes(table, m, ksub, dsub, dim)
    dt_parts = []
    for s in range(m):
        lo = s * dsub + 1
        hi = lo + dsub
        rng = f"range(1, {dsub + 1})"
        dt_parts.append(
            f"dt_{s} AS (SELECT c1.code, list_sum(list_transform({rng}, "
            f"i -> (q.qs[i] - c1.c[i]) * (q.qs[i] - c1.c[i]))) AS d "
            f"FROM c1_{s} c1, (SELECT list_transform(range({lo}, {hi}), "
            f"i -> v[i]) AS qs FROM vecs WHERE vec_id = {query_vec_id}) q)"
        )
    score = " + ".join(f"dt_{s}.d" for s in range(m))
    joins = " ".join(
        f"JOIN dt_{s} ON dt_{s}.code = enc_{s}.code" for s in range(m)
    )
    enc_joins = " ".join(
        f"JOIN enc_{s} ON enc_{s}.vec_id = enc_0.vec_id"
        for s in range(1, m)
    )
    return (
        f"WITH {ctes},\n{','.join(dt_parts)} "
        f"SELECT enc_0.vec_id AS vec_id, round({score}, 6) AS adc_dist "
        f"FROM enc_0 {enc_joins} {joins} "
        f"ORDER BY adc_dist, vec_id LIMIT {k}"
    )
