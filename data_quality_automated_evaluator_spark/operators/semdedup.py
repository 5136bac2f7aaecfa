"""SemDeDup-style semantic deduplication: cluster, then dedup WITHIN
clusters only.

The published recipe (Abbas et al., "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", arXiv:2303.09540): k-means
the embedding space, then inside each cluster mark every item whose
cosine similarity to another cluster member exceeds ``tau`` as a
semantic duplicate, keeping one representative. Clustering is what makes
this tractable — all-pairs cosine is O(n²) over the corpus, but
O(sum c_i²) over clusters whose size the k choice controls (the paper
uses k ≈ 10⁴-10⁵ so clusters stay in the thousands).

Spark shape:
- **assignment** is the pure-Catalyst broadcast expression from
  ``operators/kmeans.kmeans_assign_col`` — map-only, zero Python;
- **within-cluster dedup** is ONE ``applyInPandas`` per cell: the
  cluster's normalized vectors arrive as a single Arrow batch and the
  full similarity matrix is one numpy float64 matmul (vectorized
  O(c²·d) flops) instead of an interpreted per-pair expression — the
  grouped-map contract matches the paper's per-cluster pass exactly.
  Keep rule: an item is DROPPED iff some lower-id member of the same
  cluster is more similar than ``tau`` (lowest id survives —
  deterministic, order-free, and expressible in SQL for the oracle).

Scale notes (100 TB):
- the only shuffle is the hash exchange on ``cell`` feeding the grouped
  map — same cost class as any groupBy; k must be >> cores for even
  spread (at sandbox k=4 the stage is 4 tasks; production k is 10⁴+);
- a pathologically hot cluster is bounded operationally by the k choice
  (SemDeDup's own premise); for safety the grouped map refuses clusters
  above ``max_cluster_rows`` with a pointed error instead of OOMing the
  executor;
- vectors are dropped from the output (ids + sims only), so nothing
  wide crosses the second shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kmeans import kmeans_assign_col

__all__ = ["semantic_dedup_dropped"]


def semantic_dedup_dropped(
    df: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_rows: int = 2_000_000,
) -> DataFrame:
    """Rows ``(cell, vec_id, max_sim)`` for every DROPPED item: its
    cluster, its id, and its max cosine to any lower-id cluster member
    (only rows with ``max_sim > tau`` are duplicates, hence emitted).
    """
    v = F.col(vec_col).cast("array<double>")
    assigned = df.select(
        F.col(id_col).alias("vec_id"), v.alias("_v")
    ).withColumn("cell", kmeans_assign_col(centroids, F.col("_v")))

    def _dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_cluster_rows:
            raise ValueError(
                f"semantic_dedup: cluster of {n} rows exceeds "
                f"max_cluster_rows={max_cluster_rows}; raise k so clusters "
                "shrink (SemDeDup's premise) or raise the cap explicitly"
            )
        if n < 2:
            return pd.DataFrame(
                {"cell": pd.Series(dtype="int32"),
                 "vec_id": pd.Series(dtype="int64"),
                 "max_sim": pd.Series(dtype="float64")}
            )
        pdf = pdf.sort_values("vec_id", kind="mergesort")
        mat = np.asarray(list(pdf["_v"]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors: sim 0 to everything
        unit = mat / norms[:, None]
        sims = unit @ unit.T
        # max over strictly-lower-id members: lower triangle, excl. diag
        low = np.tril(sims, k=-1)
        low[np.triu_indices(n)] = -np.inf
        max_sim = low.max(axis=1)
        keep = max_sim > tau
        return pd.DataFrame(
            {
                "cell": pdf["cell"].to_numpy()[keep],
                "vec_id": pdf["vec_id"].to_numpy()[keep],
                "max_sim": max_sim[keep],
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        _dedup_cell, schema="cell int, vec_id long, max_sim double"
    )


