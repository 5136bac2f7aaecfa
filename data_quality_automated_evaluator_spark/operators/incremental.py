"""Incremental (cross-run) deduplication against a historical store.

The batch operators in :mod:`.dedup` answer "dedup this corpus"; a
production ingestion pipeline instead answers "dedup TODAY's increment
against everything ever ingested" — without re-scanning or re-hashing
history. Reference capability: the evaluator's checkpoint/resume notion
applied to dedup state (SURVEY §2.10); the store layout follows the
same partition-granular idempotence rules as ``pipeline/sinks.py``.

The store, :class:`ExactDedupStore`, holds one row per distinct
content digest ever seen, ``(digest, keep_id)``. An increment is
digested, deduped within-batch, probed against the store, and only
genuinely-new digests are appended.

Scale shape (10^12 docs): the store is the BIG side and is never
shuffled — it is laid out bucketed by join key (``bucket_table``:
``bucketBy(n, digest).sortBy(digest)`` through the catalog), so each
incremental join plans as a sort-merge with Exchange/Sort on the
increment side only (plan-gated in ``tests/test_incremental_dedup.py``).
Without a catalog the store is plain parquet and the join shuffles both
sides — correct everywhere, co-located when bucketed. Appends are new
files per batch (object-store friendly); digests are uniform by
construction so bucket skew cannot occur.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["ExactDedupStore"]


class ExactDedupStore:
    """Append-only store of ``(digest, keep_id)`` for exact dedup.

    ``bucket_table`` (optional): a catalog table name; when set the store
    is written ``bucketBy(n_buckets, "digest").sortBy("digest")`` so
    incremental probes are co-located (no Exchange on the store side).
    Plain-parquet mode otherwise — same semantics.
    """

    def __init__(self, root: str, bucket_table: str | None = None,
                 n_buckets: int = 16):
        self.root = root
        self.digests_dir = os.path.join(root, "digests")
        self.bucket_table = bucket_table
        self.n_buckets = n_buckets

    # -- store I/O ---------------------------------------------------------
    def _read(self, spark: SparkSession) -> DataFrame | None:
        if self.bucket_table:
            if not spark.catalog.tableExists(self.bucket_table):
                return None
            return spark.table(self.bucket_table)
        if not os.path.isdir(self.digests_dir):
            return None
        return spark.read.parquet(self.digests_dir)

    def _append(self, new_rows: DataFrame) -> None:
        if self.bucket_table:
            (new_rows.write.mode("append")
             .bucketBy(self.n_buckets, "digest").sortBy("digest")
             .option("path", self.digests_dir)
             .format("parquet").saveAsTable(self.bucket_table))
        else:
            new_rows.write.mode("append").parquet(self.digests_dir)

    # -- operations --------------------------------------------------------
    def ingest(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Dedup an increment against the store AND within itself; append
        the survivors' digests. Returns one row per increment doc:

        ``(id_col, digest, dup_of, is_new)`` — ``dup_of`` is the keep-id
        of the earliest holder of the digest (a historical doc, or the
        min-id doc within this increment), NULL for first occurrences;
        ``is_new`` marks rows whose digest was appended to the store.

        Increment ids are assumed later/disjoint from historical ids
        (ingestion order defines "earliest").
        """
        spark = docs.sparkSession
        d = docs.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("digest")
        )
        # within-batch earliest holder per digest: a partial→final
        # min-aggregation (no window over the full increment needed)
        firsts = d.groupBy("digest").agg(F.min(id_col).alias("_first_inc"))
        d = d.join(firsts, "digest")
        store = self._read(spark)
        if store is not None:
            d = d.join(
                store.select("digest", F.col("keep_id").alias("_hist_keep")),
                "digest",
                "left",
            )
        else:
            d = d.withColumn("_hist_keep", F.lit(None).cast("long"))
        out = d.select(
            F.col(id_col),
            "digest",
            # crash-retry: a doc that was appended as the keeper last
            # attempt finds ITSELF in the store — dup_of must stay NULL
            # (it is the keeper), not point at itself
            F.when(F.col("_hist_keep") == F.col(id_col), F.lit(None))
            .when(F.col("_hist_keep").isNotNull(), F.col("_hist_keep"))
            .when(F.col("_first_inc") < F.col(id_col), F.col("_first_inc"))
            .cast("long")
            .alias("dup_of"),
            (
                F.col("_hist_keep").isNull()
                & (F.col("_first_inc") == F.col(id_col))
            ).alias("is_new"),
        )
        # localCheckpoint BEFORE appending: the append mutates the very
        # store this plan reads, and Spark invalidates caches by written
        # path (recacheByPath) — a persist()ed result would silently
        # recompute against the post-append store and classify the
        # increment's own digests as "history" (observed). Cutting the
        # lineage makes recomputation impossible; on Iceberg the same
        # guarantee comes from reading a pinned snapshot. The increment
        # is the small side by construction, so materializing it is
        # bounded.
        out = out.localCheckpoint(eager=True)
        new_rows = (
            out.filter("is_new")
            .select("digest", F.col(id_col).cast("long").alias("keep_id"))
        )
        self._append(new_rows)
        return out


