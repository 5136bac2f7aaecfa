"""Deduplication operators for large-scale training-data pipelines.

Five families, each scale-shaped for 100 TB inputs:

- **exact**: hash-groupBy on a content digest — one shuffle on the
  digest, keeps the min-id representative. No driver state.
- **MinHash + LSH**: shingle → 64-perm MinHash (Arrow-batched numpy) →
  band into b bands → explode (doc, band_idx, band_hash) → self-join on
  the band key → distinct candidate pairs → exact-Jaccard verification.
  The band join is the only shuffle that touches pairs, and banding
  guarantees candidates ≪ n² (only same-bucket pairs materialize).
- **SimHash**: 64-bit signature; near-dup = Hamming ≤ d. Candidate
  generation by table rotation: split the 64 bits into d+1 blocks —
  two signatures within distance d share at least one exact block
  (pigeonhole) — join per block.
- **n-gram Jaccard (exact)**: explode distinct token n-grams →
  self-join on the n-gram → per-pair intersection counts vs union —
  pure DataFrame ops, SQL-oracle-checkable. The LSH variant is its
  scale path.
- **embedding cosine**: see operators/similarity.py (shared kernels).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import jaccard_pairs_batch, minhash_batch


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the Python signature stage engages every core: a small input
    (one parquet split) would otherwise run the whole Arrow UDF pass as a
    single task. No-op at production scale where the scan already has
    thousands of splits."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def _minhash_fn(texts: pd.Series) -> pd.Series:
    return minhash_batch(texts)


minhash_udf = F.pandas_udf(_minhash_fn, returnType=T.ArrayType(T.LongType()))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(digest, n_docs, keep_id) for every duplicate group (n_docs > 1)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("digest")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash.

    rows-per-band = num_perm // bands; two docs collide when any band of
    their signatures matches exactly. Collision probability for Jaccard s
    is 1-(1-s^r)^b — with 64/16×4 the curve knees near s≈0.5.
    """
    # minhash_udf emits exactly 64 slots; slicing past that yields empty
    # band arrays that hash identically for every doc (all-pairs blow-up)
    if num_perm != 64:
        raise ValueError(
            "num_perm must be 64 (the width minhash_udf emits; see "
            "functions/hashing.minhash_batch for other widths)"
        )
    if num_perm % bands != 0:
        raise ValueError("bands must divide num_perm evenly")
    r = num_perm // bands
    sig = _spread(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"), minhash_udf(F.col(text_col)).alias("_sig")
    )
    banded = sig.select(
        "_id",
        F.posexplode(
            F.array(*[
                F.slice("_sig", i * r + 1, r).cast("array<string>")
                for i in range(bands)
            ])
        ).alias("band_idx", "band_sig"),
    ).withColumn(
        # 64-bit: a 32-bit band-hash space saturates near 10^10 band rows
        # and every spurious collision is a false candidate pair
        "band_hash", F.xxhash64(F.concat_ws(",", "band_sig"), "band_idx")
    )
    # self-join below branches this plan twice; without materialization the
    # MinHash UDF runs once PER BRANCH. At scale signatures get written to
    # their own table; in-process, persist is the same move.
    banded = banded.persist()
    a = banded.select(F.col("_id").alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col("_id").alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """Verified near-duplicate pairs: LSH candidates → exact k-shingle
    Jaccard (Arrow-batched) → filter ≥ threshold.

    The verification join re-attaches both texts by id — two broadcast-or-
    shuffle hash joins on the id (AQE picks); only candidate pairs pay it.
    """
    cands = minhash_lsh_candidates(df, text_col, id_col, num_perm, bands)
    texts = df.select(F.col(id_col), F.col(text_col))
    pairs = (
        cands.join(
            texts.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")),
            "id_a",
        )
        .join(
            texts.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")),
            "id_b",
        )
    )

    @F.pandas_udf(T.DoubleType())
    def jaccard_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        return jaccard_pairs_batch(ta, tb, shingle_k)

    return (
        pairs.withColumn("jaccard", jaccard_udf("_ta", "_tb"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash (md5-nibble signatures, pure Catalyst, SQL-reproducible)
# ---------------------------------------------------------------------------

# SimHash from md5 nibbles: bit b of the 64-bit signature lives in hex
# char b//4 (1-indexed) of md5(gram), sub-bit b%4. Every construct here
# (instr/substr/md5/CASE/sum/>>/&) evaluates identically in Spark SQL and
# DuckDB, which is what makes this variant END-TO-END value-checkable by
# the driver oracle — no Python in the hot path at all, so it is also the
# fastest plan shape at scale (whole-stage codegen through the explode,
# hash, 64 partial sums, block join, and popcount verify).

def _nibble_expr(j: int, col: str = "h") -> str:
    return f"(instr('0123456789abcdef', substr({col}, {j + 1}, 1)) - 1)"


def _bit_vote_expr(b: int, col: str = "h") -> str:
    return (
        f"sum(CASE WHEN (({_nibble_expr(b // 4, col)} >> {b % 4}) & 1) = 1 "
        f"THEN 1 ELSE -1 END)"
    )


def simhash_block_expr(i: int, col: str = "h") -> str:
    """16-bit block i (bits 16i..16i+15) of the majority-vote signature,
    as a SQL aggregate expression over exploded md5(gram) rows. Shared
    verbatim between the Spark plan and the DuckDB oracle."""
    return "(" + " + ".join(
        f"(CASE WHEN {_bit_vote_expr(16 * i + t, col)} > 0 THEN {1 << t} ELSE 0 END)"
        for t in range(16)
    ) + ")"


def simhash_md5_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    k: int = 5,
) -> DataFrame:
    """Near-duplicate pairs with Hamming ≤ max_hamming over md5-nibble
    SimHash signatures — pure Catalyst (zero Python), exactly
    SQL-reproducible (see :func:`simhash_block_expr`).

    Pigeonhole with 4 16-bit blocks guarantees exactness for
    max_hamming ≤ 3: any pair within distance 3 agrees on ≥1 whole block.
    The block equijoin is the only pair-touching shuffle; signatures are
    64 map-side partial sums per doc (one HashAggregate).
    """
    if max_hamming > 3:
        raise ValueError("4×16-bit pigeonhole is exact only for max_hamming <= 3")
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({text_col})-{k - 1}, 1)),"
                    f" i -> substr({text_col}, i, {k}))"
                )
            )
        ).alias("_g"),
    ).withColumn("h", F.md5("_g"))
    sigs = grams.groupBy("_id").agg(
        *[F.expr(simhash_block_expr(i)).alias(f"b{i}") for i in range(4)]
    )
    # the self-join branches this plan twice; without materialization the
    # shingle explode + 64 partial sums run once per branch (plan-audit
    # verified). At scale the signatures become their own table.
    sigs = sigs.persist()
    blocks = sigs.select(
        "_id", "b0", "b1", "b2", "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("block_idx", "block_val"),
    )
    a = blocks.select(
        F.col("_id").alias("id_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
        "block_idx", "block_val",
    )
    b = blocks.select(
        F.col("_id").alias("id_b"),
        *[F.col(f"b{i}").alias(f"c{i}") for i in range(4)],
        "block_idx", "block_val",
    )
    cands = (
        a.join(b, ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"a{i}" for i in range(4)],
                *[f"c{i}" for i in range(4)])
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}"))) for i in range(4)
    )
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_md5_pairs_cte(
    base_sql: str, max_hamming: int = 3, k: int = 5
) -> str:
    """The :func:`simhash_md5_oracle_sql` construction as a composable
    CTE chain ending in ``pairs(id_a, id_b, hamming)`` — for oracles
    that post-process the pair set (e.g. connected components)."""
    inner = simhash_md5_oracle_sql(base_sql, max_hamming, k)
    head, tail = inner.split("\n    SELECT id_a, id_b,", 1)
    body = head.split("WITH ", 1)[1]
    select = "SELECT id_a, id_b," + tail.rsplit("ORDER BY", 1)[0]
    return f"{body}, pairs AS ({select})"


def simhash_md5_oracle_sql(
    base_sql: str, max_hamming: int = 3, k: int = 5
) -> str:
    """DuckDB oracle for :func:`simhash_md5_pairs` over ``base_sql``
    (a SELECT yielding doc_id, text) — generated from the SAME block
    expressions the Spark plan uses, so signatures agree bit-for-bit."""
    block_sql = ",\n      ".join(
        f"{simhash_block_expr(i)} AS b{i}" for i in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a{i},c{i}))" for i in range(4))
    return f"""
    WITH base AS ({base_sql}
    ), grams AS (
      SELECT DISTINCT doc_id, md5(substr(text, i, {k})) AS h
      FROM base, UNNEST(range(1, greatest(length(text)-{k - 1}, 1)+1)) AS t(i)
    ), sigs AS (
      SELECT doc_id, {block_sql}
      FROM grams GROUP BY doc_id
    ), blocks AS (
      SELECT doc_id, b0, b1, b2, b3, u.block_idx,
             CASE u.block_idx WHEN 0 THEN b0 WHEN 1 THEN b1
                              WHEN 2 THEN b2 ELSE b3 END AS block_val
      FROM sigs, UNNEST(range(0,4)) AS u(block_idx)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
             b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
      FROM blocks a JOIN blocks b USING (block_idx, block_val)
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST({ham} AS INT) AS hamming
    FROM cand
    WHERE {ham} <= {max_hamming}
    ORDER BY 1, 2
    """


# ---------------------------------------------------------------------------
# Document fingerprinting, pure-Catalyst variant (min-k md5 gram hashes)
# ---------------------------------------------------------------------------

def fingerprint_md5(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_gram: int = 8,
    size: int = 8,
) -> DataFrame:
    """Winnowing-style document fingerprint: the ``size`` lexicographically
    smallest md5 hashes of the document's distinct ``k_gram``-char grams
    (min-k sketch). Identical documents get identical fingerprints;
    near-identical documents share most entries — a compact containment
    key. Pure Catalyst and exactly SQL-reproducible (md5 + sort + slice).
    Returns (id, fp: array<string>).
    """
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({text_col})-{k_gram - 1}, 1)),"
                    f" i -> substr({text_col}, i, {k_gram}))"
                )
            )
        ).alias("_g"),
    ).select("_id", F.md5("_g").alias("h"))
    return grams.groupBy("_id").agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, size).alias("fp")
    )


def fingerprint_overlap_pairs(
    df: DataFrame,
    min_shared: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_gram: int = 8,
    size: int = 8,
) -> DataFrame:
    """Containment-candidate pairs: documents sharing ≥ ``min_shared`` of
    their ``size`` fingerprint entries. The entry equijoin touches only
    docs sharing a sketch hash — never all pairs; at scale the sketch
    table is tiny (size × 32 bytes per doc) and the join keys are
    uniformly distributed md5 prefixes (no skew by construction)."""
    sigs = fingerprint_md5(df, text_col, id_col, k_gram, size).persist()
    entries = sigs.select("_id", F.explode("fp").alias("h"))
    a = entries.select(F.col("_id").alias("id_a"), "h")
    b = entries.select(F.col("_id").alias("id_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def fingerprint_oracle_sql(
    base_sql: str, min_shared: int = 4, k_gram: int = 8, size: int = 8
) -> str:
    """DuckDB oracle for :func:`fingerprint_overlap_pairs` over
    ``base_sql`` (a SELECT yielding doc_id, text) — same md5 min-k
    construction, so fingerprints agree byte-for-byte."""
    return f"""
    WITH base AS ({base_sql}
    ), grams AS (
      SELECT DISTINCT doc_id, md5(substr(text, i, {k_gram})) AS h
      FROM base, UNNEST(range(1, greatest(length(text)-{k_gram - 1}, 1)+1)) AS t(i)
    ), sigs AS (
      SELECT doc_id, (list_sort(list(h)))[1:{size}] AS fp
      FROM grams GROUP BY doc_id
    ), entries AS (
      SELECT doc_id, unnest(fp) AS h FROM sigs
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM entries a JOIN entries b USING (h)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {min_shared}
    ORDER BY 1, 2
    """


# ---------------------------------------------------------------------------
# Benchmark decontamination (eval-set n-gram overlap)
# ---------------------------------------------------------------------------

def _char_gram_explode(text_col: str, k: int):
    return F.explode(
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col})-{k - 1}, 1)),"
                f" i -> substr({text_col}, i, {k}))"
            )
        )
    )


def contamination_flags(
    docs: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Training-data decontamination: flag documents sharing any ``k``-char
    gram with a benchmark/eval set (the Lee/Brown-style n-gram overlap
    check run before training).

    Shape for 10^12 rows: the eval side is tiny (benchmarks are KBs-MBs),
    so its distinct gram set broadcasts; each doc's grams probe the
    broadcast hash — map-only until the per-doc count aggregation, no
    wide shuffle of text. Returns (id, n_shared_grams, contaminated),
    one row per distinct id.
    """
    # grams travel as xxhash64 longs, not k-char strings: the broadcast
    # build side is 8 bytes/gram and the probe is a long-equality hash
    # join (a 64-bit collision can only ever undercount one doc's
    # n_shared_grams by 1 — irrelevant to a contamination flag)
    eval_grams = (
        eval_set.select(_char_gram_explode(text_col, k).alias("g"))
        .select(F.xxhash64("g").alias("_h"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col).alias("_id"), _char_gram_explode(text_col, k).alias("g")
    ).select("_id", F.xxhash64("g").alias("_h"))
    # count_distinct AFTER the broadcast probe: per-doc grams are already
    # array_distinct'd, so dedup is only needed when the same id appears
    # on multiple input rows — and post-join the candidate set is just the
    # MATCHED grams, so the distinct aggregation shuffles almost nothing
    # instead of every (id, gram) pair in the corpus
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "_h")
        .groupBy("_id")
        .agg(F.count_distinct("_h").alias("n_shared_grams"))
    )
    return (
        docs.select(F.col(id_col).alias("_id"))
        .distinct()
        .join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (DataFrame-native, oracle-checkable)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all pairs ≥ threshold.

    Pure relational plan: distinct (id, ngram) → self-join on ngram →
    group pair → |∩| / (|A| + |B| − |∩|). Correct but O(pairs-sharing-
    a-gram); at scale run it on LSH candidates instead of all pairs.
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = (
        df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size("_toks") - n, F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, n)),
                )
            ).alias("gram"),
        )
        .filter(F.length("gram") > 0)
        .distinct()
    )
    sizes = grams.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("_id").alias("id_a"), "gram")
    b = grams.select(F.col("_id").alias("id_b"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col("_id").alias("id_a"), F.col("n_grams").alias("na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("n_grams").alias("nb")), "id_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def boilerplate_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Per-document boilerplate/memorization score: the fraction of the
    doc's DISTINCT k-char grams that appear in at least one OTHER
    document. 0 = fully novel text, → 1 = assembled from corpus-shared
    fragments (navigation chrome, templates, licence blocks) — the
    doc-level signal span-level dedup acts on.

    Scale shape: grams travel as xxhash64 longs (8 bytes — raw text
    never shuffles); (doc, gram) distinct → per-gram doc counts (one
    hash shuffle keyed on the gram, partial-aggregated) → co-partitioned
    join back on the gram → per-doc mean. A gram shared by millions of
    docs is one counter row, not a pair explosion — no all-pairs path
    exists here at any corpus size. Returns
    ``(id_col, n_grams, boilerplate_frac)``.
    """
    dg = (
        df.select(
            F.col(id_col).alias("_id"),
            _char_gram_explode(text_col, k).alias("_gram"),
        )
        .select("_id", F.xxhash64("_gram").alias("g"))
        .distinct()
    )
    per_gram = dg.groupBy("g").agg(F.count("*").alias("_n_docs"))
    return (
        dg.join(per_gram, "g")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(
                F.avg((F.col("_n_docs") > 1).cast("double")), 6
            ).alias("boilerplate_frac"),
        )
        .select(F.col("_id").alias(id_col), "n_grams", "boilerplate_frac")
    )


def boilerplate_oracle_sql(base_sql: str, k: int = 8) -> str:
    """DuckDB twin of :func:`boilerplate_fraction` over ``base_sql``
    (SELECT yielding doc_id, text). Grams stay raw strings here —
    equality of the aggregates only assumes xxhash64 never collides
    inside one corpus sample (~1e-10 at these sizes)."""
    return f"""
    WITH base AS ({base_sql}),
    grams AS (
      SELECT DISTINCT doc_id, g
      FROM base, UNNEST(list_transform(
        range(1, greatest(length(text) - {k - 1}, 1) + 1),
        i -> substr(text, i, {k}))) AS t(g)
    ),
    cnt AS (SELECT g, count(*) AS n_docs FROM grams GROUP BY g)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           round(avg(CASE WHEN n_docs > 1 THEN 1.0 ELSE 0.0 END), 6)
             AS boilerplate_frac
    FROM grams JOIN cnt USING (g)
    GROUP BY doc_id ORDER BY doc_id
    """
