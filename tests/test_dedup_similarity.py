from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_md5_pairs,
)
from data_quality_automated_evaluator_spark.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
)

BASE_DOCS = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "data pipelines aggregate quality metrics across many partitions every single day",
    "spark executes the optimized logical plan with whole stage code generation enabled",
    "language models estimate the probability of the next token given prior context",
    "conversations are reassembled in stable order by the turn index within each group",
]


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    i = 0
    for d in BASE_DOCS:
        rows.append((i, d)); i += 1
        rows.append((i, d)); i += 1  # exact dup
        rows.append((i, d.replace("the", "a", 1) + " extra"), ); i += 1  # near dup
    # genuinely diverse fillers (shuffled word salad per doc — templated
    # fillers would legitimately be ~0.65-jaccard near-dups of each other)
    rng = np.random.default_rng(123)
    vocab = [f"tok{c}{n}" for c in "abcdefghij" for n in range(30)]
    for j in range(20):
        words = rng.choice(vocab, size=14, replace=False)
        rows.append((i, " ".join(words)))
        i += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, docs):
    groups = exact_dup_groups(docs).toPandas()
    assert len(groups) == len(BASE_DOCS)
    assert (groups["n_docs"] == 2).all()
    # representative is min id
    assert set(groups["keep_id"]) == {0, 3, 6, 9, 12}


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    pairs = minhash_lsh_dedup_pairs(docs, threshold=0.5).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values))
    # exact dup pairs must be found (jaccard 1.0)
    for k in range(len(BASE_DOCS)):
        assert (3 * k, 3 * k + 1) in got, f"exact pair {k} missed"
    # near-dup should be found for most (jaccard ~0.7-0.9)
    near_found = sum((3 * k, 3 * k + 2) in got or (3 * k + 1, 3 * k + 2) in got
                     for k in range(len(BASE_DOCS)))
    assert near_found >= 4
    # no filler should pair with anything
    filler_ids = set(range(15, 35))
    assert not any(a in filler_ids or b in filler_ids for a, b in got)


def test_simhash_pairs(spark, docs):
    pairs = simhash_md5_pairs(docs, max_hamming=3).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values))
    for k in range(len(BASE_DOCS)):
        assert (3 * k, 3 * k + 1) in got
    assert (pairs[pairs.id_a == pairs.id_b % 3 * 0].hamming >= 0).all()


def test_ngram_jaccard_matches_pandas_oracle(spark, docs):
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.3).toPandas()
    pdf = docs.toPandas()

    def grams(t: str, n=3) -> set[str]:
        toks = t.strip().lower().split()
        hi = max(len(toks) - n, 0)
        return {" ".join(toks[i : i + n]) for i in range(hi + 1)}

    expected = []
    recs = list(pdf.itertuples())
    for x in recs:
        for y in recs:
            if x.doc_id >= y.doc_id:
                continue
            ga, gb = grams(x.text), grams(y.text)
            inter = len(ga & gb)
            if inter:
                j = inter / (len(ga) + len(gb) - inter)
                if j >= 0.3:
                    expected.append((x.doc_id, y.doc_id, j))
    exp = pd.DataFrame(expected, columns=["id_a", "id_b", "jaccard"]).sort_values(
        ["id_a", "id_b"]).reset_index(drop=True)
    got = out.sort_values(["id_a", "id_b"]).reset_index(drop=True)
    assert len(got) == len(exp)
    np.testing.assert_allclose(got["jaccard"].values, exp["jaccard"].values, rtol=1e-9)


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_brute_force_topk(spark, embeddings):
    pdf = embeddings.toPandas()
    q = list(map(float, pdf.iloc[0]["embedding"]))
    out = brute_force_topk(embeddings, q, k=5).toPandas()
    assert len(out) == 5
    assert out.iloc[0]["vec_id"] == pdf.iloc[0]["vec_id"]  # self is top-1
    assert abs(out.iloc[0]["cosine"] - 1.0) < 1e-9
    # numpy oracle
    M = np.stack(pdf["embedding"].map(np.asarray))
    qv = np.asarray(q)
    cos = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    order = np.lexsort((pdf["vec_id"].values, -cos))[:5]
    assert list(out["vec_id"]) == list(pdf["vec_id"].values[order])


def test_ivf_all_probes_is_exact(spark, embeddings):
    """Probing every IVF cell must reproduce brute force exactly — the
    cells partition the data, so the only approximation is probe count."""
    from data_quality_automated_evaluator_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    pdf = embeddings.toPandas()
    q = list(map(float, pdf.iloc[3]["embedding"]))
    C = train_ivf_centroids(embeddings, n_centroids=8)
    exact = brute_force_topk(embeddings, q, k=5).toPandas()
    full = ivf_topk(embeddings, q, k=5, n_probe=8, centroids=C).toPandas()
    assert list(full["vec_id"]) == list(exact["vec_id"])
    np.testing.assert_allclose(full["cosine"].values, exact["cosine"].values,
                               rtol=1e-9)


def test_ivf_partial_probe_recall(spark, embeddings):
    from data_quality_automated_evaluator_spark.operators.similarity import (
        ivf_assign,
        ivf_topk,
        train_ivf_centroids,
    )

    pdf = embeddings.toPandas()
    C = train_ivf_centroids(embeddings, n_centroids=8)
    # cells cover every row with ids in range
    cells = ivf_assign(embeddings, C).toPandas()
    assert cells["ivf_cell"].between(0, 7).all()
    assert len(cells) == len(pdf)

    hits, trials, k = 0.0, 4, 5
    for i in range(trials):
        q = list(map(float, pdf.iloc[i]["embedding"]))
        exact = set(brute_force_topk(embeddings, q, k=k).toPandas()["vec_id"])
        approx = set(
            ivf_topk(embeddings, q, k=k, n_probe=3, centroids=C).toPandas()["vec_id"]
        )
        assert pdf.iloc[i]["vec_id"] in approx  # self's cell is always probed
        hits += len(exact & approx) / k
    assert hits / trials >= 0.5, f"IVF recall {hits / trials:.2f} too low"


def test_embedding_dup_pairs(spark, embeddings):
    # plant an exact duplicate embedding with a new id
    dup = embeddings.limit(1).withColumn("vec_id", F.lit(999999).cast("long"))
    df = embeddings.union(dup)
    pairs = embedding_dup_pairs(df, threshold=0.999).toPandas()
    assert ((pairs["id_a"] == 0) & (pairs["id_b"] == 999999)).any() or (
        (pairs["cosine"] > 0.999).any()
    )


def test_exact_cosine_pairs_guards_driver_oom(spark, embeddings):
    from data_quality_automated_evaluator_spark.operators.similarity import (
        exact_cosine_pairs,
    )

    with pytest.raises(ValueError, match="embedding_dup_pairs"):
        exact_cosine_pairs(embeddings, threshold=0.9, max_rows=1)


def test_simhash_md5_pairs_matches_sql_oracle(spark, docs):
    """The pure-Catalyst md5-nibble SimHash must agree bit-for-bit with
    the DuckDB oracle generated from the same block expressions."""
    import duckdb

    from data_quality_automated_evaluator_spark.operators.dedup import (
        simhash_md5_oracle_sql,
        simhash_md5_pairs,
    )

    got = (
        simhash_md5_pairs(docs, max_hamming=3)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    pdf = docs.toPandas()
    con = duckdb.connect()
    con.register("docs_tbl", pdf)
    sql = simhash_md5_oracle_sql("SELECT doc_id, text FROM docs_tbl")
    exp = con.execute(sql).df()
    assert len(got) == len(exp) > 0
    assert (got.values == exp.values).all()


def test_repetition_stats_matches_sql_oracle(spark, docs):
    """Gopher-style repetition signals agree exactly with the DuckDB
    re-implementation of the same word/2-gram pipeline."""
    import duckdb

    from data_quality_automated_evaluator_spark.functions.textstats import repetition_stats

    got = repetition_stats(docs).orderBy("doc_id").toPandas()
    con = duckdb.connect()
    con.register("d", docs.toPandas())
    exp = con.execute(r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w FROM d
    ), sized AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct, w FROM base
    ), grams AS (
      SELECT doc_id, n_words, n_distinct, w[i] || ' ' || w[i+1] AS g
      FROM sized, UNNEST(range(1, len(w))) AS t(i)
    ), counts AS (
      SELECT doc_id, n_words, n_distinct, g, count(*) AS c
      FROM grams GROUP BY doc_id, n_words, n_distinct, g
    ), agg AS (
      SELECT doc_id, n_words, n_distinct, max(c) AS top, sum(c) AS total
      FROM counts GROUP BY doc_id, n_words, n_distinct
    )
    SELECT doc_id, n_words,
           round((n_words - n_distinct) * 1.0 / n_words, 6) AS dup_word_frac,
           round(top * 1.0 / total, 6) AS top_bigram_share
    FROM agg ORDER BY doc_id
    """).df()
    assert len(got) == len(exp) > 0
    assert (got.values == exp.values).all()
    # a literally repeated doc scores near-total duplication
    rep = repetition_stats(
        spark.createDataFrame([(1, "spam ham " * 20)], "doc_id long, text string")
    ).first()
    assert rep["dup_word_frac"] > 0.9 and rep["top_bigram_share"] > 0.4


def test_fingerprint_overlap_matches_sql_oracle(spark, docs):
    """Min-k md5 fingerprints and containment candidates agree exactly
    with the DuckDB construction; identical docs share all entries."""
    import duckdb

    from data_quality_automated_evaluator_spark.operators.dedup import (
        fingerprint_oracle_sql,
        fingerprint_overlap_pairs,
    )

    got = (
        fingerprint_overlap_pairs(docs, min_shared=4)
        .orderBy("id_a", "id_b")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("d", docs.toPandas())
    exp = con.execute(
        fingerprint_oracle_sql("SELECT doc_id, text FROM d", min_shared=4)
    ).df()
    assert len(got) == len(exp) > 0
    assert (got.values == exp.values).all()
    # planted exact dups (ids 2i, 2i+1 for the base docs) share all 8
    full = got[got["n_shared"] == 8]
    pairs = set(zip(full["id_a"], full["id_b"]))
    assert {(0, 1), (3, 4), (6, 7), (9, 10), (12, 13)} <= pairs


def test_multi_query_topk_matches_per_query_brute_force(spark, embeddings):
    """One-scan batched top-k equals running brute_force_topk per query."""
    from data_quality_automated_evaluator_spark.operators.similarity import (
        brute_force_topk,
        multi_query_topk,
    )

    pdf = embeddings.toPandas()
    queries = [
        (1, list(map(float, pdf.iloc[0]["embedding"]))),
        (2, list(map(float, pdf.iloc[7]["embedding"]))),
    ]
    got = (
        multi_query_topk(embeddings, queries, k=5)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    for qid, vec in queries:
        solo = brute_force_topk(embeddings, vec, k=5).toPandas()
        part = got[got["query_id"] == qid].reset_index(drop=True)
        assert part["vec_id"].tolist() == solo["vec_id"].tolist()
        assert (part["cosine"].values == solo["cosine"].values).all()


def test_repetition_stats_short_doc_safe(spark):
    """Single-word/empty/null docs drop out (oracle parity) instead of
    crashing element_at on the descending sequence."""
    from data_quality_automated_evaluator_spark.functions.textstats import repetition_stats

    out = repetition_stats(
        spark.createDataFrame(
            [(1, "hello"), (2, ""), (3, "a b a b"), (4, None)],
            "doc_id long, text string",
        )
    ).collect()
    assert [(r["doc_id"], r["n_words"]) for r in out] == [(3, 4)]


def test_contamination_flags_planted(spark, docs):
    """Docs sharing an 8-gram with the eval set are flagged; clean docs
    are not; every input doc gets exactly one output row."""
    from data_quality_automated_evaluator_spark.operators.dedup import contamination_flags

    eval_set = spark.createDataFrame(
        [(0, "the quick brown fox jumps")], "eval_id long, text string"
    )
    out = contamination_flags(docs, eval_set).toPandas().set_index("doc_id")
    assert len(out) == docs.count()
    # docs 0/1 contain the fox sentence (and 2 its near-dup wording)
    assert bool(out.loc[0, "contaminated"]) and bool(out.loc[1, "contaminated"])
    # token-salad fillers share no 8-gram with the eval text
    assert not out.loc[15:, "contaminated"].any()
    assert (out["n_shared_grams"] >= 0).all()


def test_deterministic_sample_properties(spark, docs):
    """Samples are nested in the rate and rate 1.0 keeps every row; the
    decision is stable under repartitioning; the rate is approximately
    honored."""
    from data_quality_automated_evaluator_spark.operators.sampling import (
        deterministic_sample,
    )

    big = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    s = deterministic_sample(big, 0.25).toPandas()["doc_id"]
    assert set(s) <= set(deterministic_sample(big, 0.5).toPandas()["doc_id"])
    assert deterministic_sample(big, 1.0).count() == 20000
    assert abs(len(s) / 20000 - 0.25) < 0.02  # md5 buckets are uniform
    # stability: a different partitioning yields the identical row set
    s2 = deterministic_sample(big.repartition(13), 0.25).toPandas()["doc_id"]
    assert set(s) == set(s2)


def test_deterministic_sample_null_keys_not_lost(spark):
    """NULL keys hash to a sentinel bucket, so a full-rate sample keeps
    them instead of silently dropping them."""
    from data_quality_automated_evaluator_spark.operators.sampling import (
        deterministic_sample,
    )

    df = spark.createDataFrame(
        [(1,), (2,), (None,), (None,)], "doc_id long"
    )
    assert deterministic_sample(df, 1.0).count() == 4


def test_stratified_sample_properties(spark):
    from pyspark.sql import functions as F

    from data_quality_automated_evaluator_spark.operators.sampling import (
        stratified_sample,
        stratified_take,
    )

    big = spark.range(0, 12000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    frs = {"s0": 0.5, "s1": 0.1}
    got = stratified_sample(big, frs, "source", "doc_id", default_rate=0.9)
    rates = {
        r["source"]: r["n"] / 4000
        for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert abs(rates["s0"] - 0.5) < 0.05
    assert abs(rates["s1"] - 0.1) < 0.03
    assert abs(rates["s2"] - 0.9) < 0.05  # unlisted -> default_rate
    # partition-layout stability
    again = stratified_sample(
        big.repartition(13), frs, "source", "doc_id", default_rate=0.9
    )
    assert {r["doc_id"] for r in got.collect()} == {
        r["doc_id"] for r in again.collect()
    }

    take = stratified_take(big, 5, "source", "doc_id")
    by_src = {
        r["source"]: r["n"]
        for r in take.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src == {"s0": 5, "s1": 5, "s2": 5}
    take2 = stratified_take(big.repartition(7), 5, "source", "doc_id")
    assert {r["doc_id"] for r in take.collect()} == {
        r["doc_id"] for r in take2.collect()
    }


def test_connected_components_and_resolve(spark):
    from data_quality_automated_evaluator_spark.operators.components import (
        connected_components,
        resolve_duplicates,
    )

    # chain 1-2-3-4 (transitive closure without the 1~4 edge), pair 10-11,
    # singleton edge 20-21, unpaired docs 30, 31
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 30, 31]], "doc_id long"
    )
    res = {r["doc_id"]: r for r in resolve_duplicates(docs, pairs).collect()}
    assert {d for d, r in res.items() if r["keep"]} == {1, 10, 20, 30, 31}
    assert res[30]["component"] == 30  # unpaired: own cluster

    # long adversarial chain: pointer jumping must converge well under
    # max_iter (label propagation alone would need ~60 rounds)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 160)], "id_a long, id_b long"
    )
    comp2 = {r["id"]: r["component"] for r in connected_components(chain, max_iter=12).collect()}
    assert set(comp2.values()) == {100}


def test_normalize_text_semantics_and_idempotence(spark):
    from pyspark.sql import functions as F

    from data_quality_automated_evaluator_spark.functions.normalize import (
        normalize_text_col,
        with_normalized_text,
    )

    rows = [
        (1, "café  bar\tbaz\n"),
        (2, "ctrl\x01\x02chars\x7fend"),
        (3, "  edge  spaces  "),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_norm"] for r in with_normalized_text(df).collect()}
    assert out[1] == "café bar baz"  # NFC-composed, ws collapsed, trimmed
    assert out[2] == "ctrlcharsend"
    assert out[3] == "edge spaces"
    assert out[4] is None  # null-safe
    assert out[5] == ""

    # idempotence: normalizing the normalized column changes nothing
    twice = df.withColumn("n1", normalize_text_col(F.col("text"))).withColumn(
        "n2", normalize_text_col(F.col("n1"))
    )
    assert twice.filter("n1 IS DISTINCT FROM n2").count() == 0


def test_remove_boilerplate_lines(spark):
    from data_quality_automated_evaluator_spark.operators.lines import (
        remove_boilerplate_lines,
    )

    rows = [
        (1, "HEAD\nunique one\nmid\nFOOT"),
        (2, "HEAD\nunique two\nFOOT"),
        (3, "HEAD\nFOOT"),            # all boilerplate -> empty
        (4, "alone\nmid"),            # 'mid' shared with doc 1
        (5, "x\nunique five\nx"),     # short line, exempt via min_line_chars
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate_lines(df, min_docs=2, min_line_chars=2).collect()
    }
    assert out[1] == "unique one"           # HEAD/FOOT/mid dropped
    assert out[2] == "unique two"
    assert out[3] == ""                     # fully boilerplate
    assert out[4] == "alone"
    assert out[5] == "x\nunique five\nx"    # short lines never dropped


def test_dedup_lines_within_doc(spark):
    from data_quality_automated_evaluator_spark.operators.lines import (
        dedup_lines_within_doc,
    )

    rows = [
        (1, "a\nb\na\nc\nb\na"),
        (2, "loop\nloop\nloop"),
        (3, "single"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text_clean"] for r in dedup_lines_within_doc(df).collect()}
    assert out[1] == "a\nb\nc"
    assert out[2] == "loop"
    assert out[3] == "single"


def test_asof_join_backward_semantics(spark):
    import datetime as dt

    from data_quality_automated_evaluator_spark.operators.asof import (
        asof_join_backward,
    )

    T = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, "a", T("2024-01-01 10:00:00")),
            (2, "a", T("2024-01-01 12:00:00")),
            (3, "a", T("2024-01-01 09:00:00")),  # before any right row
            (4, "b", T("2024-01-01 10:00:00")),  # key with no right rows
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("a", T("2024-01-01 10:00:00"), 1.0),  # tie with left id=1
            ("a", T("2024-01-01 11:00:00"), 2.0),
        ],
        "k string, ts timestamp, v double",
    )
    out = {r["id"]: r for r in asof_join_backward(left, right, on="k").collect()}
    assert len(out) == 4  # every left row exactly once
    assert out[1]["v_asof"] == 1.0      # tie matches (ts equal)
    assert out[2]["v_asof"] == 2.0      # latest prior
    assert out[3]["v_asof"] is None     # nothing at-or-before
    assert out[4]["v_asof"] is None     # key absent on right
    assert out[2]["ts_asof"] == T("2024-01-01 11:00:00")

    # tolerance: the 11:00 right row is older than 12:00-30min -> dropped
    tol = {
        r["id"]: r
        for r in asof_join_backward(
            left, right, on="k", tolerance_seconds=1800
        ).collect()
    }
    assert tol[1]["v_asof"] == 1.0      # 0s old, within tolerance
    assert tol[2]["v_asof"] is None     # 1h old > 30min tolerance


def test_calibrated_flags(spark):
    from pyspark.sql import functions as F

    from data_quality_automated_evaluator_spark.operators.calibrate import (
        with_calibrated_flags,
    )

    rows = [(i, "s" + str(i % 2), float(i)) for i in range(200)]
    rows.append((900, "s0", 1e6))  # extreme outlier in stratum s0
    df = spark.createDataFrame(rows, "doc_id long, source string, v double")
    out = with_calibrated_flags(df, "v", "source", 0.01, 0.99)
    flagged = {r["doc_id"] for r in out.filter("len_outlier").collect()}
    assert 900 in flagged
    assert len(flagged) < 12  # ~2% of 201 rows, not a mass flag
    # approx path agrees on the extreme outlier and stays bounded
    out_a = with_calibrated_flags(df, "v", "source", 0.01, 0.99, approx=True)
    assert 900 in {r["doc_id"] for r in out_a.filter("len_outlier").collect()}


def test_null_handling_lines_and_calibrate(spark):
    """Regression pins: NULL-text docs survive line dedup (one row per
    input doc) and NULL-stratum rows survive calibration (left join —
    an inner join's NULL keys would silently drop them)."""
    from data_quality_automated_evaluator_spark.operators.calibrate import (
        with_calibrated_flags,
    )
    from data_quality_automated_evaluator_spark.operators.lines import (
        dedup_lines_within_doc,
    )

    df = spark.createDataFrame(
        [(1, "a\na"), (2, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["text_clean"] for r in dedup_lines_within_doc(df).collect()}
    assert out == {1: "a", 2: ""}

    cal = spark.createDataFrame(
        [(1, "s0", 5.0), (2, None, 5.0), (3, "s0", 6.0)],
        "doc_id long, source string, v double",
    )
    rows = {r["doc_id"]: r for r in with_calibrated_flags(cal, "v").collect()}
    assert set(rows) == {1, 2, 3}          # nothing dropped
    assert rows[2]["len_outlier"] is False  # unjudgeable -> not flagged


def test_asof_null_keys_never_match(spark):
    """Equi-join semantics (and DuckDB ASOF, the oracle): NULL keys never
    match — but Window.partitionBy groups NULLs together, so without the
    explicit guard a NULL-key left row would steal a NULL-key right
    payload. NULL-key left rows must survive unmatched."""
    import datetime as dt

    from data_quality_automated_evaluator_spark.operators.asof import (
        asof_join_backward,
    )

    T = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, None, T("2024-01-01 12:00:00")),
            (2, "a", T("2024-01-01 12:00:00")),
        ],
        "id long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (None, T("2024-01-01 10:00:00"), 9.0),  # NULL-key state row
            ("a", T("2024-01-01 10:00:00"), 1.0),
        ],
        "k string, ts timestamp, v double",
    )
    out = {r["id"]: r for r in asof_join_backward(left, right, on="k").collect()}
    assert len(out) == 2                  # left preserved
    assert out[1]["v_asof"] is None       # NULL key: no match
    assert out[1]["ts_asof"] is None
    assert out[2]["v_asof"] == 1.0        # normal key unaffected


def test_connected_components_jobs_and_nonconvergence(spark):
    """One Spark job per iteration (the changed-count rides the checkpoint
    materialization — no separate re-join job), and an unconverged run
    raises instead of returning silently wrong labels."""
    from data_quality_automated_evaluator_spark.operators.components import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 160)], "id_a long, id_b long"
    )
    # AQE re-plans each shuffle stage as its own job, which would hide
    # the actions-per-iteration count this gate pins; measure without it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        before = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        info: dict = {}
        labels = connected_components(chain, max_iter=12, info=info)
        after_jobs = len(
            spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        )
        comp = {r["id"]: r["component"] for r in labels.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert set(comp.values()) == {100}
    assert info["converged"] and info["iterations"] <= 12
    # jobs: 2 setup checkpoints + ONE per iteration (the changed-count
    # rides the checkpoint materialization; no separate re-join job)
    assert after_jobs - before <= 2 + info["iterations"], (
        after_jobs - before, info
    )

    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(chain, max_iter=2)


def test_balanced_mix_sample(spark):
    from data_quality_automated_evaluator_spark.operators.sampling import balanced_mix_sample

    # 3 strata: 400 / 100 / 40 rows -> default target = 40 each
    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "mid") for i in range(100)]
        + [(2000 + i, "rare") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = balanced_mix_sample(df, strata_col="lang", key_col="doc_id")
    by = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    # rarest stratum passes through whole (rate 1), others thin toward 40
    assert by["rare"] == 40
    assert 15 <= by["big"] <= 70 and 15 <= by["mid"] <= 70
    # deterministic: same result regardless of partitioning
    again = balanced_mix_sample(
        df.repartition(7), strata_col="lang", key_col="doc_id"
    )
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )
    # explicit targets pin absolute counts; a target above the stratum
    # size keeps the whole stratum (no upsampling)
    pinned = balanced_mix_sample(
        df, strata_col="lang", key_col="doc_id",
        targets={"big": 200, "mid": 1000},
    )
    byp = {r["lang"]: r["n"] for r in pinned.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert byp["mid"] == 100            # capped at stratum size
    assert 150 <= byp["big"] <= 250     # ~200 in expectation
    assert byp["rare"] == 40            # unlisted -> min-count target = all
