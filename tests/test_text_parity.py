"""Spark against DuckDB on the per-turn text features, over generated
multilingual Unicode: the langid Arrow UDF against the SQL generated from
the same model table, and the four keep-rule inputs (plus the three
heuristic rules) and the stopword count against their SQL builders."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.functions.textstats import (
    N_STOPWORDS,
    RULE_INPUTS,
    rule_inputs_sql,
    spark_text_features,
)
from data_quality_automated_evaluator_spark.pipeline.features import langid_udf
from data_quality_automated_evaluator_spark.pipeline.oracle_sql import (
    heuristic_rules_sql,
    langid_sql,
)
from data_quality_automated_evaluator_spark.pipeline.rules import (
    Thresholds,
    rule_columns,
)
from test_properties import MODEL_STRINGS, MULTILINGUAL

HEURISTIC_RULES = ["r_len", "r_symbol", "r_repetition"]


def _corpus(n: int, seed: int) -> list[str]:
    """Strings of multilingual characters and (upper-cased) dictionary
    words; some run past the langid prefix or repeat one token."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(0, 30)):
            r = rng.random()
            if r < 0.25:
                parts.append(rng.choice(MODEL_STRINGS))
            elif r < 0.35:
                parts.append(rng.choice(MODEL_STRINGS).upper() + " ")
            else:
                parts.append("".join(rng.choices(MULTILINGUAL, k=rng.randint(1, 6))))
        text = "".join(parts)
        r = rng.random()
        if r < 0.05:
            text = text * (1 + 500 // max(len(text), 1))
        elif r < 0.25:
            # one short token in several cases, so case folding decides
            # how many distinct tokens there are
            tok = "".join(rng.choices(MULTILINGUAL, k=rng.randint(1, 3)))
            text = " ".join(rng.choice([tok, tok.upper(), tok.lower()])
                            for _ in range(rng.randint(10, 40)))
        out.append(text)
    return out


def _spark_features(spark, texts: list[str]) -> pd.DataFrame:
    """langid, the rule inputs and the heuristic rules of ``texts``, in
    one Spark job."""
    df = spark.createDataFrame(
        pd.DataFrame({"id": range(len(texts)), "text": texts}), "id long, text string"
    )
    t = F.col("text")
    feats = df.select("id", "text", *(s.spark(t).alias(k) for k, s in RULE_INPUTS.items()),
                      N_STOPWORDS.spark(t).alias("n_stopwords"),
                      langid_udf(t).alias("lang")).withColumns(spark_text_features(t))
    rules = rule_columns(Thresholds())
    return (feats.select("id", *RULE_INPUTS, "n_stopwords", "lang", "distinct_token_ratio",
                         *(rules[r].alias(r) for r in HEURISTIC_RULES))
            .toPandas().sort_values("id").reset_index(drop=True))


def _duckdb_features(texts: list[str]) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"id": range(len(texts)), "text": texts}))
    return con.execute(f"""
        WITH f AS (SELECT id, {rule_inputs_sql("text")},
                          {N_STOPWORDS.sql("text")} AS n_stopwords FROM t)
        SELECT f.*, l.lang, {heuristic_rules_sql(Thresholds())}
        FROM f JOIN ({langid_sql("t", ("id",))}) l USING (id) ORDER BY id
    """).df()


def test_spark_text_features_match_duckdb_on_multilingual_corpus(spark):
    texts = _corpus(3000, seed=13)
    got, want = _spark_features(spark, texts), _duckdb_features(texts)
    assert len(got) == len(want) == len(texts)
    for c in [*RULE_INPUTS, "n_stopwords", "lang", *HEURISTIC_RULES]:
        bad = [(t, x, y) for t, x, y in zip(texts, got[c], want[c]) if x != y]
        assert not bad, (c, len(bad), bad[:3])


@pytest.mark.parametrize(
    "text, tokens, distinct",
    [
        # trailing whitespace is not an empty token (Spark gave 2 / 2.0)
        ("hello\n", 1, 1),
        ("a a a a a a a a a a\n", 10, 1),
        # \x0B is whitespace in Java's \s but not in RE2's
        ("a\x0bb c", 3, 3),
        # Java lowers a word-final Σ to ς and İ to "i̇", DuckDB to σ and i
        ("ΟΔΟΣ οδος", 2, 2),
        ("İ i", 2, 1),
    ],
)
def test_token_faults_fixed_in_both_engines(spark, text, tokens, distinct):
    got = _spark_features(spark, [text]).iloc[0]
    want = _duckdb_features([text]).iloc[0]
    assert (got["n_tokens"], got["n_distinct"]) == (tokens, distinct)
    assert (want["n_tokens"], want["n_distinct"]) == (tokens, distinct)
    assert got["distinct_token_ratio"] == distinct / tokens


def test_text_stats_documents_stopwords_match_oracle(spark, tmp_path):
    """The registered ``text_stats_documents`` query and its DuckDB oracle
    count the same stopwords where RE2's ASCII ``\\b`` and Java's ``\\b``
    disagree: a word ending in a non-ASCII letter or a combining mark,
    a lowered İ, and a word joined by "_"; a 20,000-letter word does not
    overflow Java's regex stack."""
    import __spark_entry__ as e

    texts = ["theá and", "a\u0301 the", "İt is", "The cat and_dog", " \u0301the",
             "é" * 20_000 + " the"]
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        tmp_path / "documents.parquet")
    got = e.queries()["text_stats_documents"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    want = con.execute(e.oracle_sql()["text_stats_documents"]).df()
    assert got["n_stopwords"].tolist() == want["n_stopwords"].tolist() == [1] * 6
