"""Property-based tests (hypothesis) for the pure scoring/parsing cores."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from references import scrub_text

from data_quality_automated_evaluator_spark.functions.intervals import parse_interval
from data_quality_automated_evaluator_spark.functions.perplexity import perplexity_batch
from data_quality_automated_evaluator_spark.functions.scrub import scrub_batch
from data_quality_automated_evaluator_spark.functions.langid import (
    LANGS,
    MODEL,
    Feature,
    check_model,
    langid_frame,
    langid_label,
)

TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=300
)

# The multilingual alphabet the cross-engine parity tests draw from:
# Latin, Latin-1, Latin Extended-A, Greek, Cyrillic, CJK (plus the code
# points on either side of the zh range), kana (same), typographic
# punctuation and letter-like symbols, control whitespace and NUL, and
# astral letters (Deseret, mathematical, Gothic, CJK extension B).
MULTILINGUAL = "".join(
    [chr(c) for c in range(0x20, 0x7F)]
    + [chr(c) for c in range(0xA0, 0x180)]
    + [chr(c) for c in range(0x370, 0x500)]
    + [chr(c) for c in (0x4DFF, 0x4E00, 0x4E2D, 0x6587, 0x9FFF, 0xA000)]
    + [chr(c) for c in range(0x3040, 0x3101, 7)] + ["\u3041", "\u30ff", "\u3100"]
    + list("\u2009\u202f\u2018\u2019\u201c\u201d\u2026\u2013\u2014\u2212\u212a\u2126")
    + list("\t\n\x0b\x0c\r\x1c\x1f\x85\x00")
    + list("\U00010400\U00010428\U0001d400\U00010330\U00020000")
)
# Dictionary words and n-grams, so hypothesis sees them next to every
# kind of neighbour, not only by chance.
MODEL_STRINGS = sorted({i for f in MODEL if f.kind in ("word", "ngram") for i in f.items})
MULTILINGUAL_TEXT = st.lists(
    st.one_of(
        st.text(alphabet=MULTILINGUAL, max_size=6),
        st.sampled_from(MODEL_STRINGS),
        st.sampled_from(MODEL_STRINGS).map(str.upper),
    ),
    max_size=30,
).map("".join)


@given(st.integers(1, 500), st.sampled_from(["s", "m", "h", "d", "w"]))
def test_interval_parser_fixed_units(n, unit):
    kind, secs = parse_interval(f"{n}{unit}")
    assert kind == "seconds"
    per = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}[unit]
    assert secs == n * per


@given(st.lists(TEXT, min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_scrub_idempotent_and_batch_consistent(texts):
    s = pd.Series(texts, dtype=object)
    once = scrub_batch(s)
    twice = scrub_batch(once)
    assert (once.fillna("@") == twice.fillna("@")).all()
    # batch result == single-string result
    for t, b in zip(texts, once):
        assert scrub_text(t) == b


@given(st.lists(TEXT, min_size=1, max_size=20))
@settings(max_examples=50, deadline=None)
def test_perplexity_total_and_batch_invariant(texts):
    s = pd.Series(texts, dtype=object)
    p = perplexity_batch(s)
    assert len(p) == len(s)
    assert (p > 0).all() and np.isfinite(p).all()
    # splitting the batch never changes scores
    half = len(s) // 2
    if half:
        p2 = pd.concat([perplexity_batch(s.iloc[:half]), perplexity_batch(s.iloc[half:])])
        assert (p.values == p2.values).all()


def _duckdb_langid(texts: list[str]) -> pd.DataFrame:
    """The generated DuckDB langid SQL over ``texts``: scores + label."""
    import duckdb

    from data_quality_automated_evaluator_spark.pipeline.oracle_sql import langid_sql

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"id": range(len(texts)), "text": texts}))
    return con.execute(f"SELECT * FROM ({langid_sql('t', ('id',))}) ORDER BY id").df()


def _assert_langid_parity(texts: list[str]) -> None:
    a = langid_frame(pd.Series(texts, dtype=object))
    b = _duckdb_langid(texts)
    for c in [f"score_{l}" for l in LANGS] + ["lang"]:
        bad = [t for t, x, y in zip(texts, a[c], b[c]) if x != y]
        assert not bad, (c, bad[:3])


@given(st.lists(MULTILINGUAL_TEXT, min_size=1, max_size=20))
@example(["0Ü"])  # regression pin: pattern-longer-than-buffer negative slice
@example(["le monde !", "c’est «bon»… l’idée — voilà"])  # typographic folds
# ¿/¡ are NON-word characters: a dictionary word right next to them
# ("¿el", "¡con") is still a whole word
@example(["¿el gato?", "¡con los perros!", "¿por qué pero como?"])
@example(["¿de dónde", "¿em casa", "¿il cane"])  # ADVICE r4 label flips
# accent-edged words, a word followed by an accent, Œ, a soft hyphen
# inside a word, the Kelvin sign and dotted capital I
@example(["über", "deé", "Œuvre", "el\u00adgato", "\u212a", "İ"])
@settings(max_examples=60, deadline=None)
def test_langid_numpy_matches_duckdb_sql(texts):
    """The numpy kernel and the DuckDB SQL generated from the same model
    table give identical scores and labels."""
    _assert_langid_parity(texts)


def test_langid_numpy_matches_duckdb_sql_on_transcripts():
    from data_quality_automated_evaluator_spark.testdata import generate_transcripts

    _assert_langid_parity(generate_transcripts(n_convs=800, seed=3)["text"].tolist())


def test_langid_fold_reads_oe_ligature_as_french():
    assert langid_label(pd.Series(["Œuvre", "œuvre"])).tolist() == ["fr", "fr"]


def test_langid_model_rejects_what_the_engines_count_differently():
    for bad in [
        Feature("en", "ngram", ("aba",), 1.0),  # overlaps itself
        Feature("en", "word", ("the", "the"), 3.0),  # repeated word
        Feature("en", "word", ("dreiundzwanzig",), 3.0),  # longer than 8 bytes
        Feature("en", "char", ("a",), 2.0),  # ASCII belongs in an ngram
        Feature("en", "range", (0x41, 0x5A), 2.0),  # ASCII
        Feature("en", "ngram", ("th",), 0.5),  # non-integral weight
    ]:
        with pytest.raises(ValueError):
            check_model((bad,))


@given(st.lists(TEXT, min_size=1, max_size=20))
@settings(max_examples=30, deadline=None)
def test_langid_total(texts):
    s = pd.Series(texts, dtype=object)
    labels = langid_label(s)
    assert set(labels) <= {
        "en", "fr", "de", "ru", "zh", "es", "pt", "it", "ja", "und",
    }
    assert len(labels) == len(s)


@given(TEXT)
@settings(max_examples=100, deadline=None)
def test_scrub_removes_all_pii_patterns(text):
    import re

    out = scrub_text(text + " a@b.co 4111111111111111 10.1.2.3")
    assert "4111111111111111" not in out
    assert re.search(r"\b(?:\d{1,3}\.){3}\d{1,3}\b", out) is None
