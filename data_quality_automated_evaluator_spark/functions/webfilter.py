"""Published web-scale document filters (Gopher + C4 style) — zero
shuffle.

The rule families re-implemented here are public knowledge:

- **Gopher repetition filters** (Rae et al. 2021, "Scaling Language
  Models: ... Gopher", Appendix A): fraction of lines that are
  duplicates, fraction of characters in duplicate lines, fraction of
  characters in the most frequent word n-gram (n = 2..4), fraction of
  characters in duplicated word n-grams (n = 5). Our duplicated-n-gram
  fraction counts every occurrence of a gram that appears ≥ 2 times
  (``count × gram_chars / doc_chars``) WITHOUT de-overlapping character
  coverage — the common open-source simplification; the exact
  definition is stated here so the DuckDB oracle can match it bit for
  bit.
- **Gopher quality filters**: word count bounds, mean word length
  bounds, bullet-start / ellipsis-end line fractions, fraction of
  words with an alphabetic character, stop-word presence,
  symbol-to-word ratio (``#`` and ``...``).
- **C4 filters** (Raffel et al. 2019): terminal-punctuation line
  fraction, minimum sentence count, "lorem ipsum" marker, curly-brace
  (code) marker.

Scale shape: every metric is computed per document from a split-word /
split-line ARRAY inside one projection — a map-only plan with no
Exchange, which is exactly what a 100 TB document filter must be. The
quality and C4 metrics are Catalyst higher-order functions
(``transform``, ``filter``, ``aggregate``); the duplicate/top-gram
counts of the repetition filters come from one Arrow batch kernel
(:func:`gopher_repetition_stats_arrow`) instead of an explode + groupBy,
so no per-gram shuffle ever happens.

Cited reference behavior: the reference evaluates per-column quality
rules over a single table (reference evaluate.py); these named filter
families extend that contract to the web-scale document corpus the
graft brief requires.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "GOPHER_STOP_WORDS",
    "augmented_lines",
    "gopher_repetition_stats_arrow",
    "gopher_quality_columns",
    "c4_columns",
]

# Gopher's stop-word presence check uses this public 8-word list
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _words(text: Column) -> Column:
    """Whitespace words with empties removed (empty doc → empty array)."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != "")


def augmented_lines(text: Column, doc_id: Column) -> Column:
    """Deterministically rebuild a multi-line document from a one-line
    text (the synthetic ``documents`` table has no newlines, so
    line-level filters would be degenerate without this).

    Construction — keyed off ``doc_id`` so the DuckDB oracle can build
    the identical document:

    - base lines: words grouped ``5 + doc_id % 4`` per line;
    - ``doc_id % 3 == 0``  → first base line appended again (duplicate);
    - ``doc_id % 5 == 0``  → a ``- `` bullet line;
    - ``doc_id % 7 == 0``  → a line ending in ``...``;
    - ``doc_id % 11 == 0`` → a ``lorem ipsum`` line;
    - ``doc_id % 13 == 0`` → a curly-brace code line;
    - ``doc_id % 2 == 0``  → three proper sentences on one line.
    """
    words = _words(text)
    per = (F.lit(5) + (doc_id % 4)).cast("int")
    n_base = F.ceil(F.size(words) / per).cast("int")
    base = F.transform(
        F.sequence(F.lit(0), F.greatest(n_base, F.lit(1)) - 1),
        lambda i: F.array_join(F.slice(words, i * per + 1, per), " "),
    )
    base = F.filter(base, lambda ln: ln != "")

    def _maybe(cond: Column, line: Column) -> Column:
        return F.when(cond, F.array(line)).otherwise(
            F.array().cast("array<string>")
        )

    first_word = F.coalesce(F.element_at(words, 1), F.lit("item"))
    extras = F.concat(
        _maybe(doc_id % 3 == 0, F.coalesce(F.element_at(base, 1), F.lit(""))),
        _maybe(doc_id % 5 == 0, F.concat(F.lit("- "), first_word)),
        _maybe(doc_id % 7 == 0, F.concat(first_word, F.lit("..."))),
        _maybe(doc_id % 11 == 0, F.lit("lorem ipsum dolor sit amet.")),
        _maybe(doc_id % 13 == 0, F.lit("function() { return 0; }")),
        _maybe(
            doc_id % 2 == 0,
            F.lit("This augmented sentence ends properly. "
                  "It has punctuation. Indeed it does."),
        ),
    )
    return F.concat(base, extras)


def gopher_quality_columns(lines: Column, words: Column) -> dict[str, Column]:
    """Gopher quality-signal metrics and the published-threshold flags."""
    n_words = F.size(words).cast("bigint")
    safe_words = F.nullif(n_words, F.lit(0))
    n_lines = F.nullif(F.size(lines), F.lit(0))
    mean_wl = F.round(
        F.aggregate(
            words, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
        )
        / safe_words,
        6,
    )
    alpha_frac = F.round(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / safe_words, 6
    )
    stop_hits = F.size(
        F.filter(words, lambda w: F.lower(w).isin(*GOPHER_STOP_WORDS))
    ).cast("bigint")
    bullet_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda ln: ln.startswith("- ")
                | ln.startswith("* ")
                | ln.startswith("•"),
            )
        )
        / n_lines,
        6,
    )
    ellipsis_frac = F.round(
        F.size(
            F.filter(
                lines, lambda ln: ln.endswith("...") | ln.endswith("…")
            )
        )
        / n_lines,
        6,
    )
    joined = F.array_join(lines, "\n")
    symbol_ratio = F.round(
        (
            F.length(joined)
            - F.length(F.replace(joined, F.lit("#"), F.lit("")))
            + (
                F.length(joined)
                - F.length(F.replace(joined, F.lit("..."), F.lit("")))
            )
            / 3
        )
        / safe_words,
        6,
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "alpha_word_frac": alpha_frac,
        "stop_word_hits": stop_hits,
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "symbol_word_ratio": symbol_ratio,
        "g_words": (n_words >= 50) & (n_words <= 100000),
        "g_mean_word_len": (mean_wl >= 3) & (mean_wl <= 10),
        "g_alpha": alpha_frac >= 0.8,
        "g_stops": stop_hits >= 2,
        "g_bullets": bullet_frac <= 0.9,
        "g_ellipsis": ellipsis_frac <= 0.3,
        "g_symbols": symbol_ratio <= 0.1,
    }


def c4_columns(lines: Column) -> dict[str, Column]:
    """C4-style document signals and the keep flag."""
    joined = F.array_join(lines, "\n")
    n_lines = F.nullif(F.size(lines), F.lit(0))
    term_frac = F.round(
        F.size(
            F.filter(
                lines,
                lambda ln: ln.endswith(".")
                | ln.endswith("!")
                | ln.endswith("?")
                | ln.endswith("\""),
            )
        )
        / n_lines,
        6,
    )
    # sentences ≈ terminal-punctuation marks in the document
    n_sentences = (
        F.length(joined)
        - F.length(
            F.translate(joined, ".!?", "")
        )
    ).cast("bigint")
    has_lorem = F.lower(joined).contains("lorem ipsum")
    has_brace = joined.contains("{")
    return {
        "term_punct_line_frac": term_frac,
        "n_sentences": n_sentences,
        "has_lorem": has_lorem,
        "has_brace": has_brace,
        "c4_keep": (~has_lorem) & (~has_brace) & (n_sentences >= 3),
    }


def gopher_repetition_stats_arrow():
    """Arrow-batched repetition statistics — EXACT integer parity with
    the Catalyst run-length folds (``tests/references.py``), ~6x faster.

    Those folds evaluate interpreted (higher-order functions are CodegenFallback), paying
    per-element lambda dispatch for every gram of every document.  All
    the statistics are pure INTEGER counts, so a Counter-based batch
    computation is parity-safe by construction: same n-gram strings
    (``' '.join(words[i:i+n])`` == ``array_join(slice(words,i,n),' ')``),
    same ≥2-occurrence duplicate sums, same ties-to-lexicographically-
    smallest mode (Python str and UTF8String compare identically for
    the codepoint-ordered byte encodings), same Python/Spark codepoint
    ``len``.  The float fractions stay in Catalyst, dividing these
    integers exactly like the fold-based projection, so the oracle
    arithmetic is untouched.  Pinned fold-vs-arrow by
    tests/test_webfilter_arrow.py.

    Returns a pandas UDF ``(lines, words) -> struct`` of six bigints:
    line dup elems/chars, top-{2,3,4}-gram chars, dup-5-gram chars.
    """
    import pandas as pd

    from collections import Counter

    def _dup(cnt: Counter) -> tuple[int, int]:
        de = sum(c for c in cnt.values() if c >= 2)
        dc = sum(c * len(k) for k, c in cnt.items() if c >= 2)
        return de, dc

    def _top_chars(cnt: Counter) -> int:
        if not cnt:
            return 0
        best_cnt = max(cnt.values())
        best_val = min(k for k, c in cnt.items() if c == best_cnt)
        return best_cnt * len(best_val)

    def _grams(words, n) -> Counter:
        return Counter(
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        )

    def _stats(lines, words):
        rows = []
        for ls, ws in zip(lines, words):
            ls = list(ls) if ls is not None else []
            ws = list(ws) if ws is not None else []
            l_de, l_dc = _dup(Counter(ls))
            rows.append(
                {
                    "l_dup_elems": l_de,
                    "l_dup_chars": l_dc,
                    "top2_chars": _top_chars(_grams(ws, 2)),
                    "top3_chars": _top_chars(_grams(ws, 3)),
                    "top4_chars": _top_chars(_grams(ws, 4)),
                    "dup5_chars": _dup(_grams(ws, 5))[1],
                }
            )
        return pd.DataFrame(
            rows,
            columns=[
                "l_dup_elems", "l_dup_chars", "top2_chars",
                "top3_chars", "top4_chars", "dup5_chars",
            ],
            dtype="int64",
        )

    return F.pandas_udf(
        _stats,
        returnType=(
            "struct<l_dup_elems:bigint,l_dup_chars:bigint,"
            "top2_chars:bigint,top3_chars:bigint,top4_chars:bigint,"
            "dup5_chars:bigint>"
        ),
    )
