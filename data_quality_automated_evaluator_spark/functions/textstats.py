r"""Per-turn heuristic text statistics as Spark Column expressions.

They stay 100% JVM (built-in ``pyspark.sql.functions`` inside
whole-stage codegen — these are the hot-path features at 10^12 rows).
Each keep-rule input (:data:`RULE_INPUTS`) is one Spark Column builder
plus one DuckDB SQL builder over the same class constants, which avoid
what means different things in Java and RE2: ``\s`` (Java's includes
``\x0B``), ``\b`` (ASCII-only in RE2; :data:`WORD_CLASS`) and bare
``lower()`` (:data:`CASE_PRE`). The stopword count (:data:`N_STOPWORDS`)
is built the same way.

Features:
- ``n_chars``   code-point length
- ``n_tokens``  count of non-whitespace runs (:data:`TOKEN_CLASS`)
- ``symbol_ratio``      ASCII-punctuation chars / n_chars
- ``distinct_token_ratio``  distinct case-folded tokens / tokens
- ``stopword_ratio``    English stopword tokens / tokens (quality score input)
- ``quality_score``     composite in [0,1] (length/punct/stopword blend)
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Explicit ASCII punctuation/symbol set: '!'..'/'  ':'..'@'  '['..'`'  '{'..'~'
SYMBOL_CLASS = r"[!-/:-@\[-`{-~]"
# A token is a run of anything but Java's \s whitespace, spelled out
TOKEN_CLASS = r"[^\t\n\x0B\f\r ]+"
# lower() gives the same tokens in Java and DuckDB once these characters
# are mapped first: Java lowers İ to "i̇" and a word-final Σ to "ς",
# DuckDB to "i" and "σ"
CASE_PRE = ("İΣ", "iσ")
# A word is a run of what Java's \b counts as word characters, spelled
# out (RE2's \b knows ASCII only): letters, decimal digits and "_", and
# the non-spacing marks after them (Java's \b alone leaves out a mark
# right after "_"). Two classes, not a repeated group: Java's regex
# recurses once per group iteration and overflows its stack on a long word.
WORD_CLASS = r"[\p{L}\p{Nd}_][\p{L}\p{Mn}\p{Nd}_]*"

STOPWORDS = [
    "the", "and", "of", "is", "to", "a", "in", "for", "with", "on",
    "it", "this", "that", "we", "our", "an", "be", "as", "at", "by",
]

# GPT-2-flavored pretokenizer, restricted to constructs with identical
# semantics in Java regex and RE2/DuckDB (no lookahead — RE2 lacks it):
# contraction suffixes, space-prefixed letter runs, digit runs, symbol
# runs, whitespace runs. Counts approximate BPE token counts well enough
# for length budgeting; cross-engine value parity is oracle-checked.
# (Python `re` has no \p{} classes — a pandas mirror would need the
# third-party `regex` module; the oracle here is DuckDB, not pandas.)
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count as a pure JVM expression (codegen hot path)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def bpe_token_count_sql(text: str) -> str:
    pattern = BPE_TOKEN_RE.replace("'", "''")
    return f"len(regexp_extract_all({text}, '{pattern}'))"


class TextStat(NamedTuple):
    """One keep-rule input: its Spark Column and its DuckDB SQL."""

    spark: Callable[[Column], Column]
    sql: Callable[[str], str]


def _distinct_tokens(text: Column) -> Column:
    pre = F.when(  # translate is per-character, so only on the rare rows
        text.contains(CASE_PRE[0][0]) | text.contains(CASE_PRE[0][1]),
        F.translate(text, *CASE_PRE),
    ).otherwise(text)
    toks = F.regexp_extract_all(F.lower(pre), F.lit(TOKEN_CLASS), F.lit(0))
    return F.array_size(F.array_distinct(toks))


N_CHARS = TextStat(F.length, lambda t: f"length({t})")
N_TOKENS = TextStat(lambda t: F.regexp_count(t, F.lit(TOKEN_CLASS)),
                    lambda t: f"len(regexp_extract_all({t}, '{TOKEN_CLASS}'))")
N_SYMBOLS = TextStat(lambda t: F.regexp_count(t, F.lit(SYMBOL_CLASS)),
                     lambda t: f"len(regexp_extract_all({t}, '{SYMBOL_CLASS}'))")
# distinct case-folded tokens, taken from the runs N_TOKENS counts
N_DISTINCT = TextStat(_distinct_tokens, lambda t: (
    f"len(list_distinct(regexp_extract_all(lower(translate("
    f"{t}, '{CASE_PRE[0]}', '{CASE_PRE[1]}')), '{TOKEN_CLASS}')))"))
RULE_INPUTS = {"n_chars": N_CHARS, "n_tokens": N_TOKENS,
               "n_symbols": N_SYMBOLS, "n_distinct": N_DISTINCT}
# words equal to a stopword after lower(); DuckDB is given Java's "i̇"
# for İ, so a lowered İ stays a non-ASCII word on both sides
_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)
N_STOPWORDS = TextStat(
    lambda t: F.array_size(F.filter(
        F.regexp_extract_all(F.lower(t), F.lit(WORD_CLASS), F.lit(0)),
        lambda w: w.isin(STOPWORDS))),
    lambda t: (f"len(list_filter(regexp_extract_all(lower(replace({t}, 'İ', 'i\u0307')), "
               f"'{WORD_CLASS}'), w -> w IN ({_STOP_IN})))"))


def rule_inputs_sql(text: str) -> str:
    """SELECT-list of the four keep-rule inputs of SQL expression ``text``."""
    return ",\n         ".join(
        f"{stat.sql(text)} AS {name}" for name, stat in RULE_INPUTS.items()
    )


# ---------------------------------------------------------------------------
# Spark side (Column expressions — JVM, codegen)
# ---------------------------------------------------------------------------

def spark_text_features(text: Column) -> dict[str, Column]:
    """Build the feature Columns for a text column."""
    chars, tokens = N_CHARS.spark(text), N_TOKENS.spark(text)
    n_stop = N_STOPWORDS.spark(text)
    symbol_ratio = F.when(chars > 0, N_SYMBOLS.spark(text) / chars).otherwise(F.lit(0.0))
    distinct_ratio = F.when(tokens > 0, N_DISTINCT.spark(text) / tokens).otherwise(F.lit(1.0))
    stopword_ratio = F.when(tokens > 0, n_stop / tokens).otherwise(F.lit(0.0))
    quality = (
        F.least(tokens / F.lit(20.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(symbol_ratio * 2, F.lit(1.0))) * 0.3
        + F.least(stopword_ratio * 4, F.lit(1.0)) * 0.3
    )
    return {
        "n_chars": chars.cast("int"),
        "n_tokens": tokens.cast("int"),
        "symbol_ratio": symbol_ratio.cast("double"),
        "distinct_token_ratio": distinct_ratio.cast("double"),
        "stopword_ratio": stopword_ratio.cast("double"),
        "quality_score": quality.cast("double"),
    }


def with_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    feats = spark_text_features(F.col(text_col))
    return df.withColumns(feats)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------

def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` terms by smoothed TF-IDF:
    ``score = tf * (ln((N + 1) / (df + 1)) + 1)`` over lowercase
    whitespace tokens. Deterministic total order ``(score DESC, term)``
    so ranks are engine-stable. Output: ``(id_col, term, rank, score)``.

    Scale shape: explode → two hash aggregations ((doc, term) counts,
    then per-term document frequency) → equi-join back on ``term``
    (uniform keys; AQE broadcasts the df side when the vocabulary is
    small, shuffle-joins when it is not — at web scale the vocab is
    itself huge, so it must NOT be forced broadcast) + a 1-row
    broadcast of N. All JVM; value-checked by the DuckDB oracle.
    """
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    terms = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            F.col("rank").cast("int").alias("rank"),
            F.round("score", 6).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Repetition statistics (Gopher-style quality signals)
# ---------------------------------------------------------------------------

def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals for training-data filtering
    (the "repeated content" family of Gopher/C4-style quality rules):

    - ``dup_word_frac``: fraction of word occurrences that are repeats
      (1 - distinct/total) — boilerplate and keyword-stuffing detector;
    - ``top_bigram_share``: share of the most frequent word 2-gram
      among all 2-grams — looping/spam detector.

    Pure Catalyst (split → array ops → explode → two HashAggregates);
    exactly reproducible in SQL, so the driver oracle value-checks it.
    At 10^12 rows the explode fan-out is ~n_words per row, all map-side
    before the (doc-keyed, uniformly distributed) aggregations.
    """
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col),
        words.alias("w"),
    ).select(
        id_col,
        F.size("w").cast("long").alias("n_words"),
        F.size(F.array_distinct("w")).cast("long").alias("n_distinct"),
        # size(w) < 2 → no bigrams → doc drops out (matching the oracle's
        # empty range()); the naive sequence(1, size-1) would DESCEND for
        # size 1 ([1,0]) and crash element_at on the out-of-bounds index
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w)-1),"
                " i -> concat_ws(' ', element_at(w, i), element_at(w, i+1)))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    counts = base.groupBy(id_col, "n_words", "n_distinct", "g").count()
    agg = counts.groupBy(id_col, "n_words", "n_distinct").agg(
        F.max("count").alias("top"), F.sum("count").alias("total")
    )
    return agg.select(
        F.col(id_col),
        F.col("n_words"),
        F.round((F.col("n_words") - F.col("n_distinct")) / F.col("n_words"), 6)
        .alias("dup_word_frac"),
        F.round(F.col("top") / F.col("total"), 6).alias("top_bigram_share"),
    )


def zipf_slope_stats(
    df: DataFrame, text_col: str = "text", topk: int = 1000
) -> DataFrame:
    """Corpus-level Zipf rank-frequency diagnostic: OLS slope of
    log2(freq) vs log2(rank) over the top-``topk`` whitespace tokens.

    Natural corpora sit near slope -1; a much flatter slope flags
    template/boilerplate floods, a much steeper one flags
    keyword-stuffed or truncated vocabularies — a standard one-number
    corpus-health signal alongside the per-document Gopher/C4 rules.

    Scale shape: one exploded-token HashAggregate with map-side
    partials (the tfidf_top_terms pattern), a TakeOrderedAndProject
    cut to ``topk`` rows (never a global window over the vocabulary),
    then an unpartitioned row_number over the <=topk-row frame (one
    task on purpose; Spark logs its no-partition WindowExec warning)
    and ONE tiny aggregate.  Nothing after the vocab
    agg touches more than ``topk`` rows.

    Cross-engine value-hash discipline (the DSIR trick): both log2
    values are quantized to integer micro-log2 BEFORE summing, so the
    OLS sums are BIGINT-exact and shuffle-order-proof; the final
    slope/intercept are computed from those exact integers through an
    arithmetic tree written identically in the DuckDB twin.  The 1e6
    scale cancels in the slope; the intercept divides it back out.
    """
    from pyspark.sql import Window

    words = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    counts = (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(topk)
    w = Window.orderBy(F.col("cnt").desc(), F.col("word").asc())
    ranked = top.select(F.row_number().over(w).alias("rank"), F.col("cnt"))
    qx = F.floor(F.log2(F.col("rank")) * 1000000.0 + 0.5).cast("long")
    qy = F.floor(F.log2(F.col("cnt")) * 1000000.0 + 0.5).cast("long")
    s = ranked.select(qx.alias("qx"), qy.alias("qy")).agg(
        F.count("*").alias("n"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).alias("sxx"),
        F.sum(F.col("qx") * F.col("qy")).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope_raw = (n * 1.0 * sxy - sx * 1.0 * sy) / (
        n * 1.0 * sxx - sx * 1.0 * sx
    )
    intercept_raw = (sy * 1.0 - slope_raw * sx) / (n * 1.0) / 1000000.0
    return s.select(
        n.alias("n_terms"),
        F.round(
            F.when(n >= 2, slope_raw).otherwise(F.lit(0.0)), 6
        ).alias("zipf_slope"),
        F.round(
            F.when(n >= 2, intercept_raw).otherwise(F.lit(0.0)), 6
        ).alias("intercept_log2"),
    )


def zipf_oracle_sql(
    table: str, text_col: str = "text", topk: int = 1000
) -> str:
    """DuckDB twin of zipf_slope_stats: identical tokenization, cut,
    quantization and arithmetic tree."""
    return f"""
    WITH words AS (
      SELECT unnest(list_filter(string_split_regex(trim(lower({text_col})),
                                '\\s+'), w -> w <> '')) AS word
      FROM {table}
    ), counts AS (
      SELECT word, count(*) AS cnt FROM words GROUP BY word
    ), top AS (
      SELECT word, cnt FROM counts ORDER BY cnt DESC, word ASC LIMIT {topk}
    ), ranked AS (
      SELECT row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank, cnt
      FROM top
    ), q AS (
      SELECT CAST(floor(log2(rank) * 1000000.0 + 0.5) AS BIGINT) AS qx,
             CAST(floor(log2(cnt) * 1000000.0 + 0.5) AS BIGINT) AS qy
      FROM ranked
    ), s AS (
      SELECT count(*) AS n, sum(qx) AS sx, sum(qy) AS sy,
             sum(qx * qx) AS sxx, sum(qx * qy) AS sxy
      FROM q
    )
    SELECT n AS n_terms,
           round(CASE WHEN n >= 2 THEN
             (n * 1.0 * sxy - sx * 1.0 * sy) / (n * 1.0 * sxx - sx * 1.0 * sx)
             ELSE 0.0 END, 6) AS zipf_slope,
           round(CASE WHEN n >= 2 THEN
             ((sy * 1.0 - ((n * 1.0 * sxy - sx * 1.0 * sy)
                / (n * 1.0 * sxx - sx * 1.0 * sx)) * sx) / (n * 1.0))
               / 1000000.0
             ELSE 0.0 END, 6) AS intercept_log2
    FROM s
    """
