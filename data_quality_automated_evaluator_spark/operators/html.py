"""HTML → text extraction (WET-style) and URL/domain analysis.

Web-scale training corpora arrive as raw HTML (Common-Crawl WARC →
WET); the extraction step — strip markup/script/style, decode
entities, normalize whitespace, pull out links — is the first
operator of every web pipeline. The reference evaluator has no HTML
path (SURVEY.md §2.12); this is a graft addition in the same family
as lines.py / normalize.py.

Spark-first shape: the WHOLE transformation is a chain of JVM
``regexp_replace`` calls — codegen'd, map-only, zero shuffles, zero
Python. At 100 TB this runs at scan speed with no exchange at all.

Oracle strategy: the rule chain lives in ONE table below
(`_RULES`) and both engines execute it verbatim — Spark via
``F.regexp_replace``, DuckDB via generated nested
``regexp_replace(..., 'g')`` (`strip_oracle_expr`). Every construct
used is in the Java-regex ∩ RE2 intersection: inline ``(?is)``,
non-greedy ``.*?``, char classes, alternation — no backreferences,
no lookarounds.

Entity handling is the documented-subset approach: the named
entities that dominate real markup (amp/lt/gt/quot/apos/#39/nbsp)
are decoded, ``&amp;`` last so ``&amp;lt;`` becomes the literal
``&lt;`` (single decode, per the HTML spec); arbitrary numeric
references pass through unchanged (decoding them needs a
compute-replace neither engine's regexp_replace has — route to an
Arrow UDF if a corpus needs it).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "html_to_text",
    "strip_oracle_expr",
    "extract_urls",
    "domain_expr",
    "url_domain_stats",
    "URL_PATTERN",
]

# ordered (pattern, replacement) chain — order is semantic:
# comments/script/style must go before generic tag removal (their
# bodies may contain tags), entity decode after tag removal (decoded
# '<' must not create strippable pseudo-tags), &amp; decoded last,
# whitespace collapse at the end.
_RULES: list[tuple[str, str]] = [
    # containers whose CONTENT is also discarded
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?is)<noscript\b[^>]*>.*?</noscript>", " "),
    # block-level boundaries become line breaks so document structure
    # survives as lines (C4/WET convention)
    (
        r"(?i)</?(p|div|br|hr|li|ul|ol|tr|td|th|table|h[1-6]|section|"
        r"article|aside|nav|header|footer|blockquote|pre|form)\b[^>]*/?>",
        "\n",
    ),
    # any remaining tag (inline spans, a, em, title, unknown) vanishes
    (r"(?s)</?[a-zA-Z][^>]*>", ""),
    # entity subset; &amp; strictly last
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&apos;", "'"),
    (r"&amp;", "&"),
    # whitespace normalization: horizontal runs → one space, spaces
    # hugging a newline dropped, newline runs → one newline (line-
    # oriented output for the lines.py/boilerplate family), ends
    # trimmed
    (r"[ \t\r\f]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n\n+", "\n"),
    (r"^[ \n]+", ""),
    (r"[ \n]+$", ""),
]

# conservative URL matcher: scheme + everything up to whitespace /
# quote / angle / closing-paren-bracket (the chars that end URLs in
# markup and prose)
URL_PATTERN = r"https?://[^ \t\n\r\"'<>()\[\]]+"
_DOMAIN_PATTERN = r"^https?://([^/:?#]+)"


def html_to_text(
    df: DataFrame, col: str = "html", out: str = "text_clean"
) -> DataFrame:
    """Markup → plain text via the shared rule chain. Map-only: the
    plan is one Project over the scan, whole-stage codegen'd."""
    expr: Column = F.col(col)
    for pat, repl in _RULES:
        expr = F.regexp_replace(expr, pat, repl)
    return df.withColumn(out, expr)


def _sql_str(s: str) -> str:
    """Render a Python string as a DuckDB escaped literal (e'...')."""
    return (
        "e'"
        + s.replace("\\", "\\\\").replace("'", "''").replace("\n", "\\n")
        + "'"
    )


def strip_oracle_expr(col_sql: str) -> str:
    """DuckDB expression applying the identical rule chain to
    ``col_sql`` — the oracle half of the parity contract."""
    e = col_sql
    for pat, repl in _RULES:
        e = f"regexp_replace({e}, {_sql_str(pat)}, {_sql_str(repl)}, 'g')"
    return e


def extract_urls(
    df: DataFrame, col: str = "text", out: str = "urls"
) -> DataFrame:
    """All URLs in ``col`` as an array column (JVM regexp_extract_all)."""
    return df.withColumn(
        out, F.regexp_extract_all(F.col(col), F.lit(URL_PATTERN), 0)
    )


def domain_expr(url: Column) -> Column:
    """Registrable host of a URL, lowercased (port/path/query dropped)."""
    return F.lower(F.regexp_extract(url, _DOMAIN_PATTERN, 1))


def url_domain_stats(
    df: DataFrame, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """Per-domain corpus stats: total mentions + distinct documents.

    Shape at scale: map-side extract/explode (no data ever widens past
    the URL list), then ONE hash aggregation keyed by domain — domains
    are Zipfian but the two-column payload is tiny and AQE skew-split
    handles the head; no distinct-Expand (count(DISTINCT id) over the
    exploded frame is a partial-agg pair on (domain, id))."""
    urls = (
        extract_urls(df.select(id_col, col), col)
        .select(id_col, F.explode("urls").alias("url"))
        .select(id_col, domain_expr(F.col("url")).alias("domain"))
        .filter(F.col("domain") != "")
    )
    return urls.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct(id_col).alias("n_docs"),
    )
