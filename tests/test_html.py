"""HTML → text extraction + URL/domain stats (operators/html.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.operators.html import (
    domain_expr,
    extract_urls,
    html_to_text,
    url_domain_stats,
)


def _clean(spark, html: str) -> str:
    df = spark.createDataFrame([(html,)], "html string")
    return html_to_text(df).collect()[0]["text_clean"]


def test_script_style_comment_bodies_removed(spark):
    out = _clean(
        spark,
        '<html><head><style>p{color:red}</style>'
        '<script>if(a<b){x="</div>";}</script></head>'
        "<body><!-- secret --><p>Hello world</p></body></html>",
    )
    assert out == "Hello world"
    assert "secret" not in out and "color" not in out


def test_block_tags_become_newlines_inline_vanish(spark):
    out = _clean(
        spark,
        "<h1>Title</h1><p>one <em>two</em> three</p><ul><li>a</li>"
        "<li>b</li></ul><div>tail</div>",
    )
    assert out.splitlines() == ["Title", "one two three", "a", "b", "tail"]


def test_entity_subset_single_decode(spark):
    # &amp;lt; must decode exactly once (to the literal string "&lt;"),
    # and decoded '<' must NOT create a strippable pseudo-tag
    out = _clean(spark, "<p>a &amp;lt; b &lt;i&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>")
    assert out == 'a &lt; b <i> "q" \'s\' end'


def test_whitespace_collapse_and_trim(spark):
    out = _clean(spark, "<p>  a\t\tb  </p><p></p><p></p><p>c</p>")
    assert out == "a b\nc"


def test_extract_urls_and_links(spark):
    df = spark.createDataFrame(
        [(0, 'see https://A.example.com/p?q=1 or <a href="http://b.org/x">z</a>')],
        "doc_id long, text string",
    )
    urls = extract_urls(df).collect()[0]["urls"]
    assert urls == ["https://A.example.com/p?q=1", 'http://b.org/x">z</a>'[: len("http://b.org/x")]] or urls[0].startswith("https://A.example.com")
    dom = df.select(domain_expr(F.lit("https://A.Example.com:8080/p")).alias("d")).collect()[0]["d"]
    assert dom == "a.example.com"


def test_url_domain_stats_counts(spark):
    df = spark.createDataFrame(
        [
            (0, "x https://a.com/1 y https://a.com/2"),
            (1, "z https://a.com/3 w http://B.net/q"),
            (2, "no urls here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["domain"]: r for r in url_domain_stats(df).collect()}
    assert rows["a.com"]["n_urls"] == 3 and rows["a.com"]["n_docs"] == 2
    assert rows["b.net"]["n_urls"] == 1 and rows["b.net"]["n_docs"] == 1


def test_html_to_text_plan_is_map_only(spark):
    df = spark.createDataFrame([("<p>x</p>",)], "html string")
    plan = html_to_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
