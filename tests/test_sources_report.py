from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from data_quality_automated_evaluator_spark.sources.readers import (
    handle_environment_variables,
    handle_schema_overrides,
    read_source,
    _jdbc_url,
)


def test_env_substitution(monkeypatch):
    monkeypatch.setenv("MY_KEY", "sekret")
    out = handle_environment_variables(
        {"uri": "$MY_KEY", "nested": {"token": "$MY_KEY"}, "plain": "x", "n": 3}
    )
    assert out["uri"] == "sekret"
    assert out["nested"]["token"] == "sekret"
    assert out["plain"] == "x" and out["n"] == 3
    with pytest.raises(KeyError):
        handle_environment_variables({"uri": "$NOPE_NOT_SET"})


def test_schema_overrides_mapping():
    from pyspark.sql import types as T

    m = handle_schema_overrides(
        {"a": "String", "b": "Date", "c": "Datetime", "d": "Categorical", "e": "Nope"}
    )
    assert m["a"] == T.StringType()
    assert m["b"] == T.DateType()
    assert m["c"] == T.TimestampType()
    assert m["d"] == T.StringType()
    assert "e" not in m  # warn + skip


def test_jdbc_url():
    assert (
        _jdbc_url("postgresql://u:p@host:5432/db")
        == "jdbc:postgresql://host:5432/db?user=u&password=p"
    )
    assert _jdbc_url("jdbc:postgresql://h/db") == "jdbc:postgresql://h/db"


def test_read_source_dispatch(spark, sf_dir, tmp_path):
    df = read_source(spark, {"path": f"{sf_dir}/events.parquet"})
    assert df.count() > 0
    # csv with overrides
    csv = tmp_path / "t.csv"
    csv.write_text("a,b,d\n1,x,2023-01-01\n2,y,2023-01-02\n")
    df = read_source(
        spark,
        {"path": str(csv), "schema_overrides": {"a": "String", "d": "Date"}},
    )
    assert dict(df.dtypes)["a"] == "string"
    assert dict(df.dtypes)["d"] == "date"
    with pytest.raises(ValueError, match="unsupported file format"):
        read_source(spark, {"path": "x.xyz"})
    # orc round-trip (columnar sibling of parquet, free with Spark)
    orc_dir = str(tmp_path / "events_orc")
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(100).write.orc(orc_dir)
    df = read_source(spark, {"path": orc_dir, "file_format": "orc"})
    assert df.count() == 100
    assert "event_type" in df.columns


def test_jdbc_live_roundtrip(spark, sf_dir):
    """S5 live-path verification: write then read a real JDBC endpoint —
    the embedded Derby engine that ships in Spark's jars — through
    read_source, including schema overrides on the way out."""
    from data_quality_automated_evaluator_spark.sources.readers import read_source

    url = "jdbc:derby:memory:data_quality_automated_evaluator_spark_test;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = (
        spark.read.parquet(f"{sf_dir}/region.parquet")
    )
    (src.write.format("jdbc").option("url", url).option("dbtable", "regions")
        .option("driver", driver).mode("overwrite").save())

    df = read_source(
        spark,
        {
            "uri": url,
            "dbtable": "regions",
            "file_format": "jdbc",
            "read_options": {"driver": driver},
            "schema_overrides": {"r_name": "String"},
        },
    )
    got = df.toPandas().sort_values("r_regionkey").reset_index(drop=True)
    exp = src.toPandas().sort_values("r_regionkey").reset_index(drop=True)
    assert len(got) == len(exp) > 0
    assert (got["r_name"] == exp["r_name"]).all()


def _write_min_xlsx(path, shared_xml, sheet_xml):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/sharedStrings.xml", shared_xml)
        zf.writestr("xl/worksheets/sheet1.xml", sheet_xml)


def test_xlsx_stdlib_reader(spark, tmp_path):
    """XLSX reads without openpyxl via the stdlib zip+XML parser (S4):
    shared strings, inline strings, numerics, header row."""
    from data_quality_automated_evaluator_spark.sources.readers import (
        _read_xlsx_stdlib,
        read_source,
    )

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    shared = (
        f'<?xml version="1.0"?><sst {ns}>'
        "<si><t>name</t></si><si><t>score</t></si>"
        "<si><t>alice</t></si><si><t>bob</t></si></sst>"
    )
    sheet = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>1.5</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3"><v>2</v></c></row>'
        '<row r="4"><c r="A4" t="inlineStr"><is><t>carol</t></is></c>'
        '<c r="B4"><v>3.25</v></c></row>'
        "</sheetData></worksheet>"
    )
    path = str(tmp_path / "mini.xlsx")
    _write_min_xlsx(path, shared, sheet)

    pdf = _read_xlsx_stdlib(path)
    assert list(pdf.columns) == ["name", "score"]
    assert pdf["name"].tolist() == ["alice", "bob", "carol"]
    assert pdf["score"].tolist() == [1.5, 2.0, 3.25]

    df = read_source(spark, {"path": path, "schema_overrides": {"name": "String"}})
    assert df.count() == 3
    assert dict(df.dtypes)["score"] == "double"


def test_iceberg_table_dispatch(spark, sf_dir):
    """Iceberg catalog tables without the runtime jar: a catalog
    ``table`` source resolves through spark.table (exactly what
    format("iceberg") tables do once the catalog is configured)."""
    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    src.createOrReplaceTempView("iceberg_like_table")
    from data_quality_automated_evaluator_spark.sources.readers import read_source

    df = read_source(spark, {"table": "iceberg_like_table"})
    assert df.count() == src.count()


def test_hf_path_resolution(spark, sf_dir, tmp_path):
    """hf:// globs resolve through the (mocked) Hub listing + fetch into a
    local cache, then read as ordinary files; cache hits skip the fetch."""
    import shutil

    from data_quality_automated_evaluator_spark.sources.readers import resolve_hf_path

    listing = ["README.md", "data/part-0.parquet", "data/part-1.parquet",
               "other/x.csv"]
    fetched = []

    def fake_list(org, name, rev):
        assert (org, name, rev) == ("acme", "corpus", "main")
        return list(listing)

    def fake_fetch(url, dest):
        fetched.append(url)
        shutil.copy(f"{sf_dir}/region.parquet", dest)

    local = resolve_hf_path(
        "hf://datasets/acme/corpus/data/*.parquet",
        cache_dir=str(tmp_path / "hf"), list_files=fake_list, fetch=fake_fetch,
    )
    assert len(local) == 2 and all(p.endswith(".parquet") for p in local)
    assert len(fetched) == 2
    assert all("resolve/main/data/part-" in u for u in fetched)
    # cache hit: no new fetches
    again = resolve_hf_path(
        "hf://datasets/acme/corpus/data/*.parquet",
        cache_dir=str(tmp_path / "hf"), list_files=fake_list, fetch=fake_fetch,
    )
    assert again == local and len(fetched) == 2
    # resolved files read as a normal Spark source
    df = spark.read.parquet(*local)
    assert df.count() > 0
    # malformed / no-match errors
    with pytest.raises(ValueError):
        resolve_hf_path("hf://notdatasets/a/b/x")
    with pytest.raises(FileNotFoundError):
        resolve_hf_path(
            "hf://datasets/acme/corpus/nope/*.zip",
            cache_dir=str(tmp_path / "hf"), list_files=fake_list, fetch=fake_fetch,
        )


def test_report_and_cli(spark, sf_dir, tmp_path):
    """Drive the reference-shaped lifecycle end-to-end through the CLI."""
    config = {
        "source": {"path": f"{sf_dir}/events.parquet"},
        "date_column": "ts",
        "time_interval": "1d",
        "target_column": "value",
        "columns_to_exclude": ["props"],
        "report_path": str(tmp_path / "out" / "REPORT.md"),
        "plotly": {},  # reference chart-config key → chart artifacts
    }
    cfg_path = tmp_path / "config.json"
    cfg_path.write_text(json.dumps(config))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-m", "data_quality_automated_evaluator_spark.app", str(cfg_path),
         "--master", "local[4]"],
        capture_output=True, text=True, cwd=repo, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = (tmp_path / "out" / "REPORT.md").read_text()
    assert "# Data quality evaluation" in report
    assert "## Column `value`" in report
    assert "Numeric statistics" in report
    assert "Mean ± Std" in report
    assert "## Contents" in report
    # chart parity (reference plot.py): real image artifacts, embedded
    charts = sorted(os.listdir(tmp_path / "out" / "charts"))
    assert any(c.endswith(".svg") for c in charts), charts
    svg = (tmp_path / "out" / "charts" / "overview.svg").read_text()
    assert "<polyline" in svg  # the series trace
    assert 'class="outlier-band"' in svg  # rendered bounds shading
    assert "![overview](charts/overview.svg)" in report


def test_pyfiles_zip(tmp_path):
    from data_quality_automated_evaluator_spark.app import make_pyfiles_zip
    import zipfile

    out = make_pyfiles_zip(str(tmp_path / "pkg.zip"))
    names = zipfile.ZipFile(out).namelist()
    assert "data_quality_automated_evaluator_spark/app.py" in names
    assert "data_quality_automated_evaluator_spark/pipeline/quality.py" in names
    assert not any("__pycache__" in n for n in names)


def test_hf_listing_traversal_rejected(tmp_path):
    """A malicious Hub listing entry with '..' must not escape the cache."""
    from data_quality_automated_evaluator_spark.sources.readers import resolve_hf_path

    def bad_list(org, name, rev):
        return ["../../../../etc/evil.parquet", "data/ok.parquet"]

    def fake_fetch(url, dest):
        open(dest, "w").write("x")

    with pytest.raises(ValueError, match="escapes the cache"):
        resolve_hf_path(
            "hf://datasets/acme/corpus/*.parquet",
            cache_dir=str(tmp_path / "hf"),
            list_files=bad_list, fetch=fake_fetch,
        )


def test_charts_png_without_mpl_is_real_png(tmp_path):
    """An explicit png request without matplotlib yields a REAL decodable
    PNG via the stdlib rasterizer (functions/png.py), never a data file
    a report would embed as a broken <img>."""
    import pandas as pd

    from data_quality_automated_evaluator_spark import charts as ch
    from image_decoders import decode_png
    from data_quality_automated_evaluator_spark.operators.evaluate import ColumnEvaluation

    if ch.HAVE_MPL:
        pytest.skip("matplotlib present; png path is matplotlib's")
    data = pd.DataFrame({"__time_interval": ["a", "b"], "x": [1.0, 2.0]})
    ev = ColumnEvaluation(
        column="x", title="x", mean=1.5, std=0.5, q1=1.0, q3=2.0, min=1.0,
        max=2.0, iqr_lb=0.5, iqr_ub=2.5, n_intervals=2, n_outliers_iqr=0,
        pct_outliers_iqr=0.0, n_outliers_zscore=0, pct_outliers_zscore=0.0,
        chart_bounds=(0.5, 1.5),
    )
    path = ch.make_charts(data, [ev], str(tmp_path), "g", fmt="png")
    assert path.endswith(".png")
    img = decode_png(open(path, "rb").read())
    assert img.shape[2] == 3 and (img < 250).any()


def test_report_boolean_plotly_toggle(tmp_path):
    """'plotly': true (bare boolean) turns charts on without crashing."""
    import pandas as pd

    from data_quality_automated_evaluator_spark.report import make_report

    agg = pd.DataFrame({
        "__time_interval": pd.date_range("2024-01-01", periods=5),
        " __Number of values": [10.0, 11, 9, 12, 10],
    })
    out = str(tmp_path / "rep" / "R.md")
    content = make_report(agg, {}, {"plotly": True}, output_path=out)
    assert "![overview](charts/overview.svg)" in content
    assert os.path.exists(str(tmp_path / "rep" / "charts" / "overview.svg"))


def test_markdown_css_style_link(tmp_path):
    """markdown.css_style prepends a stylesheet link when the file exists
    (reference report.py:153-159); missing files are silently skipped."""
    import pandas as pd

    from data_quality_automated_evaluator_spark.report import make_report

    agg = pd.DataFrame({
        "__time_interval": pd.date_range("2024-01-01", periods=3),
        " __Number of values": [5.0, 6.0, 7.0],
    })
    css = tmp_path / "style.css"
    css.write_text("table { font-size: 12px; }")
    content = make_report(agg, {}, {"markdown": {"css_style": str(css)}})
    assert content.startswith("<link rel='stylesheet'")
    assert str(css) in content
    # nonexistent css → no link, no crash
    content2 = make_report(agg, {}, {"markdown": {"css_style": "/nope.css"}})
    assert "<link" not in content2


def test_svg_escapes_titles_and_labels(tmp_path):
    """Column names / interval labels with XML metacharacters ('&', '<')
    must be escaped — an unescaped title yields an unparseable SVG
    embedded in the report."""
    import xml.etree.ElementTree as ET

    import pandas as pd

    from data_quality_automated_evaluator_spark import charts as ch
    from data_quality_automated_evaluator_spark.operators.evaluate import ColumnEvaluation

    data = pd.DataFrame({"__time_interval": ["a<b", "c&d"], "x": [1.0, 2.0]})
    ev = ColumnEvaluation(
        column="x", title="count & <rate>", mean=1.5, std=0.5, q1=1.0,
        q3=2.0, min=1.0, max=2.0, iqr_lb=0.5, iqr_ub=2.5, n_intervals=2,
        n_outliers_iqr=0, pct_outliers_iqr=0.0, n_outliers_zscore=0,
        pct_outliers_zscore=0.0, chart_bounds=(0.5, 1.5),
    )
    path = ch.render_svg(data, [ev], str(tmp_path / "esc.svg"))
    svg = open(path).read()
    ET.fromstring(svg)  # parses only if metacharacters were escaped
    assert "count &amp; &lt;rate&gt;" in svg
    assert "a&lt;b" in svg and "c&amp;d" in svg


def test_charts_jpeg_export(tmp_path):
    """fmt='jpeg' renders a real decodable baseline JPEG chart via the
    stdlib encoder (reference plot.py:67-71 export-format parity)."""
    import pandas as pd

    from data_quality_automated_evaluator_spark import charts as ch
    from image_decoders import decode_jpeg
    from data_quality_automated_evaluator_spark.operators.evaluate import ColumnEvaluation

    data = pd.DataFrame(
        {"__time_interval": ["a", "b", "c"], "x": [1.0, 3.0, 2.0]}
    )
    ev = ColumnEvaluation(
        column="x", title="x", mean=2.0, std=1.0, q1=1.5, q3=2.5, min=1.0,
        max=3.0, iqr_lb=0.0, iqr_ub=4.0, n_intervals=3, n_outliers_iqr=0,
        pct_outliers_iqr=0.0, n_outliers_zscore=0, pct_outliers_zscore=0.0,
        chart_bounds=(0.5, 2.5),
    )
    path = ch.make_charts(data, [ev], str(tmp_path), "g", fmt="jpeg")
    assert path.endswith(".jpeg")
    img = decode_jpeg(open(path, "rb").read())
    assert img.shape[2] == 3 and (img < 250).any()  # something was drawn


def test_charts_pdf_export(tmp_path):
    """fmt='pdf' emits a structurally valid single-page PDF whose page
    image is our own baseline JPEG (embedded verbatim as /DCTDecode) —
    the xref offsets must point at the actual object starts."""
    import re

    import pandas as pd

    from data_quality_automated_evaluator_spark import charts as ch
    from image_decoders import decode_jpeg
    from data_quality_automated_evaluator_spark.operators.evaluate import ColumnEvaluation

    data = pd.DataFrame(
        {"__time_interval": ["a", "b", "c"], "x": [1.0, 3.0, 2.0]}
    )
    ev = ColumnEvaluation(
        column="x", title="x", mean=2.0, std=1.0, q1=1.5, q3=2.5, min=1.0,
        max=3.0, iqr_lb=0.0, iqr_ub=4.0, n_intervals=3, n_outliers_iqr=0,
        pct_outliers_iqr=0.0, n_outliers_zscore=0, pct_outliers_zscore=0.0,
        chart_bounds=(0.5, 2.5),
    )
    path = ch.make_charts(data, [ev], str(tmp_path), "g", fmt="pdf")
    assert path.endswith(".pdf")
    raw = open(path, "rb").read()
    assert raw.startswith(b"%PDF-1.4") and raw.rstrip().endswith(b"%%EOF")
    # every xref offset lands exactly on "<n> 0 obj" ("\nxref" — a bare
    # rindex("xref") would find the later "startxref" token instead)
    xref = raw[raw.rindex(b"\nxref"):]
    offsets = [int(m) for m in re.findall(rb"^(\d{10}) 00000 n", xref, re.M)]
    assert len(offsets) == 5
    for i, off in enumerate(offsets, start=1):
        assert raw[off:].startswith(f"{i} 0 obj".encode()), (i, off)
    # the embedded DCTDecode stream is a decodable JPEG of the canvas
    m = re.search(rb"/Filter /DCTDecode /Length (\d+) >>\nstream\n", raw)
    assert m
    start = m.end()
    jpg = raw[start : start + int(m.group(1))]
    img = decode_jpeg(jpg)
    assert img.shape == (170, 720, 3)


def test_charts_eps_export(tmp_path):
    """fmt='eps' emits a DSC-compliant Level-2 PostScript colorimage
    whose hex payload round-trips byte-exactly to the shared raster."""
    import binascii

    import numpy as np
    import pandas as pd

    from data_quality_automated_evaluator_spark import charts as ch
    from data_quality_automated_evaluator_spark.operators.evaluate import ColumnEvaluation

    data = pd.DataFrame(
        {"__time_interval": ["a", "b", "c"], "x": [1.0, 3.0, 2.0]}
    )
    ev = ColumnEvaluation(
        column="x", title="x", mean=2.0, std=1.0, q1=1.5, q3=2.5, min=1.0,
        max=3.0, iqr_lb=0.0, iqr_ub=4.0, n_intervals=3, n_outliers_iqr=0,
        pct_outliers_iqr=0.0, n_outliers_zscore=0, pct_outliers_zscore=0.0,
        chart_bounds=(0.5, 2.5),
    )
    path = ch.make_charts(data, [ev], str(tmp_path), "g", fmt="eps")
    assert path.endswith(".eps")
    text = open(path, encoding="ascii").read()
    lines = text.split("\n")
    assert lines[0] == "%!PS-Adobe-3.0 EPSF-3.0"
    assert lines[1].startswith("%%BoundingBox: 0 0 ")
    w, h = (int(v) for v in lines[1].split()[-2:])
    assert max(len(ln) for ln in lines) < 255  # DSC line-length limit
    hex_part = "".join(
        ln for ln in lines if ln and all(c in "0123456789abcdef" for c in ln)
    )
    raster = np.frombuffer(
        binascii.unhexlify(hex_part), dtype=np.uint8
    ).reshape(h, w, 3)
    expected = ch._render_canvas(data, [ev])
    assert (w, h) == (expected.shape[1], expected.shape[0])
    assert np.array_equal(raster, expected)
    assert text.rstrip().endswith("%%EOF")
