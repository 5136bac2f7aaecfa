"""Markdown report writer (SURVEY.md §2.8 K1, §2.10 formatting).

Driver-side: consumes the collected stage-1 aggregate + stage-2
evaluations and writes a human-readable markdown report with a TOC,
an overview section, and one section per source column (numeric columns
get the extended min/max/mean/median/std subsection). Number formatting
mirrors the reference's conventions (report.py:322-346): thousands
separators for integral values, fixed precision for floats, ``±``-joined
mean/std pairs.
"""

from __future__ import annotations

import os

import pandas as pd

from .functions.aggregates import (
    COLUMN_PREFIX,
    NUMERIC_PREFIX,
    OVERVIEW_PREFIX,
    TIME_INTERVAL_COL,
)
from .operators.evaluate import ColumnEvaluation, evaluate_data


def format_number(x, precision: int = 4) -> str:
    """Thousands separators for integral values, ``precision`` decimals
    otherwise, scientific for very large/small magnitudes (reference
    ``markdown.float_precision``, report.py:322-346)."""
    if x is None or (isinstance(x, float) and pd.isna(x)):
        return "—"
    if isinstance(x, (int,)) or (isinstance(x, float) and float(x).is_integer()):
        v = int(x)
        return f"{v:,}" if abs(v) < 10**15 else f"{float(v):.{precision}e}"
    x = float(x)
    if x != 0 and (abs(x) >= 10**9 or abs(x) < 10**-4):
        return f"{x:.{precision}e}"
    return f"{x:,.{precision}f}"


def format_pair(mean, std, precision: int = 4) -> str:
    return f"{format_number(mean, precision)} ± {format_number(std, precision)}"


def _anchor(title: str) -> str:
    return title.lower().replace(" ", "-").replace(",", "").replace("%", "")


def _stats_table(evals: list[ColumnEvaluation], precision: int = 4) -> str:
    """Transposed markdown table: statistics as rows, columns as series
    (reference report.py:272-278 layout)."""
    if not evals:
        return "_no statistics_\n"
    headers = [e.title for e in evals]
    rows = [
        ("Mean ± Std", [format_pair(e.mean, e.std, precision) for e in evals]),
        ("Range [Min]", [format_number(e.min, precision) for e in evals]),
        ("Range [Max]", [format_number(e.max, precision) for e in evals]),
        ("Q1", [format_number(e.q1, precision) for e in evals]),
        ("Q3", [format_number(e.q3, precision) for e in evals]),
        ("IQR outliers, %", [format_number(e.pct_outliers_iqr, precision) for e in evals]),
        ("Z-score outliers, %", [format_number(e.pct_outliers_zscore, precision) for e in evals]),
    ]
    md = "| Statistic | " + " | ".join(headers) + " |\n"
    md += "|---" * (len(headers) + 1) + "|\n"
    for name, cells in rows:
        md += f"| {name} | " + " | ".join(cells) + " |\n"
    return md


def make_report(
    aggregate: pd.DataFrame,
    metadata: dict[str, str | None],
    config: dict | None = None,
    output_path: str | None = None,
) -> str:
    """Build (and optionally write) the markdown report.

    ``aggregate``: collected stage-1 output (``__time_interval`` + the
    name-encoded stat columns), in any row order; it is put in time
    order here, NULL interval first as Spark's ascending sort does.
    ``metadata``: source column → numeric dtype string or None (drives
    numeric subsections).
    """
    aggregate = aggregate.sort_values(TIME_INTERVAL_COL, na_position="first")
    config = config or {}
    # reference config shape nests these under "outliers" with keys
    # criterion / multiplier_iqr / threshold_z_score (config.json:13-17);
    # flat keys are accepted as a convenience fallback
    outliers = config.get("outliers") or {}
    multiplier_iqr = float(
        outliers.get("multiplier_iqr", config.get("multiplier_iqr", 1.5))
    )
    threshold_zscore = float(
        outliers.get(
            "threshold_z_score", config.get("threshold_zscore", 3.0)
        )
    )
    criterion = outliers.get(
        "criterion", config.get("outliers_criterion", "IQR")
    )
    precision = int(
        (config.get("markdown") or {}).get(
            "float_precision", config.get("float_precision", 4)
        )
    )

    def _evaluate(cols: list[str]) -> list[ColumnEvaluation]:
        if not cols:
            return []
        sub = aggregate[[TIME_INTERVAL_COL] + cols]
        return evaluate_data(
            sub, multiplier_iqr=multiplier_iqr,
            threshold_zscore=threshold_zscore, outliers_criterion=criterion,
        ).evaluations

    # reference chart parity (plot.py:9-71): a "plotly" (or "charts")
    # config section turns on per-group chart artifacts, embedded below
    # each section's stats table
    # present-and-not-false turns charts on: {} (reference-style empty
    # section) and true both enable; an explicit false disables
    charts_on = any(
        k in config and config[k] is not False for k in ("plotly", "charts")
    )
    charts_dir = None
    if charts_on and output_path:
        charts_dir = os.path.join(os.path.dirname(output_path) or ".", "charts")

    def _chart_md(cols: list[str], evals: list[ColumnEvaluation], slug: str) -> str:
        if not (charts_dir and evals):
            return ""
        from .charts import make_charts

        section = config.get("plotly") or config.get("charts")
        # a bare boolean toggle ("plotly": true) is a valid way to turn
        # charts on — only dict sections carry options
        fmt = section.get("format") if isinstance(section, dict) else None
        path = make_charts(
            aggregate[[TIME_INTERVAL_COL] + cols], evals, charts_dir, slug, fmt=fmt
        )
        rel = os.path.relpath(path, os.path.dirname(output_path) or ".")
        return f"\n![{slug}]({rel})\n"

    title = config.get("report_title", "Data quality evaluation")
    n_intervals = len(aggregate)
    lo = aggregate[TIME_INTERVAL_COL].min()
    hi = aggregate[TIME_INTERVAL_COL].max()

    sections: list[tuple[str, str]] = []

    overview_cols = [c for c in aggregate.columns if c.startswith(OVERVIEW_PREFIX)]
    overview_evals = _evaluate(overview_cols)
    sections.append((
        "Overview",
        _stats_table(overview_evals, precision)
        + _chart_md(overview_cols, overview_evals, "overview"),
    ))

    for col, dtype in metadata.items():
        cols = [
            c for c in aggregate.columns
            if c.startswith(f"{COLUMN_PREFIX}{col} ")
        ]
        evals = _evaluate(cols)
        body = _stats_table(evals, precision) + _chart_md(cols, evals, f"column-{col}")
        if dtype is not None:
            num_cols = [
                c for c in aggregate.columns
                if c.startswith(f"{NUMERIC_PREFIX}{col} ")
            ]
            num_evals = _evaluate(num_cols)
            body += f"\n**Numeric statistics** (`{dtype}`)\n\n"
            body += _stats_table(num_evals, precision)
            body += _chart_md(num_cols, num_evals, f"numeric-{col}")
        sections.append((f"Column `{col}`", body))

    md = []
    # reference parity (report.py:153-159): markdown.css_style prepends a
    # stylesheet link when the file exists; silently skipped otherwise.
    # Relative paths resolve against the REPORT's directory (like the
    # chart embeds) and the emitted href stays relative, so the report
    # directory remains portable; quotes are HTML-escaped.
    css_style = (config.get("markdown") or {}).get("css_style")
    if css_style:
        base = os.path.dirname(output_path) if output_path else "."
        resolved = (
            str(css_style)
            if os.path.isabs(str(css_style))
            else os.path.join(base or ".", str(css_style))
        )
        if os.path.isfile(resolved):
            href = (
                str(css_style)
                if not os.path.isabs(str(css_style))
                else os.path.relpath(resolved, base or ".")
            )
            href = href.replace("&", "&amp;").replace("'", "&#39;")
            md.append(f"<link rel='stylesheet' href='{href}'>\n")
    md.append(f"# {title}\n")
    md.append(
        f"_{n_intervals} time intervals, {lo} → {hi}; outlier criterion: "
        f"{criterion} (IQR×{multiplier_iqr}, Z>{threshold_zscore})._\n"
    )
    md.append("## Contents\n")
    for t, _ in sections:
        md.append(f"- [{t}](#{_anchor(t)})")
    md.append("")
    for t, body in sections:
        md.append(f"## {t}\n")
        md.append(body)
    content = "\n".join(md) + "\n"

    if output_path:
        os.makedirs(os.path.dirname(output_path) or ".", exist_ok=True)
        with open(output_path, "w") as fh:
            fh.write(content)
    return content
