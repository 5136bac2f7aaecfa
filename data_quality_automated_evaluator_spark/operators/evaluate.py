"""Stage-2 evaluation: eager statistics over the per-interval time series.

The stage-1 aggregate has one row per time interval (≤ thousands of
rows even for years of data), so — exactly like the reference, which
runs this phase on the collected frame (evaluate.py:7-8) — we collect
via Arrow and compute driver-side in pandas. Distributing rows that fit
in L2 cache would only add shuffle latency.

Reference-semantics parity notes:
- quantiles use *nearest* interpolation (Polars ``Series.quantile``
  default, evaluate.py:40) — pandas defaults to linear, so we pass
  ``interpolation="nearest"`` explicitly;
- std is the sample std (ddof=1);
- Z-score outlier count guards σ==0 → 0 outliers (evaluate.py:92-93);
- IQR bounds: ``Q1 − k·IQR`` / ``Q3 + k·IQR`` with k default 1.5
  (evaluate.py:100-101);
- outlier counts are reported as percentage of intervals
  (evaluate.py:54).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from ..functions.aggregates import TIME_INTERVAL_COL, stat_title

DEFAULT_MULTIPLIER_IQR = 1.5
DEFAULT_THRESHOLD_ZSCORE = 3.0


def count_outliers_zscore(s: pd.Series, mean: float, std: float, threshold: float) -> int:
    if std is None or pd.isna(std) or std == 0:
        return 0
    return int((((s - mean) / std).abs() > threshold).sum())


def count_outliers_iqr(s: pd.Series, lb: float, ub: float) -> int:
    return int(((s < lb) | (s > ub)).sum())


@dataclass
class ColumnEvaluation:
    """Per-statistic-column evaluation (one report row-group)."""

    column: str  # encoded column name
    title: str  # human title (suffix after ' __')
    mean: float
    std: float
    q1: float
    q3: float
    min: float
    max: float
    iqr_lb: float
    iqr_ub: float
    n_intervals: int
    n_outliers_iqr: int
    pct_outliers_iqr: float
    n_outliers_zscore: int
    pct_outliers_zscore: float
    chart_bounds: tuple[float | None, float | None] = (None, None)

@dataclass
class EvaluationResult:
    evaluations: list[ColumnEvaluation] = field(default_factory=list)


def evaluate_data(
    data: pd.DataFrame,
    multiplier_iqr: float = DEFAULT_MULTIPLIER_IQR,
    threshold_zscore: float = DEFAULT_THRESHOLD_ZSCORE,
    outliers_criterion: str = "IQR",
) -> EvaluationResult:
    """Evaluate every stat column of the collected aggregate.

    ``data`` is the stage-1 output: first column ``__time_interval``,
    remaining columns name-encoded statistics. Skips the interval column
    (reference evaluate.py:37).
    """
    result = EvaluationResult()
    for col in data.columns:
        if col == TIME_INTERVAL_COL:
            continue
        s = pd.to_numeric(data[col], errors="coerce")
        mean = s.mean()
        std = s.std(ddof=1)
        q1 = s.quantile(0.25, interpolation="nearest")
        q3 = s.quantile(0.75, interpolation="nearest")
        iqr = q3 - q1
        lb = q1 - multiplier_iqr * iqr
        ub = q3 + multiplier_iqr * iqr
        n = int(s.notna().count()) if len(s) else 0
        n_total = len(s)
        n_iqr = count_outliers_iqr(s, lb, ub)
        n_z = count_outliers_zscore(s, mean, std, threshold_zscore)
        if outliers_criterion == "IQR":
            bounds: tuple[float | None, float | None] = (lb, ub)
        elif outliers_criterion in ("Z-score", "zscore", "Z"):
            if std and not pd.isna(std):
                bounds = (mean - threshold_zscore * std, mean + threshold_zscore * std)
            else:
                bounds = (None, None)
        else:
            bounds = (None, None)
        result.evaluations.append(
            ColumnEvaluation(
                column=col,
                title=stat_title(col),
                mean=mean,
                std=std,
                q1=q1,
                q3=q3,
                min=s.min(),
                max=s.max(),
                iqr_lb=lb,
                iqr_ub=ub,
                n_intervals=n_total,
                n_outliers_iqr=n_iqr,
                pct_outliers_iqr=100.0 * n_iqr / n_total if n_total else 0.0,
                n_outliers_zscore=n_z,
                pct_outliers_zscore=100.0 * n_z / n_total if n_total else 0.0,
                chart_bounds=bounds,
            )
        )
    return result
