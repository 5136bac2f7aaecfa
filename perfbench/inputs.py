"""Seeded benchmark inputs and their expected outputs, cached by (seed, size).

Every input is a pure function of its seed and size, so a cached copy is
reused and a missing one is rebuilt identically. Expected outputs come from
the DuckDB oracle (``pipeline.oracle_sql.keep_flags_oracle_sql``) or from
pandas, never from Spark, and are computed once per input.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from host import WORK, nproc

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_FILTER = "SELECT * FROM self WHERE event_type <> 'view'"
DAY_BASE = pd.Timestamp("2025-01-01")


def _cached(key: str, build) -> tuple[str, dict]:
    """Directory holding the input named ``key`` and its ``expect.json``;
    ``build(tmp_dir) -> dict`` fills a fresh directory on a cache miss,
    which is renamed into place only when complete."""
    final = os.path.join(WORK, "inputs", key)
    if not os.path.exists(os.path.join(final, "expect.json")):
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        expect = build(tmp)
        with open(os.path.join(tmp, "expect.json"), "w") as fh:
            json.dump(expect, fh)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(os.path.join(final, "expect.json")) as fh:
        return final, json.load(fh)


def _write_turns(pdf: pd.DataFrame, path: str) -> None:
    # microsecond timestamps (Spark rejects NANOS) and row groups small
    # enough for Spark to split one file across every core
    pdf.to_parquet(path, index=False, coerce_timestamps="us",
                   allow_truncated_timestamps=True, row_group_size=20000)


def conv_oracle(parquet_glob: str) -> pd.DataFrame:
    """Per conversation of ``parquet_glob``: n_turns, n_keep and each
    rule's failure count under the full keep conjunction, computed by
    DuckDB. Every keep rule looks at one conversation only, so the counts
    of any set of whole conversations are sums of these rows."""
    import duckdb

    from data_quality_automated_evaluator_spark.pipeline.oracle_sql import (
        keep_flags_oracle_sql,
    )
    from data_quality_automated_evaluator_spark.pipeline.rules import RULE_NAMES

    # a NULL flag (a conversation whose first turn fell in an earlier
    # batch) is no failure, as in the sink's observed sum(NOT flag)
    fails = ", ".join(f"sum(CASE WHEN NOT {r} THEN 1 ELSE 0 END) AS {r}" for r in RULE_NAMES)
    sql = (f"SELECT conv_id, count(*) AS n_turns, "
           f"sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep, {fails} "
           f"FROM ({keep_flags_oracle_sql(parquet_glob)}) q GROUP BY conv_id")
    con = duckdb.connect(config={"threads": nproc(), "memory_limit": "2GB"})
    try:
        con.execute("SET enable_progress_bar = false")
        return con.execute(sql).df()
    finally:
        con.close()


def _totals(per_conv: pd.DataFrame) -> dict:
    from data_quality_automated_evaluator_spark.pipeline.rules import RULE_NAMES

    return {"n_turns": int(per_conv["n_turns"].sum()), "n_keep": int(per_conv["n_keep"].sum()),
            "rule_failures": {r: int(per_conv[r].sum()) for r in RULE_NAMES}}


def keep_oracle(parquet_glob: str) -> dict:
    """n_turns, n_keep and per-rule failure counts of the full keep
    conjunction over ``parquet_glob``."""
    return _totals(conv_oracle(parquet_glob))


def _conversation_pool(n_turns: int) -> str:
    """Generator conversations (fixed seed) holding at least twice
    ``n_turns`` turns, with their per-conversation oracle counts; built
    once, so a seed's input costs no DuckDB run of its own."""
    from data_quality_automated_evaluator_spark.testdata import generate_transcripts

    def build(d: str) -> dict:
        n_convs = n_turns // 6
        while len(pdf := generate_transcripts(n_convs=n_convs, seed=0)) < 2 * n_turns:
            n_convs *= 2
        _write_turns(pdf, os.path.join(d, "turns.parquet"))
        conv_oracle(os.path.join(d, "turns.parquet")).to_parquet(os.path.join(d, "convs.parquet"))
        return {"n_turns": len(pdf)}

    return _cached(f"pool-t{n_turns}", build)[0]


def backfill_input(seed: int, n_turns: int, n_days: int) -> tuple[str, dict]:
    """One transcripts parquet file of about ``n_turns`` turns of whole
    conversations from the pool, rows shuffled, with the generator's 90
    days folded onto ``n_days``: each conversation moves by whole
    multiples of ``n_days`` days, so turns per date partition stay those
    of a larger table. The pool's conversations, ranked by length, are
    cut into consecutive strata that each hold ``n_turns`` turns' worth of
    pool per chosen conversation, and the seed picks one conversation per
    stratum: every seed gets other conversations but the same length
    profile, the hot tail of long conversations included, so its cost
    does not depend on the seed. The expected counts are the chosen
    conversations' oracle rows summed."""

    def build(d: str) -> dict:
        pool = _conversation_pool(n_turns)
        convs = pd.read_parquet(os.path.join(pool, "convs.parquet"))
        convs = convs.sort_values(["n_turns", "conv_id"], ascending=[False, True])
        stride = max(1, int(convs["n_turns"].sum()) // n_turns)
        rng = np.random.default_rng(seed)
        stratum = np.arange(len(convs)) // stride
        pick = stratum * stride + rng.integers(0, stride, stratum.max() + 1)[stratum]
        convs = convs[np.arange(len(convs)) == pick]
        pdf = pd.read_parquet(os.path.join(pool, "turns.parquet"))
        pdf = pdf[pdf["conv_id"].isin(convs["conv_id"])]
        pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
        start = (pdf.groupby("conv_id")["ts"].transform("min") - DAY_BASE).dt.days
        pdf["ts"] -= pd.to_timedelta(start - start % n_days, unit="D")
        _write_turns(pdf, os.path.join(d, "turns.parquet"))
        days = pdf["ts"].dt.normalize()
        return _totals(convs) | {"n_dates": (days.max() - days.min()).days + 1}

    d, expect = _cached(f"backfill-s{seed}-t{n_turns}-d{n_days}", build)
    return os.path.join(d, "turns.parquet"), expect


def daily_input(seed: int, turns_per_day: int, n_days: int) -> tuple[list[str], list[dict]]:
    """``n_days`` one-day files of exactly ``turns_per_day`` turns each.

    Generator turns are taken in time order and day k receives the k-th
    block of ``turns_per_day`` turns, re-spaced evenly over that day, so
    turn order within a conversation is kept and every day costs the
    same. Returns the day files and each day's oracle expectation."""
    from data_quality_automated_evaluator_spark.testdata import generate_transcripts

    def build(d: str) -> dict:
        need = turns_per_day * n_days
        n_convs = need // 8
        while len(pdf := generate_transcripts(n_convs=n_convs, seed=seed)) < need:
            n_convs *= 2
        pdf = pdf.sort_values(["ts", "conv_id"], kind="stable").head(need)
        rank = np.arange(need)
        step = pd.to_timedelta(86400 // turns_per_day, unit="s")
        pdf = pdf.assign(ts=DAY_BASE + pd.to_timedelta(rank // turns_per_day, unit="D")
                         + (rank % turns_per_day) * step)
        rng = np.random.default_rng(seed)
        days = []
        for k in range(n_days):
            day = pdf.iloc[k * turns_per_day:(k + 1) * turns_per_day]
            path = os.path.join(d, f"day-{k:03d}.parquet")
            _write_turns(day.iloc[rng.permutation(len(day))], path)
            days.append(keep_oracle(path))
        return {"days": days}

    d, expect = _cached(f"daily-s{seed}-t{turns_per_day}-d{n_days}", build)
    files = [os.path.join(d, f"day-{k:03d}.parquet") for k in range(n_days)]
    return files, expect["days"]


def history_oracle(day_files: list[str]) -> dict:
    """Oracle expectation for one batch over several day files (the keep
    rules' conversation window spans the whole batch)."""
    d = os.path.dirname(day_files[0])
    key = os.path.join(d, f"history-{len(day_files)}.json")
    if not os.path.exists(key):
        tmp = key + f".tmp{os.getpid()}"
        _write_turns(pd.concat([pd.read_parquet(f) for f in day_files]), tmp + ".parquet")
        with open(tmp, "w") as fh:
            json.dump(keep_oracle(tmp + ".parquet"), fh)
        os.remove(tmp + ".parquet")
        os.replace(tmp, key)
    with open(key) as fh:
        return json.load(fh)


def events_input(seed: int, n_rows: int) -> tuple[str, dict]:
    """Events table in the evaluator's events schema (event_id, ts,
    user_id, event_type, value, props) over 30 days."""

    def build(d: str) -> dict:
        rng = np.random.default_rng(seed)
        secs = np.sort(rng.uniform(0, 30 * 86400, n_rows))
        ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.round(secs * 1e6), unit="us")
        pdf = pd.DataFrame({
            "event_id": np.arange(n_rows, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n_rows).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_rows)].astype(object),
            "value": np.round(rng.exponential(50.0, n_rows), 2),
            "props": pd.Series(rng.integers(0, 100, n_rows)).map('{{"k": {}}}'.format),
        })
        pdf.to_parquet(os.path.join(d, "events.parquet"), index=False,
                       coerce_timestamps="us", row_group_size=10000)
        kept = pdf[pdf["event_type"] != "view"]
        hours = kept["ts"].dt.floor("h")
        return {"n_rows": n_rows, "n_filtered": int(len(kept)),
                "n_intervals": int(hours.nunique())}

    d, expect = _cached(f"events-s{seed}-r{n_rows}", build)
    return os.path.join(d, "events.parquet"), expect
