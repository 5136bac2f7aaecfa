"""Reference implementations the tests check the package against, and
a reader of an Iceberg table's snapshot history.

- ``bpe_train_reference``: pure-Python BPE trainer, the golden for
  ``operators.bpe.bpe_train``;
- ``gopher_repetition_columns``: the Catalyst form of the Gopher
  repetition signals, the reference for the Arrow kernel in
  ``functions.webfilter``;
- ``scrub_text``: the scrub rules applied to one string;
- ``interval_rule_stats``: per-interval rule pass rates over a whole
  written turns table, what the sink's partials must fold to;
- ``snapshots``: a table's snapshots, oldest first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_automated_evaluator_spark.functions.intervals import truncate_to_interval
from data_quality_automated_evaluator_spark.functions.scrub import _COMPILED
from data_quality_automated_evaluator_spark.pipeline.rules import RULE_NAMES
from data_quality_automated_evaluator_spark.sources.iceberg_lite import load_metadata


def bpe_train_reference(
    texts: list[str], n_merges: int
) -> list[tuple[str, str, int]]:
    """Pure-Python reference BPE trainer (the pytest golden)."""
    from collections import Counter

    wc: Counter[str] = Counter()
    for t in texts:
        for w in (t or "").lower().split():
            wc[w] += 1
    vocab: dict[tuple[str, ...], int] = {tuple(w): n for w, n in wc.items()}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pc: Counter[tuple[str, str]] = Counter()
        for sym, n in vocab.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, cnt))
        out: dict[tuple[str, ...], int] = {}
        for sym, n in vocab.items():
            acc: list[str] = []
            for x in sym:
                if acc and acc[-1] == a and x == b:
                    acc[-1] = a + b
                else:
                    acc.append(x)
            out[tuple(acc)] = out.get(tuple(acc), 0) + n
        vocab = out
    return merges


def _run_stats(arr: Column) -> Column:
    """One ``aggregate`` pass over the SORTED array computing duplicate
    and mode statistics from run lengths — the shuffle-free equivalent
    of explode → groupBy → count per document.

    Returns ``struct(dup_elems, dup_chars, best_cnt, best_val)``:
    - ``dup_elems``: number of elements belonging to a value occurring ≥ 2
    - ``dup_chars``: sum of ``length(value)`` over those elements
    - ``best_cnt`` / ``best_val``: the mode and its count (ties broken
      toward the lexicographically smallest value, so the result is
      deterministic)
    """
    acc_t = (
        "struct<prev:string,run:bigint,dup_elems:bigint,dup_chars:bigint,"
        "best_cnt:bigint,best_val:string>"
    )
    init = F.expr(
        "named_struct('prev', cast(null as string), 'run', 0L, "
        "'dup_elems', 0L, 'dup_chars', 0L, 'best_cnt', 0L, "
        "'best_val', cast(null as string))"
    ).cast(acc_t)

    def close_run(acc):
        # fold the just-finished run (acc.prev × acc.run) into the stats
        run_dups = F.when(acc.run >= 2, acc.run).otherwise(F.lit(0))
        # guard the chars term the same way: 0 * length(NULL prev) is
        # NULL in SQL and would poison the whole fold
        run_dup_chars = F.when(
            acc.run >= 2, acc.run * F.length(acc.prev)
        ).otherwise(F.lit(0))
        better = (acc.run > acc.best_cnt) | (
            (acc.run == acc.best_cnt) & (acc.prev < acc.best_val)
        )
        return (
            acc.dup_elems + run_dups,
            acc.dup_chars + run_dup_chars,
            F.when(better, acc.run).otherwise(acc.best_cnt),
            F.when(better, acc.prev).otherwise(acc.best_val),
        )

    def merge(acc, x):
        same = acc.prev.isNotNull() & (x == acc.prev)
        de, dc, bc, bv = close_run(acc)
        return F.when(
            same,
            F.struct(
                acc.prev.alias("prev"),
                (acc.run + 1).alias("run"),
                acc.dup_elems.alias("dup_elems"),
                acc.dup_chars.alias("dup_chars"),
                acc.best_cnt.alias("best_cnt"),
                acc.best_val.alias("best_val"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("bigint").alias("run"),
                de.alias("dup_elems"),
                dc.alias("dup_chars"),
                bc.alias("best_cnt"),
                bv.alias("best_val"),
            )
        )

    def finish(acc):
        de, dc, bc, bv = close_run(acc)
        return F.struct(
            de.alias("dup_elems"),
            dc.alias("dup_chars"),
            bc.alias("best_cnt"),
            bv.alias("best_val"),
        )

    return F.aggregate(F.sort_array(arr), init, merge, finish)


def _ngrams(words: Column, n: int) -> Column:
    """Word n-grams joined with single spaces (empty when < n words)."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def gopher_repetition_columns(
    lines: Column, words: Column, doc_chars: Column
) -> dict[str, Column]:
    """Gopher repetition metrics from pre-split line/word arrays.

    ``doc_chars`` is the character count the fractions normalize by
    (length of the reconstructed document). All fractions are rounded
    to 6 places to pin float parity with the SQL oracle.
    """
    safe_chars = F.nullif(doc_chars, F.lit(0))
    line_stats = _run_stats(lines)
    out: dict[str, Column] = {
        "n_lines": F.size(lines).cast("bigint"),
        "dup_line_frac": F.round(
            line_stats.dup_elems / F.nullif(F.size(lines), F.lit(0)), 6
        ),
        "dup_line_char_frac": F.round(line_stats.dup_chars / safe_chars, 6),
    }
    for n in (2, 3, 4):
        g = _run_stats(_ngrams(words, n))
        out[f"top_{n}gram_char_frac"] = F.round(
            F.coalesce(g.best_cnt * F.length(g.best_val), F.lit(0))
            / safe_chars,
            6,
        )
    g5 = _run_stats(_ngrams(words, 5))
    out["dup_5gram_char_frac"] = F.round(g5.dup_chars / safe_chars, 6)
    return out


def scrub_text(text: str | None) -> str | None:
    """Single-string variant (oracle/tests convenience)."""
    if text is None:
        return None
    for pat, repl in _COMPILED:
        text = pat.sub(repl, text)
    return text


def interval_rule_stats(
    result: DataFrame, time_interval: str = "1d"
) -> DataFrame:
    """Per-interval per-rule pass rates + keep rate (evaluator-core
    interval aggregation applied to the rule columns).

    One HashAggregate pass; output cardinality = #intervals — tiny.
    """
    bucket = truncate_to_interval(F.col("ts"), time_interval).alias("__time_interval")
    aggs = [F.count(F.lit(1)).alias("n_turns"), F.avg(F.col("keep").cast("double")).alias("keep_rate")]
    for r in RULE_NAMES:
        aggs.append(F.avg(F.col(r).cast("double")).alias(f"{r}_pass_rate"))
    return result.groupBy(bucket).agg(*aggs).orderBy("__time_interval")


def snapshots(location: str) -> list[dict]:
    """All snapshots, oldest first (time travel: pass any ``snapshot-id``
    to :func:`read_iceberg`)."""
    return sorted(
        load_metadata(location).get("snapshots", []),
        key=lambda s: s["sequence-number"],
    )
