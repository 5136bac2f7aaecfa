"""Benchmark of the transcript quality filter and the evaluator.

    python3 perfbench/run.py --workload backfill|daily|evaluator \
        --seed N --seconds S --trace 0|1

One closed-loop client on one process at ``local[nproc]``: each operation
starts only after the previous one returned. After the cold operation
(part of set-up) and the workload's untimed warm-up operations, a run
times a fixed count of operations, enough to fill ``--seconds`` at the
workload's nominal operation time, and reports their median. Inputs are
generated from ``--seed`` (cached under ``.perfbench/``) and every
operation's output is checked against an oracle.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
workload with a Spark event log and the per-layer probes, then once more
without the log in a fresh process, and reports the per-layer metrics and
``trace_overhead`` (traced ``op_s`` over untraced). So that both runs and
the probes fit in one run's time limit, each times a single operation
right after the cold one, without warm-ups, whatever ``--seconds`` says.
Layers a workload never enters report 0.

The last stdout line is the result object; the line before it is a detail
object with quartiles, sample counts, the host and the seed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402

LAYERS = ["scan", "textstats", "langid", "perplexity", "scrub", "conv_window",
          "pipeline", "sink", "discover", "read_turns",
          "read", "preprocess", "collect", "report"]
COUNTERS = ["jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "files_read", "files_written"]


def _quartiles(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "n": len(values)}


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def session_run(wl, n_ops: int, warmup_ops: int, log_dir: str | None = None,
                trace: bool = False) -> dict:
    """One session: build it, set up the workload (the cold operation),
    run ``warmup_ops`` untimed operations, then ``n_ops`` timed
    closed-loop operations; with ``trace`` the per-layer probes follow.
    Warm-up operations are checked like timed ones."""
    t0 = time.perf_counter()
    spark = host.make_spark(log_dir)
    try:
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        sc.setJobDescription("perfbench setup")
        setup_ok = wl.setup(spark)
        setup_s = time.perf_counter() - t0
        warm, ops, failed = [], [], 0
        while wl.has_next() and len(ops) < n_ops:
            i = len(warm) + len(ops) + failed + 1
            label = "warmup" if len(warm) < warmup_ops else "op"
            sc.setJobDescription(f"perfbench {label} {i}")
            try:
                secs, rows, ok = wl.op(spark, i)
            except Exception:
                traceback.print_exc()
                failed += 1
                if failed > 2:
                    break
                continue
            (warm if label == "warmup" else ops).append({"i": i, "s": secs, "rows": rows, "ok": ok})
        layers = {}
        if trace and ops:
            layers = wl.layers(spark, statistics.median(o["s"] for o in ops))
    finally:
        _stop(spark)
    return {"setup_s": setup_s, "session_s": session_s, "setup_ok": setup_ok, "warm": warm,
            "ops": ops, "failed": failed, "layers": layers}


def _attempts(*runs: dict) -> tuple[int, int]:
    attempted = sum(1 + len(r["warm"]) + len(r["ops"]) + r["failed"] for r in runs)
    failed = sum((not r["setup_ok"]) + r["failed"]
                 + sum(not o["ok"] for o in r["warm"] + r["ops"]) for r in runs)
    return attempted, failed


def end_to_end(wl, seconds: float, warmup_ops: int) -> tuple[dict, dict]:
    # a count, not a clock: the JVM keeps getting faster for many
    # operations, so a count that followed the clock would move the median
    n_ops = math.ceil(seconds / wl.nominal_op_s)
    with host.RssSampler() as rss:
        run = session_run(wl, n_ops, warmup_ops)
    op_s = [o["s"] for o in run["ops"]]
    rate = [o["rows"] / o["s"] for o in run["ops"]]
    attempted, failed = _attempts(run)
    metrics = {
        "op_s": {"value": statistics.median(op_s), "unit": "s"},
        "rows_per_s": {"value": statistics.median(rate), "unit": "rows/s"},
        "setup_s": {"value": run["setup_s"], "unit": "s"},
    }
    # the same figures under the names each workload is read by, and the
    # unbounded ones: peak RSS moves with the JVM's heap growth from run
    # to run by more than any bound the benchmark could hold it to
    named = {"backfill": {"turns_per_s": _quartiles(rate)},
             "daily": {"batch_s": _quartiles(op_s)},
             "evaluator": {"run_s": _quartiles(op_s)}}[wl.name]
    detail = {"op_s": _quartiles(op_s), "rows_per_s": _quartiles(rate), **named,
              "peak_rss_mb": rss.peak_mb, "error_rate": failed / attempted,
              "session_s": run["session_s"], "op_s_each": [round(s, 3) for s in op_s],
              "warmup_s_each": [round(o["s"], 3) for o in run["warm"]],
              "attempted": attempted, "failed": failed}
    return metrics, detail


def traced(wl, args) -> tuple[dict, dict]:
    import eventlog

    log_dir = os.path.join(host.WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    # both runs time the first operation after the cold one, without the
    # warm-ups, so that the two sessions and the probes stay well inside
    # one run's time limit on a loaded host
    traced_run = session_run(wl, 1, 0, log_dir, trace=True)
    # the untraced run gets a process of its own: a second session in this
    # one would reuse Java UDF objects bound to the first session's
    # accumulator server, and a warmer JVM
    untraced = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", wl.name,
         "--seed", str(args.seed), "--seconds", str(wl.nominal_op_s), "--trace", "0",
         "--scale", str(args.scale), "--no-warmup"],
        stdout=subprocess.PIPE, text=True, check=True)
    untraced_result = json.loads(untraced.stdout.strip().splitlines()[-1])
    counters = eventlog.read_counters(log_dir)

    layer_s = {f"layer.{k}_s": 0.0 for k in LAYERS} | traced_run["layers"]
    metrics = {k: {"value": v, "unit": "s"} for k, v in layer_s.items()}
    per_op: dict[str, list[float]] = {k: [] for k in COUNTERS + ["input_rows", "output_bytes"]}
    for op in traced_run["ops"]:
        c = counters.get(f"perfbench op {op['i']}", {})
        for k in COUNTERS:
            per_op[k].append(c.get(k, 0))
        per_op["input_rows"].append(c.get("input_rows", 0) / op["rows"])
        per_op["output_bytes"].append(c.get("output_bytes", 0) / op["rows"])
    units = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "files_read": "count", "files_written": "count"}
    for k, unit in units.items():
        metrics[f"spark.{k}"] = {"value": statistics.median(per_op[k]), "unit": unit}
    metrics["spark.input_rows_per_row"] = {
        "value": statistics.median(per_op["input_rows"]), "unit": "rows/row"}
    metrics["spark.output_bytes_per_row"] = {
        "value": statistics.median(per_op["output_bytes"]), "unit": "bytes/row"}
    op_traced = statistics.median(o["s"] for o in traced_run["ops"])
    op_untraced = untraced_result["metrics"]["op_s"]["value"]
    metrics["trace_overhead"] = {"value": op_traced / op_untraced, "unit": "ratio"}

    attempted, failed = _attempts(traced_run)
    attempted += untraced_result["attempted"]
    failed += untraced_result["failed"]
    detail = {"op_s_traced": op_traced, "op_s_untraced": op_untraced,
              "attempted": attempted, "failed": failed}
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=["backfill", "daily", "evaluator"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--scale", type=float, default=1.0,
                        help="input size multiplier (the smoke test uses a small one)")
    parser.add_argument("--no-warmup", action="store_true",
                        help="time from the first operation after the cold one "
                             "(the untraced baseline of --trace 1)")
    args = parser.parse_args(argv)

    if not os.path.isdir(os.path.join(host.ROOT, "data_quality_automated_evaluator_spark")):
        print(f"perfbench: no data_quality_automated_evaluator_spark package under {host.ROOT}",
              file=sys.stderr)
        return 2
    host.prepare_env()
    sys.path.insert(0, host.ROOT)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, args.scale)
    if args.trace:
        metrics, detail = traced(wl, args)
    else:
        metrics, detail = end_to_end(wl, args.seconds, 0 if args.no_warmup else wl.warmup_ops)
    detail = {"workload": args.workload, "trace": args.trace, "seconds": args.seconds,
              "scale": args.scale, "host": host.facts(args.seed)} | detail
    print(json.dumps(detail))
    print(json.dumps({"correct": detail["failed"] == 0, "attempted": detail["attempted"],
                      "failed": detail["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
