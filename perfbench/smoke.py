"""Smoke test of the benchmark at a tiny input size.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all three) it makes one untraced and one traced
run and checks that every end-to-end or per-layer metric named in
BENCHMARK.json is emitted with its unit, that the detail line names the
workload's own figures, that every output check passed, and that the
layers each workload enters took time (``sink_s``, which is ``op_s`` minus
the traced pipeline, included). Marginal layers (a UDF's share of the
shared Arrow node) are not required to be positive: at this size they
are within noise.
Takes a few minutes; exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALE = {"backfill": "0.05", "daily": "0.05", "evaluator": "0.05"}
NAMED = {"backfill": "turns_per_s", "daily": "batch_s", "evaluator": "run_s"}
OWN_LAYERS = {
    "backfill": ["scan", "pipeline", "sink", "read_turns"],
    "daily": ["scan", "pipeline", "sink", "read_turns"],
    "evaluator": ["read", "preprocess", "collect", "report"],
}


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE[workload]]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900, check=True)
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check(workload: str, spec: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        detail, result = run(workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, (workload, trace, got, want)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        if trace == 0:
            assert detail[NAMED[workload]]["n"] >= 1, detail
            assert detail["peak_rss_mb"] > 0 and detail["error_rate"] == 0, detail
            assert m["op_s"] > 0 and m["setup_s"] > 0, m
        else:
            assert all(m[f"layer.{k}_s"] > 0 for k in OWN_LAYERS[workload]), m
            assert m["spark.jobs"] > 0 and m["trace_overhead"] > 0, m
        print(f"ok {workload} trace={trace}", flush=True)


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in sys.argv[1:] or ["backfill", "daily", "evaluator"]:
        check(workload, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
