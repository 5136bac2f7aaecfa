#!/usr/bin/env python
"""N→4N scaling efficiency of the quality pipeline.

Runs the same job at two cluster sizes and prints one JSON line:

    {"nproc": ..., "n": N, "concurrent": ..., "n_turns": ...,
     "secs": [secs_N, secs_4N], "eff": ..., "hw_eff": ...}

The job is ``run_quality_pipeline`` over a generated transcripts table
(``testdata.write_transcripts_parquet(n_convs=--convs, seed=42)``, cached
under ``.bench_data/``), written to Spark's noop sink. Both sides use the
same partition count, sized for the big side: the comparison scales the
cluster, not the job. Each side is a fresh ``local[k]`` JVM started under
``taskset``, so the JVM and its Python workers together get exactly k CPUs.
It runs two warm-up passes, then timed passes, and reports their mean.

``eff = secs_N / (4 * secs_4N)``; 1.0 is linear scaling. ``hw_eff`` is the
same ratio for a pure-CPU Python burn on the same CPU sets: the hardware's
own N→4N ceiling on this host.

``N = max(1, nproc // 5)``. When ``nproc >= 5N`` the two sides run at the
same time on disjoint CPU sets, so both see the same host load, and the
big side runs enough passes for its timed window to overlap the small
side's. Otherwise they run one after the other. The figure is the north
rule's check only on a host with at least 8 cores; on fewer, the sides
share the host's load unevenly or not at all, and the result shows only
that the pipeline runs at both sizes.

    python scripts/scaling.py [--convs 120000]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARMUP = 2
RUNS = 2
# big-side passes whose timed window spans the small side's, assuming the
# ~0.8 efficiency the pair is meant to check: 4 * 0.8 * (2 + 2) - 2
RUNS_BIG = 11


def _worker(k: int, partitions: int, runs: int, path: str) -> float:
    """Mean seconds of ``runs`` timed noop-write passes at ``local[k]``."""
    from data_quality_automated_evaluator_spark.pipeline.quality import (
        run_quality_pipeline,
    )
    from data_quality_automated_evaluator_spark.session import get_spark

    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) // (1024 * 1024)
    # 2 GB per task slot, at most a quarter of the host for each side
    heap = max(2, min(2 * k, total_gb // 4))
    spark = get_spark(
        app_name=f"scaling-local{k}", master=f"local[{k}]",
        shuffle_partitions=partitions,
        extra_conf={"spark.driver.memory": f"{heap}g"},
    )
    res = run_quality_pipeline(spark.read.parquet(path).repartition(partitions))
    times = []
    for _ in range(WARMUP + runs):
        t0 = time.perf_counter()
        res.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    spark.stop()
    return sum(times[WARMUP:]) / runs


def _burn(procs: int) -> float:
    """Aggregate rate (sum of 1/seconds) of ``procs`` processes each
    running a fixed Python loop; the best of three waves."""
    import multiprocessing as mp

    best = 0.0
    for _ in range(3):
        with mp.get_context("spawn").Pool(procs) as pool:
            secs = pool.map(_burn_one, range(procs))
        best = max(best, sum(1.0 / t for t in secs))
    return best


def _burn_one(_: int) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i * i
    return time.perf_counter() - t0


def _pinned(cpus: list[int], call: str) -> subprocess.Popen:
    """Start ``scaling.<call>`` in a fresh interpreter bound to ``cpus``;
    it prints its result as the last stdout line."""
    code = (f"import sys; sys.path[:0] = [{REPO!r}, {os.path.join(REPO, 'scripts')!r}]; "
            f"import scaling; print(scaling.{call})")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    return subprocess.Popen(
        ["taskset", "-c", ",".join(map(str, cpus)), sys.executable, "-c", code],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env,
    )


def _pair(small: tuple, big: tuple, concurrent: bool) -> tuple[float, float]:
    """Run the two ``(cpus, call)`` sides, at once or one after the
    other, and return their results."""
    procs, out = [], []
    try:
        for cpus, call in (small, big):
            procs.append(_pinned(cpus, call))
            if not concurrent:
                out.append(procs[-1].communicate())
        if concurrent:
            out = [p.communicate() for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
    for p, (stdout, stderr) in zip(procs, out):
        if p.returncode != 0:
            raise RuntimeError(f"scaling side failed: {stderr[-2000:]}")
    return tuple(float(stdout.strip().splitlines()[-1]) for stdout, _ in out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--convs", type=int, default=120000,
                    help="conversations in the generated input (default 120000)")
    convs = ap.parse_args().convs

    sys.path.insert(0, REPO)
    import pyarrow.parquet as pq

    from data_quality_automated_evaluator_spark.testdata import (
        write_transcripts_parquet,
    )

    path = write_transcripts_parquet(
        os.path.join(REPO, ".bench_data", f"transcripts_{convs}.parquet"),
        n_convs=convs, seed=42)
    cpus = sorted(os.sched_getaffinity(0))
    nproc = len(cpus)
    n = max(1, nproc // 5)
    concurrent = nproc >= 5 * n
    small = cpus[:n]
    big = cpus[n:5 * n] if concurrent else cpus[:4 * n]
    partitions = 4 * 4 * n
    runs_big = RUNS_BIG if concurrent else RUNS

    hw_s, hw_b = _pair((small, f"_burn({n})"), (big, f"_burn({4 * n})"), concurrent)
    secs = _pair((small, f"_worker({n}, {partitions}, {RUNS}, {path!r})"),
                 (big, f"_worker({4 * n}, {partitions}, {runs_big}, {path!r})"),
                 concurrent)
    print(json.dumps({
        "nproc": nproc, "n": n, "concurrent": concurrent,
        "n_turns": pq.ParquetFile(path).metadata.num_rows,
        "secs": [round(s, 3) for s in secs],
        "eff": round(secs[0] / (4 * secs[1]), 3),
        "hw_eff": round(hw_b / (4 * hw_s), 3),
    }))


if __name__ == "__main__":
    main()
