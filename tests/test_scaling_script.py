"""``scripts/scaling.py`` end to end on a tiny input: both pinned sides
run the pipeline and the one JSON line it prints is well formed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONVS = 60


def test_scaling_script_prints_one_pair():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "scaling.py"),
         "--convs", str(CONVS)],
        capture_output=True, text=True, timeout=900, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    path = os.path.join(REPO, ".bench_data", f"transcripts_{CONVS}.parquet")
    assert res["n_turns"] == pq.read_table(path).num_rows
    assert len(res["secs"]) == 2 and all(s > 0 for s in res["secs"])
    assert res["eff"] > 0 and res["hw_eff"] > 0
    assert res["n"] == max(1, res["nproc"] // 5)
    if res["nproc"] < 5:
        assert res["concurrent"] is False
