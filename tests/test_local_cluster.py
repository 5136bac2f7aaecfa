"""Multi-executor topology parity: the quality pipeline on a REAL
executor cluster must produce exactly the rows local mode produces.

``local-cluster[2,2,1024]`` launches two separate executor JVMs (own
Worker process each) with netty block-transfer shuffle and serialized
task dispatch — the closest thing to a real N-executor cluster that
runs in this sandbox, and the topology the north rule's "multi-executor
cluster at N and 4N executors" criterion describes (``scripts/scaling.py``
measures the N→4N throughput pair, on CPU-pinned ``local[k]`` JVMs; this
test pins the CORRECTNESS side: labels identical to single-JVM local mode).

The cluster session runs in a fresh subprocess: two different masters
cannot share one JVM/gateway, and a fresh interpreter also proves the
executor-side Python workers import the package from PYTHONPATH alone
(the executorEnv propagation a cluster submit relies on).
"""
from __future__ import annotations

import hashlib
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(REPO, "fixtures", "transcripts_oracle.parquet")

_JOB = """\
import sys
sys.path.insert(0, {repo!r})
from data_quality_automated_evaluator_spark.session import get_spark
from data_quality_automated_evaluator_spark.pipeline.quality import (
    labels_frame, run_quality_pipeline,
)

spark = get_spark(
    app_name="local-cluster-parity",
    master="local-cluster[2,2,1024]",
    shuffle_partitions=8,
    extra_conf={{
        "spark.executorEnv.PYTHONPATH": {repo!r},
        "spark.driver.memory": "2g",
    }},
)
df = spark.read.parquet({fixture!r})
out = labels_frame(run_quality_pipeline(df)).orderBy("conv_id", "turn_idx")
rows = out.collect()
# count AFTER the job: executors register asynchronously at startup,
# but by job end both must have run tasks. getExecutorMemoryStatus
# lists driver + each executor JVM.
n_exec = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
import hashlib
h = hashlib.sha256()
for r in rows:
    h.update(("|".join(str(v) for v in r) + "\\n").encode())
print("RESULT", len(rows), h.hexdigest(), n_exec)
spark.stop()
"""


def _labels_digest(spark) -> tuple[int, str]:
    from data_quality_automated_evaluator_spark.pipeline.quality import (
        labels_frame,
        run_quality_pipeline,
    )

    df = spark.read.parquet(FIXTURE)
    out = labels_frame(run_quality_pipeline(df)).orderBy("conv_id", "turn_idx")
    rows = out.collect()
    h = hashlib.sha256()
    for r in rows:
        h.update(("|".join(str(v) for v in r) + "\n").encode())
    return len(rows), h.hexdigest()


def test_local_cluster_matches_local(spark, tmp_path):
    n_local, digest_local = _labels_digest(spark)
    assert n_local > 0

    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.run(
        [sys.executable, "-c", _JOB.format(repo=REPO, fixture=FIXTURE)],
        capture_output=True, text=True, timeout=600, env=env,
        cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert result, proc.stdout[-2000:]
    _, n_cluster, digest_cluster, n_exec = result[-1].split()
    # both separate executor JVMs participated
    assert int(n_exec) == 2
    assert int(n_cluster) == n_local
    assert digest_cluster == digest_local
