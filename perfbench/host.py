"""Host facts, the host-sized SparkSession, and the process-tree RSS sampler."""

from __future__ import annotations

import os
import platform
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of physical memory, between 1 GB and the session's 16 GB
    default: the driver heap must leave room for the Python workers."""
    return f"{min(16384, max(1024, mem_total_mb() // 4))}m"


def prepare_env() -> None:
    """Environment the JVM and its Python workers inherit; must run before
    the first SparkSession is built."""
    local_dirs = os.path.join(WORK, "spark-local")
    os.makedirs(local_dirs, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()


def make_spark(event_log_dir: str | None = None):
    """The package's own session builder at ``local[nproc]``; with
    ``event_log_dir`` the session also writes a Spark event log there."""
    from data_quality_automated_evaluator_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        # one plain JSON-lines file: no rolling, no compression
        conf |= {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + event_log_dir,
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.compress": "false"}
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def facts(seed: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_memory": driver_memory(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process tree (driver JVM and Python
    workers included) every ``interval`` seconds; ``peak_mb`` is the
    highest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            if self._stop.wait(self.interval):
                return

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def timed(fn, *args, **kwargs):
    """(result, wall seconds) of one call."""
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0
