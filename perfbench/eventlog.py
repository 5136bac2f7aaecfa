"""Spark counters per job description, read from a session's event log.

The benchmark tags each of its calls with ``setJobDescription``; Spark
copies the description into every job (``spark.job.description``) and
every SQL execution it starts, so a job or scan inside ``QualitySink.run``
is attributed to the call that caused it even though it carries no call
site of its own.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."
# SQL metrics posted by the driver, summed per description
_DRIVER_METRICS = {"number of files read": "files_read",
                   "number of written files": "files_written"}


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_counters(log_dir: str) -> dict[str, dict[str, int]]:
    """description → {jobs, tasks, shuffle_write_bytes, spill_bytes,
    input_rows, output_bytes, files_read, files_written} for the one
    finished event log in ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    accum_name: dict[int, str] = {}
    exec_accums: dict[int, dict[int, int]] = defaultdict(dict)
    with open(logs[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                out[desc]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_desc.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                c = out[stage_desc.get(ev["Stage ID"], "")]
                c["tasks"] += 1
                c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
                c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                exec_desc[ev["executionId"]] = ev.get("description", "")
                _plan_metrics(ev["sparkPlanInfo"], accum_name)
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                _plan_metrics(ev["sparkPlanInfo"], accum_name)
            elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in ev["sqlPlanMetrics"]:
                    accum_name[m["accumulatorId"]] = m["name"]
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                # driver metrics are absolute values: the last one counts
                exec_accums[ev["executionId"]].update(dict(ev["accumUpdates"]))
    for eid, accums in exec_accums.items():
        c = out[exec_desc.get(eid, "")]
        for aid, value in accums.items():
            key = _DRIVER_METRICS.get(accum_name.get(aid, ""))
            if key:
                c[key] += value
    return {d: dict(c) for d, c in out.items()}
