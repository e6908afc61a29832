"""Per-job costs from a Spark event log (uncompressed JSON lines).

The parser reads only public listener events: job and task ends for the
executor counters, SQL execution plans for which accumulator belongs to
which plan node, and the task accumulator updates for the Python-worker
metrics of those nodes. Each job is labelled with its job group and,
for a streaming micro-batch, its batch id.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

#: PythonSQLMetrics name → our key
PYTHON_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "udf_ms",
    "data sent to Python workers": "bytes_sent",
    "number of output rows": "rows_received",
}
_MARKER = "time to run Python workers"
_BATCH_KEY = "streaming.sql.batchId"


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order: Spark 4 rolls an
    application's log into ``eventlog_v2_*/events_<n>_<app id>``; an
    unrolled log is one file named by the application id."""
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith("events_"):
                found.append((root, int(name.split("_")[1]), os.path.join(root, name)))
            elif name.startswith(("local-", "app-")):
                found.append((root, 0, os.path.join(root, name)))
    return [path for _root, _n, path in sorted(found)]


def _walk_plan(info: dict, accum: dict) -> None:
    metrics = info.get("metrics", [])
    names = {m["name"] for m in metrics}
    if _MARKER in names:
        for m in metrics:
            key = PYTHON_METRICS.get(m["name"])
            if key is not None:
                scale = 1e-6 if m.get("metricType") == "nsTiming" else 1.0
                accum[m["accumulatorId"]] = (info["nodeName"], key, scale)
    for child in info.get("children", []):
        _walk_plan(child, accum)


def _new_job() -> dict:
    return {
        "stages": set(),
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "updates": [],
    }


def parse(paths: list[str]) -> list[dict]:
    """One record per job, in submission order."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    accum: dict[int, tuple] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev["sparkPlanInfo"], accum)
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = _new_job()
                    job.update(
                        job=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        batch=int(props[_BATCH_KEY]) if _BATCH_KEY in props else None,
                        start=ev["Submission Time"] / 1000.0,
                        end=None,
                    )
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    _add_task(job, ev)
    out = []
    for job in sorted(jobs.values(), key=lambda j: j["job"]):
        # plan metrics are resolved last: an adaptive re-plan can name an
        # accumulator after tasks already reported updates to it
        python: dict = defaultdict(lambda: defaultdict(float))
        for aid, update in job.pop("updates"):
            if aid in accum and update is not None:
                node, key, scale = accum[aid]
                python[node][key] += float(update) * scale
        job["stages"] = len(job["stages"])
        job["python"] = {node: dict(v) for node, v in python.items()}
        out.append(job)
    return out


def _add_task(job: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    job["stages"].add(ev["Stage ID"])
    job["tasks"] += 1
    job["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    job["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    sr = tm.get("Shuffle Read Metrics") or {}
    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    job["spill_bytes"] += tm.get("Disk Bytes Spilled", 0) + tm.get("Memory Bytes Spilled", 0)
    job["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
    job["updates"].extend(
        (a["ID"], a.get("Update")) for a in (ev.get("Task Info") or {}).get("Accumulables", [])
    )
