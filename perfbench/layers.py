"""Per-layer metrics of a traced run, from the parsed event log, the
stream's progress reports and the harness spans.

Costs are per measured operation: per replay pass on ``replay_batch``,
per base-rung epoch on ``alert_stream``. A layer a workload does not
reach reads 0 there — that is the predicted split, not a gap.
"""

from __future__ import annotations

import statistics

from perfbench.core import Span, self_time

#: plan nodes of the two measure kernels
MEASURES_NP_NODE = "FlatMapGroupsInPandas"
COUNT_WINDOW_NODE = "FlatMapGroupsInPandasWithState"


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _node_sum(jobs: list[dict], node: str, key: str) -> float:
    return sum(j["python"].get(node, {}).get(key, 0.0) for j in jobs)


def spark_layer(jobs: list[dict], windows: list[tuple[float, float]], n: int) -> dict:
    """``spark.*`` and ``python.*`` per operation over the measured jobs;
    ``driver_only_s`` is the part of the measured windows in which no
    measured job was running."""
    out = {
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(j["stages"] for j in jobs) / n,
        "spark.tasks": sum(j["tasks"] for j in jobs) / n,
    }
    for key in ("executor_run_s", "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = sum(j[key] for j in jobs) / n
    busy = [Span("job", j["start"], j["end"], None, 0, 0) for j in jobs if j["end"] is not None]
    out["spark.driver_only_s"] = sum(self_time(Span("op", s, e, None, 0, 0), busy) for s, e in windows) / n
    nodes = {node for j in jobs for node in j["python"]}
    for key, name in (("boot_ms", "boot_ms"), ("init_ms", "init_ms"), ("udf_ms", "udf_total_ms"),
                      ("bytes_sent", "bytes_sent"), ("rows_received", "rows_received")):
        out[f"python.{name}"] = sum(_node_sum(jobs, node, key) for node in nodes) / n
    return out


def per_layer(workload: str, jobs: list[dict], res: dict, tracer) -> dict:
    if workload == "replay_batch":
        return _replay(jobs, res, tracer)
    return _stream(jobs, res)


def _replay(jobs, res, tracer) -> dict:
    measured = [j for j in jobs if (j["group"] or "").startswith("replay.")]
    windows = [(s.start, s.end) for s in tracer.spans if s.name == "replay.pass"]
    n = len(windows)
    if not measured or not n:
        raise RuntimeError("traced replay found no measured jobs")
    out = spark_layer(measured, windows, n)
    grid = [j for j in measured if j["group"] == "replay.grid" and MEASURES_NP_NODE in j["python"]]
    out["measures_np.udf_ms"] = _node_sum(grid, MEASURES_NP_NODE, "udf_ms") / n
    out["measures_np.tasks"] = sum(j["tasks"] for j in grid) / n
    out["measures.stats_s"] = _median(tracer.durations("measures.stats"))
    return out


def _stream(jobs, res) -> dict:
    st = res["stream"]
    progress = st["progress"]
    base = st["base_epochs"]
    if not base:
        raise RuntimeError("traced stream has no base-rung epochs")
    batch_ids = {progress[e]["batchId"] for e in base}
    measured = [j for j in jobs if j["batch"] in batch_ids]
    if not measured:
        raise RuntimeError("traced stream found no jobs for its base-rung epochs")
    starts = st["starts"]
    windows = [(starts[e], starts[e] + progress[e]["durationMs"]["triggerExecution"] / 1000.0) for e in base]
    n = len(base)
    out = spark_layer(measured, windows, n)
    out["count_window.udf_ms"] = _node_sum(measured, COUNT_WINDOW_NODE, "udf_ms") / n
    ops = [progress[e]["stateOperators"][0] for e in base if progress[e]["stateOperators"]]
    out["count_window.state_rows"] = float(ops[-1]["numRowsTotal"]) if ops else 0.0
    out["count_window.state_memory_bytes"] = float(max((o["memoryUsedBytes"] for o in ops), default=0))
    out["count_window.state_commit_ms"] = _median(o["commitTimeMs"] for o in ops)
    out["count_window.state_update_ms"] = _median(o["allUpdatesTimeMs"] for o in ops)
    out["epoch.count"] = float(n)
    for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                      ("getBatch", "get_batch_ms"), ("latestOffset", "latest_offset_ms"),
                      ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms")):
        out[f"epoch.{name}"] = _median(progress[e]["durationMs"].get(key, 0) for e in base)
    out["epoch.input_rows"] = _median(progress[e]["numInputRows"] for e in base)
    out["sources.backlog_rows"] = _median(st["base_backlog"])
    out["sources.read_lag_ms"] = _median(st["read_lag_ms"])
    out["sources.input_bytes"] = sum(j["input_bytes"] for j in measured) / n
    out["alert_log.rows_written"] = float(st["alert_rows"])
    out["alert_log.files_written"] = float(len(st["files"]))
    out["bench.generator_lag_ms"] = max(st["generator_lags_ms"], default=0.0)
    return out


def job_table(jobs: list[dict]) -> dict:
    """Jobs and costs per job group, for the result record."""
    table: dict = {}
    for j in jobs:
        g = table.setdefault(j["group"] or "none", {"jobs": 0, "stages": 0, "tasks": 0, "executor_cpu_s": 0.0})
        g["jobs"] += 1
        g["stages"] += j["stages"]
        g["tasks"] += j["tasks"]
        g["executor_cpu_s"] += j["executor_cpu_s"]
    return table
