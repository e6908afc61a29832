"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload replay_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same workload with the Spark event log
on and reports the per-layer metrics instead. The last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``; the full
record (host settings, versions, spans, per-rung detail) is written to
``perfbench/results/<workload>-seed<seed>-trace<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metrics, reported on every workload (see perfbench/README.md)
END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    **{f"spark.{k}": u for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("driver_only_s", "s"),
    )},
    "python.boot_ms": "ms",
    "python.init_ms": "ms",
    "python.udf_total_ms": "ms",
    "python.bytes_sent": "bytes",
    "python.rows_received": "count",
    "measures_np.udf_ms": "ms",
    "measures_np.tasks": "count",
    "measures.stats_s": "s",
    "count_window.udf_ms": "ms",
    "count_window.state_rows": "count",
    "count_window.state_memory_bytes": "bytes",
    "count_window.state_commit_ms": "ms",
    "count_window.state_update_ms": "ms",
    "epoch.count": "count",
    "epoch.add_batch_ms": "ms",
    "epoch.query_planning_ms": "ms",
    "epoch.get_batch_ms": "ms",
    "epoch.latest_offset_ms": "ms",
    "epoch.wal_commit_ms": "ms",
    "epoch.commit_offsets_ms": "ms",
    "epoch.input_rows": "count",
    "sources.backlog_rows": "count",
    "sources.read_lag_ms": "ms",
    "sources.input_bytes": "bytes",
    "alert_log.rows_written": "count",
    "alert_log.files_written": "count",
    "bench.generator_lag_ms": "ms",
    "bench.traced_latency_p50_ms": "ms",
}

WORKLOADS = ("replay_batch", "alert_stream")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(settings: dict, work: str) -> None:
    """Size Spark to the host and make the package importable by the
    Python workers Spark forks, which do not inherit ``sys.path``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["driver_memory"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def main(argv=None) -> int:
    args = _args(argv)
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "psd_project_spark")):
        print(f"perfbench: no psd_project_spark package next to {HERE}; run from a checkout", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    from perfbench import core

    settings = core.host_settings()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _environment(settings, work)
    try:
        record = run(args, settings, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record["wall_s"] = time.perf_counter() - t_start
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    line = {k: record[k] for k in ("correct", "attempted", "failed", "metrics")}
    for name, m in line["metrics"].items():
        print(f"{args.workload:>13} {name:<34} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(line))
    return 0


def run(args, settings: dict, work: str) -> dict:
    from perfbench import alert_stream, core, eventlog, layers, replay_batch

    module = {"replay_batch": replay_batch, "alert_stream": alert_stream}[args.workload]
    tracer = core.Tracer()
    t0 = time.perf_counter()
    with core.PssSampler() as pss:
        spark = core.start_spark(work, settings, event_log=bool(args.trace))
        try:
            state = module.setup(spark, args.seed, work, args.seconds)
            setup_s = time.perf_counter() - t0
            res = module.measure(spark, state, args.seconds, tracer)
        finally:
            core.stop_spark(spark)

    if not res["latency_s"]:
        raise RuntimeError(f"{args.workload}: no latency samples")
    latency_ms = [v * 1000.0 for v in res["latency_s"]]
    p50 = statistics.median(latency_ms)
    end_to_end = {
        "setup_s": setup_s,
        "peak_pss_mb": pss.peak / 2**20,
        "latency_p50_ms": p50,
        "throughput_per_s": res["throughput"],
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "settings": settings | {"sf_dir": None, "commit": core.git_commit(ROOT)} | core.versions(),
        "latency_ms": core.summary(latency_ms),
        "end_to_end": end_to_end,
        "details": res.get("details", {}),
        "spans": tracer.to_json(),
    }
    if args.trace:
        jobs = eventlog.parse(eventlog.log_files(os.path.join(work, "eventlog")))
        if not jobs:
            raise RuntimeError("traced run found an empty event log")
        values = layers.per_layer(args.workload, jobs, res, tracer)
        values["bench.traced_latency_p50_ms"] = p50
        record["per_layer_jobs"] = layers.job_table(jobs)
        record["trace_overhead_ms"] = _trace_overhead(args, p50)
        metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    for name, m in metrics.items():
        if not isinstance(m["value"], (int, float)) or m["value"] != m["value"]:
            raise RuntimeError(f"metric {name} has no value")
    record["metrics"] = metrics
    return record


def _trace_overhead(args, traced_p50: float) -> float | None:
    """Traced minus untraced median latency, against the untraced result
    of the same workload and seed when one was recorded."""
    path = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace0.json")
    try:
        with open(path) as fh:
            untraced = json.load(fh)["end_to_end"]["latency_p50_ms"]
    except (OSError, KeyError, ValueError):
        return None
    return traced_p50 - untraced


if __name__ == "__main__":
    sys.exit(main())
