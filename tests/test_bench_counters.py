"""bench.py's per-query counters, without Spark: event-log jobs are
attributed to query runs by submission time, the kept run's window is
the one reported, an empty window fails loudly, and the event log has
one reader."""

from __future__ import annotations

import os
import types

import pytest

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job(job: int, start: float, tasks: int = 1, input_bytes: int = 0) -> dict:
    """One record shaped like ``perfbench.eventlog.parse`` output."""
    return {
        "job": job,
        "group": None,
        "batch": None,
        "start": start,
        "end": start + 0.1,
        "stages": 1,
        "tasks": tasks,
        "executor_run_s": 0.05 * tasks,
        "executor_cpu_s": 0.01 * tasks,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": input_bytes,
        "python": {},
    }


def test_each_job_counts_in_the_window_containing_its_start():
    jobs = [
        _job(0, 1.0, tasks=7, input_bytes=1000),  # warm-up: no window
        _job(1, 10.2, tasks=2, input_bytes=10),
        _job(2, 10.9, tasks=3, input_bytes=20),
        _job(3, 12.0, tasks=5, input_bytes=40),  # between the windows
        _job(4, 20.5, tasks=4, input_bytes=80),
        _job(5, 30.0, tasks=9, input_bytes=160),  # after every window
    ]
    # submission order need not be start order (a stream's batch job is
    # submitted from another thread)
    counters = bench.query_counters(
        list(reversed(jobs)), {"a": (10.0, 11.0), "b": (20.0, 21.0)}
    )
    assert set(counters) == {"a", "b"}
    a, b = counters["a"], counters["b"]
    assert (a["spark.jobs"], a["spark.tasks"], a["spark.input_bytes"]) == (
        2, 5, 30,
    )
    assert (b["spark.jobs"], b["spark.tasks"], b["spark.input_bytes"]) == (
        1, 4, 80,
    )
    assert a["spark.executor_cpu_s"] == pytest.approx(0.05)
    # window 1.0 s, jobs busy 10.2-10.3 and 10.9-11.0
    assert a["spark.driver_only_s"] == pytest.approx(0.8)


def test_the_kept_runs_counters_are_reported():
    best: dict[str, float] = {}
    windows: dict[str, tuple[float, float]] = {}
    bench.keep_fastest(best, windows, "q", 2.0, (10.0, 12.0))
    bench.keep_fastest(best, windows, "q", 1.0, (20.0, 21.0))  # kept
    bench.keep_fastest(best, windows, "q", 1.5, (30.0, 31.5))
    bench.keep_fastest(best, windows, "q", 1.0, (40.0, 41.0))  # a tie
    assert best == {"q": 1.0} and windows == {"q": (20.0, 21.0)}
    jobs = [_job(i, s, tasks=t) for i, (s, t) in
            enumerate([(10.5, 8), (20.5, 3), (30.5, 8), (40.5, 8)])]
    counters = bench.query_counters(jobs, windows)
    assert counters["q"]["spark.jobs"] == 1
    assert counters["q"]["spark.tasks"] == 3


def test_an_empty_window_fails_loudly_naming_the_query():
    jobs = [_job(0, 10.5)]
    with pytest.raises(SystemExit, match="cdf_consumer_eviction"):
        bench.query_counters(
            jobs, {"ok": (10.0, 11.0), "cdf_consumer_eviction": (12.0, 13.0)}
        )


def test_time_query_times_the_noop_write_then_clears_the_cache():
    calls = []

    class _Writer:
        def format(self, fmt):
            calls.append(f"format:{fmt}")
            return self

        def mode(self, mode):
            calls.append(f"mode:{mode}")
            return self

        def save(self):
            calls.append("save")

    spark = types.SimpleNamespace(
        catalog=types.SimpleNamespace(
            clearCache=lambda: calls.append("clearCache")
        )
    )

    def query(s, sf_dir):
        assert s is spark and sf_dir == "sf"
        calls.append("query")
        return types.SimpleNamespace(write=_Writer())

    dt, (start, end) = bench.time_query(spark, query, "sf")
    assert calls == [
        "query", "format:noop", "mode:overwrite", "save", "clearCache",
    ]
    assert 0 <= dt and start <= end


def _py_files(top: str) -> list[str]:
    if os.path.isfile(top):
        return [top]
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(top)
        for f in files
        if f.endswith(".py")
    ]


def test_perfbench_eventlog_is_the_only_event_log_reader():
    assert not os.path.exists(os.path.join(ROOT, "tools", "profile_query.py"))
    assert not os.path.exists(os.path.join(ROOT, "bench_replay.py"))
    hits = [
        os.path.relpath(path, ROOT)
        for top in ("bench.py", "tools", "psd_project_spark")
        for path in _py_files(os.path.join(ROOT, top))
        if "SparkListenerJobStart" in open(path, encoding="utf-8").read()
    ]
    assert hits == []
