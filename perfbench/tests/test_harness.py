"""Self-tests of the benchmark harness; none of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import queue
import threading
import time

import numpy as np
import pytest

from perfbench import core, eventlog, openloop, reference

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# --- open-loop generator ---------------------------------------------------------


def test_generator_keeps_schedule_against_stalled_consumer():
    """The consumer never reads; the generator still sends every sample at
    its tick, so the queue grows at the offered rate."""
    dues, _ = openloop.due_offsets([openloop.Phase("p", 200.0, 1.0)])
    inbox: queue.Queue = queue.Queue()
    sent_at = []

    def emit(lo, hi, start):
        sent_at.append((time.time() - start, lo, hi))
        inbox.put((lo, hi))  # nobody takes it

    gen = openloop.OpenLoop(dues, emit, tick=0.05)
    gen.begin(time.time())
    gen.join(timeout=5)
    assert not gen.is_alive() and gen.error is None
    assert gen.sent == len(dues) == 200
    assert inbox.qsize() == len(sent_at)
    for t, lo, _hi in sent_at:
        # each call goes out at the tick boundary after its oldest sample
        assert t >= dues[lo]
        assert t - dues[lo] < 0.05 + 0.05
    assert max(gen.lags) < 0.05


def test_slow_emit_does_not_shift_the_schedule():
    """One stalled write delays that call only: the next call carries
    every sample that fell due meanwhile, and later ticks stay on time."""
    dues, _ = openloop.due_offsets([openloop.Phase("p", 100.0, 0.8)])
    calls = []

    def emit(lo, hi, start):
        calls.append((time.time() - start, lo, hi))
        if len(calls) == 2:
            time.sleep(0.25)

    gen = openloop.OpenLoop(dues, emit, tick=0.05)
    gen.begin(time.time())
    gen.join(timeout=5)
    assert gen.sent == len(dues)
    t3, lo3, hi3 = calls[2]
    assert hi3 - lo3 > 10  # the backlog of the stall, sent at once
    t_last, lo_last, _ = calls[-1]
    assert t_last - dues[lo_last] < 0.1
    # every sample sent exactly once, in order
    assert [c[1] for c in calls[1:]] == [c[2] for c in calls[:-1]]


def test_due_offsets_back_to_back_phases():
    dues, tags = openloop.due_offsets(
        [openloop.Phase("a", 10.0, 1.0), openloop.Phase("b", 100.0, 0.5)]
    )
    assert len(dues) == 60 and list(np.bincount(tags)) == [10, 50]
    assert dues[10] == pytest.approx(1.0) and np.all(np.diff(dues) > 0)


# --- percentiles ----------------------------------------------------------------------


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert core.percentile(values, 50) == 50
    assert core.percentile(values, 99) == 99
    assert core.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        core.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    tail = core.tail_percentile([float(i) for i in range(n)])
    assert (tail[0] if tail else None) == expected


def test_summary_reports_count_median_and_tail():
    s = core.summary([float(i) for i in range(1000)])
    assert s == {"n": 1000, "median": 499.5, "p99": 989.0}


# --- spans ------------------------------------------------------------------------------


def _span(name, start, end, parent=None):
    return core.Span(name, start, end, parent, 0, 0)


def test_self_time_subtracts_the_union_of_children():
    parent = _span("pass", 0.0, 10.0)
    children = [_span("a", 1.0, 4.0), _span("b", 3.0, 5.0), _span("c", 8.0, 12.0)]
    # children cover [1,5] and [8,10] inside the parent: 6 of 10 seconds
    assert core.self_time(parent, children) == pytest.approx(4.0)
    assert core.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_links_nested_spans():
    tr = core.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            time.sleep(0.01)
    outer, inner = tr.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert 0 <= tr.self_time(outer.sid) < outer.end - outer.start


# --- sustained-rate rule -----------------------------------------------------------


def test_backlog_growth_is_a_trend_not_a_spike():
    flat = [(t, 300.0 + (500.0 if t == 3 else 0.0)) for t in range(8)]
    growing = [(t, 100.0 * t) for t in range(8)]
    assert not openloop.backlog_grows(flat, rate=100.0)
    assert openloop.backlog_grows(growing, rate=100.0)
    assert not openloop.backlog_grows(growing[:2], rate=100.0)


def test_sustained_rate_is_highest_rung_meeting_both_limits():
    def rung(rate, p99, slope):
        return {"rate": rate, "p99_ms": p99, "backlog": [(t, slope * t) for t in range(6)]}

    rungs = [rung(100, 4000, 0), rung(200, 6000, 0), rung(400, 7000, 300), rung(800, 30000, 700)]
    assert openloop.sustained_rate(rungs, limit_ms=10_000) == 200
    assert openloop.sustained_rate(rungs, limit_ms=5_000) == 100
    assert openloop.sustained_rate(rungs[2:], limit_ms=10_000) is None


# --- event log ----------------------------------------------------------------------------


def test_event_log_parser_on_recorded_log():
    """A small recorded log: one pandas grouped-map job in job group
    ``demo.udf`` and one plain job in ``demo.count``."""
    jobs = eventlog.parse([os.path.join(HERE, "data", "eventlog_small.jsonl")])
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    assert set(by_group) >= {"demo.udf", "demo.count"}
    udf = by_group["demo.udf"]
    python = [j["python"]["FlatMapGroupsInPandas"] for j in udf if "FlatMapGroupsInPandas" in j["python"]]
    assert python, "the grouped-map node's Python metrics were not attributed"
    assert sum(p["rows_received"] for p in python) == 8
    assert sum(p["udf_ms"] for p in python) > 0
    assert sum(j["shuffle_write_bytes"] for j in udf) > 0
    for j in jobs:
        assert j["tasks"] >= 1 and j["end"] >= j["start"]
        assert j["executor_cpu_s"] > 0
    assert all(not j["python"] for j in by_group["demo.count"])


# --- numpy reference -------------------------------------------------------------------


def _loop_measures(window):
    """Plain-Python measures of one window, straight from the definitions."""
    s = sorted(window)
    n = len(s)
    mean = sum(s) / n
    median = (s[n // 2 - 1] + s[n // 2]) / 2 if n % 2 == 0 else s[n // 2]
    k = max(n // 10, 1)
    sm1 = mean - sum(abs(x - mean) for x in s) / (2 * n)
    gini = sum(abs(a - b) for a in s for b in s)
    return [mean, median, s[n // 10], sum(s[:k]) / k, sm1, mean - gini / (2 * n * n)]


def test_reference_measures_match_the_definitions():
    x = np.random.default_rng(3).normal(0.001, 0.02, 80)
    got = reference.window_measures(x)
    assert got.shape == (80 - reference.WINDOW + 1, 6)
    for j in (0, 17, len(got) - 1):
        want = _loop_measures(list(x[j : j + reference.WINDOW]))
        np.testing.assert_allclose(got[j], want, rtol=0, atol=1e-15)


def test_grid_check_accepts_only_ambiguous_differences():
    counts = {("mean", 0): 5, ("sm2", 0): 2}
    slack = {("mean", 0): 0, ("sm2", 0): 1}
    assert reference.grid_matches({("mean", 0): 5, ("sm2", 0): 3}, counts, slack)
    assert not reference.grid_matches({("mean", 0): 6, ("sm2", 0): 2}, counts, slack)
    assert not reference.grid_matches({("mean", 0): 5}, counts, slack)


# --- contract -------------------------------------------------------------------------------


def test_benchmark_json_names_the_metrics_run_reports():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
