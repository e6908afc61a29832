"""Workload ``alert_stream``: the reference's real mode, as an open loop.

A generator thread writes parquet sample files on a fixed schedule into
a watched directory. The stream reads them, adds the weighted portfolio
return, stacks each sample into 7 series per portfolio, runs
``streaming_count_window_measures``, unpivots with ``measures_to_long``,
joins the broadcast reference statistics, applies the alert predicate
and writes the alerts to the ``psd_alert_log`` stream sink.

The stream runs on a 5-second processing-time trigger. The offered rate
steps up a fixed ladder: the base rung whose alert latency is reported,
then ``BURSTS`` bursts of ``BURST_SAMPLES`` within one generator tick
each, far beyond what one epoch absorbs at the base rate, which the next
epoch takes as one backlog file; their rows per second are the stream's
capacity.
Latency runs from a sample's
due time to the mtime of the ``_SUCCESS-epoch-N`` manifest of the epoch
that decided it — for a sample that raised an alert, the epoch holding
the alert. Every base-rung sample counts, so alerts that cluster in time
do not weight the median.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

from perfbench import reference
from perfbench.core import Tracer, percentile, summary
from perfbench.openloop import OpenLoop, Phase, backlog_grows, due_offsets, sustained_rate

#: portfolios; × 7 series = 28 state keys, more than the host's cores
PORTFOLIOS = 4
#: the base rung (samples/s over all portfolios)
BASE_RATE = 100.0
#: processing-time trigger; an epoch at the base rung takes about 3 s
TRIGGER_S = 5.0
#: generator tick: samples due within one tick share a file
TICK_S = 0.5
#: the burst rungs: samples offered within one tick, so one file, each
#: sent half a tick before a trigger, the first after the base rung's
#: last epoch. The pause before it keeps the burst out of that epoch
#: even when the epoch starts late because the one before overran its
#: trigger. Two bursts, so capacity is not one epoch's time.
#: One file, not several: a micro-batch whose rows for one key come
#: from several files and span more than one Arrow batch trips the
#: per-chunk sort in ``count_window_state_handler`` (see
#: perfbench/README.md and tests/test_known_defects.py).
BURST_SAMPLES = 12_000
BURST_S = TICK_S
BURSTS = 2
PAUSE_S = TRIGGER_S - 2 * TICK_S
#: p99 alert-latency limit of the sustained-rate rule
LATENCY_LIMIT_MS = 10_000.0
#: samples sent before the clock starts, so that the stream's first
#: epoch (Python worker start, code generation) falls in set-up
PRIME_SAMPLES = 4 * 30
DRAIN_TIMEOUT_S = 90.0
_SCHEMA = "pid int, seq long, r1 double, r2 double, r3 double, r4 double, r5 double, r6 double"


def setup(spark, seed: int, work: str, seconds: float) -> dict:
    from psd_project_spark.fixtures.generator import sample_returns, with_portfolio

    phases = [
        Phase("base", BASE_RATE, seconds),
        Phase("pause", 0.0, PAUSE_S),
        Phase("burst", BURST_SAMPLES / BURST_S, BURST_S),
    ]
    for _ in range(BURSTS - 1):
        phases += [
            Phase("pause", 0.0, TRIGGER_S - BURST_S),
            Phase("burst", BURST_SAMPLES / BURST_S, BURST_S),
        ]
    dues, tags = due_offsets(phases)
    n = len(dues)
    x = with_portfolio(sample_returns(n, seed=seed))  # sample k → portfolio k % P
    series = x.shape[1]
    sure, maybe = set(), set()
    stats_rows = []
    for p in range(PORTFOLIOS):
        for j in range(series):
            key = p * series + j
            values = x[p::PORTFOLIOS, j]
            stats = reference.population_stats(values)
            stats_rows += [(key, m, float(v)) for m, v in zip(reference.MEASURES, stats)]
            s, a = reference.alert_set(values, stats, key)
            sure |= s
            maybe |= a
    state = {
        "work": work,
        "phases": phases,
        "dues": dues,
        "tags": tags,
        "x": x,
        "series": series,
        "stats_rows": stats_rows,
        "sure": sure,
        "maybe": maybe,
    }
    state["query"] = query = _start_query(spark, state)
    state["emit"] = _writer(state)
    state["emit"](0, PRIME_SAMPLES, 0.0)
    deadline = time.time() + DRAIN_TIMEOUT_S
    while _consumed(query) < PRIME_SAMPLES:
        _check_alive(query)
        if time.time() > deadline:
            raise RuntimeError("alert stream did not take its priming batch")
        time.sleep(0.1)
    return state


def _start_query(spark, state: dict):
    from pyspark.sql import functions as F

    from psd_project_spark.config import DEFAULT_CONFIG
    from psd_project_spark.functions.measures import measures_to_long
    from psd_project_spark.sources import alert_log
    from psd_project_spark.streaming.count_window import streaming_count_window_measures

    work = state["work"]
    for d in ("watch", "alerts", "checkpoint"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    alert_log.register(spark)
    # keep every epoch's progress, not just the last 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    series = state["series"]
    weights = DEFAULT_CONFIG.weights
    src = spark.readStream.schema(_SCHEMA).parquet(os.path.join(work, "watch"))
    portfolio = sum((F.col(f"r{i + 1}") * F.lit(w) for i, w in enumerate(weights)), F.lit(0.0))
    stack = ", ".join(f"{j}, r{j + 1}" for j in range(series - 1)) + f", {series - 1}, _p"
    long = src.withColumn("_p", portfolio).select(
        "pid", "seq", F.expr(f"stack({series}, {stack}) as (series, value)")
    ).select((F.col("pid") * series + F.col("series")).cast("long").alias("user_id"), "seq", "value")
    measures = streaming_count_window_measures(long, key_cols=["user_id"], order_col="seq", value_col="value")
    stats = spark.createDataFrame(state["stats_rows"], "user_id long, measure string, ref_value double")
    alerts = (
        measures_to_long(measures, ["user_id", "seq"])
        .join(F.broadcast(stats), ["user_id", "measure"])
        .filter(
            (F.col("value") < F.col("ref_value"))
            & (
                (F.col("ref_value") - F.col("value")) / (F.lit(1.0) + F.col("ref_value"))
                >= F.lit(DEFAULT_CONFIG.alert_threshold)
            )
        )
        .select("seq", "measure", "user_id", F.col("value").alias("measure_value"), "ref_value")
    )
    return (
        alerts.writeStream.format("psd_alert_log")
        .option("path", os.path.join(work, "alerts"))
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .queryName("alert_stream")
        .trigger(processingTime=f"{TRIGGER_S:g} seconds")
        .start()
    )


def _writer(state: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq

    x, watch = state["x"], os.path.join(state["work"], "watch")
    files = [0]

    def emit(lo: int, hi: int, _start: float) -> None:
        k = np.arange(lo, hi)
        cols = {
            "pid": (k % PORTFOLIOS).astype(np.int32),
            "seq": (k // PORTFOLIOS + 1).astype(np.int64),
        }
        for i in range(6):
            cols[f"r{i + 1}"] = x[lo:hi, i]
        name = f"part-{files[0]:06d}.parquet"
        tmp = os.path.join(watch, f"_{name}")  # the file source skips _-names
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, os.path.join(watch, name))
        files[0] += 1

    return emit


def _check_alive(query) -> None:
    if not query.isActive:
        exc = query.exception()
        raise RuntimeError(f"alert stream stopped: {exc}")


def measure(spark, state: dict, seconds: float, tracer: Tracer) -> dict:
    query = state["query"]
    dues = state["dues"]
    n = len(dues)
    gen = OpenLoop(dues, state["emit"], tick=TICK_S, first=PRIME_SAMPLES)
    # Spark fires processing-time triggers on multiples of the interval
    # since the Unix epoch. Starting the schedule half a tick before one
    # keeps every file write half a tick away from a trigger, and the
    # trigger at ``start + TICK_S / 2 + m * TRIGGER_S`` takes exactly the
    # samples due before ``m * TRIGGER_S``, on every run.
    start = math.ceil((time.time() + 1.0) / TRIGGER_S) * TRIGGER_S - TICK_S / 2
    with tracer.span("stream.run"):
        gen.begin(start)
        try:
            while gen.is_alive():
                _check_alive(query)
                gen.join(timeout=0.5)
            if gen.error is not None:
                raise RuntimeError(f"generator failed: {gen.error!r}")
            deadline = time.time() + DRAIN_TIMEOUT_S
            while _consumed(query) < n:
                _check_alive(query)
                if time.time() > deadline:
                    raise RuntimeError(f"stream consumed {_consumed(query)} of {n} samples")
                time.sleep(0.2)
        finally:
            gen.stop()
    progress = [p for p in query.recentProgress]
    query.stop()
    if not progress:
        raise RuntimeError("alert stream delivered zero epochs")
    return _results(state, start, progress, gen, tracer)


def _consumed(query) -> int:
    return sum(p["numInputRows"] for p in query.recentProgress)


def _epoch_starts(progress: list) -> list[float]:
    from datetime import datetime

    return [datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() for p in progress]


def read_alert_log(path: str) -> tuple[dict, list]:
    """Alert rows per epoch from the committed manifests:
    ``{epoch: (manifest mtime, [(user_id, seq, measure), ...])}`` and the
    list of part files named."""
    epochs, files = {}, []
    for entry in os.listdir(path):
        if not entry.startswith("_SUCCESS-epoch-") or entry.endswith(".tmp"):
            continue
        epoch = int(entry.rsplit("-", 1)[1])
        manifest = os.path.join(path, entry)
        rows = []
        with open(manifest) as fh:
            names = [line.split("\t")[0] for line in fh if line.strip()]
        for name in names:
            files.append(name)
            with open(os.path.join(path, name)) as fh:
                for line in fh:
                    seq, m, uid, _mv, _rv = line.strip()[1:-1].split(",")
                    rows.append((int(uid), int(seq), m))
        epochs[epoch] = (os.stat(manifest).st_mtime, rows)
    return epochs, files


def _results(state, start, progress, gen, tracer) -> dict:
    dues, tags, phases = state["dues"], state["tags"], state["phases"]
    series = state["series"]
    epochs, files = read_alert_log(os.path.join(state["work"], "alerts"))

    # correctness: every sure alert exactly once, nothing outside the
    # ambiguous set, and no alert repeated across epochs
    seen, dupes = set(), set()
    alert_latency = []
    for mtime, rows in epochs.values():
        for row in rows:
            if row in seen:
                dupes.add(row)
            seen.add(row)
            uid, seq, _m = row
            k = (seq - 1) * PORTFOLIOS + uid // series
            if phases[tags[k]].name == "base":
                alert_latency.append((mtime - (start + dues[k])) * 1000.0)
    sure, maybe = state["sure"], state["maybe"]
    wrong = (sure - seen) | (seen - sure - maybe) | dupes
    bad_samples = {(uid // series, seq) for uid, seq, _m in wrong}

    # per-epoch progress, tagged with the rung most of its samples
    # belong to (-1: the priming epoch, or an epoch with no input)
    t_starts = _epoch_starts(progress)
    consumed = np.cumsum([p["numInputRows"] for p in progress])
    before = np.concatenate([[0], consumed[:-1]])
    epoch_rung = [
        int(np.bincount(tags[lo:hi]).argmax()) if hi > lo and lo >= PRIME_SAMPLES else -1
        for lo, hi in zip(before, consumed)
    ]
    # every sample's decision is durable once its epoch's manifest is:
    # files are taken whole and in order, so epoch e holds samples
    # before[e]:consumed[e]
    latency = {i: [] for i in range(len(phases))}
    for e, p in enumerate(progress):
        if p["numInputRows"] == 0:
            continue
        if p["batchId"] not in epochs:
            raise RuntimeError(f"epoch {p['batchId']} read input but committed no manifest")
        mtime = epochs[p["batchId"]][0]
        # the priming samples went out during set-up
        k = np.arange(max(before[e], PRIME_SAMPLES), consumed[e])
        lat = (mtime - (start + dues[k])) * 1000.0
        for i in range(len(phases)):
            latency[i].extend(lat[tags[k] == i].tolist())
    rungs = []
    for i, ph in enumerate(phases):
        idx = [e for e, r in enumerate(epoch_rung) if r == i]
        backlog = []
        for e in idx:
            offered = int(np.searchsorted(dues, t_starts[e] - start, side="right"))
            backlog.append((t_starts[e], offered - int(before[e])))
        lat = latency[i]
        rungs.append(
            {
                "name": ph.name,
                "rate": ph.rate,
                "epochs": len(idx),
                "p99_ms": percentile(lat, 99) if lat else None,
                "backlog": backlog,
            }
        )
    for e, p in enumerate(progress):
        tracer.new_trace()
        t0 = t_starts[e]
        tracer.add("epoch", t0, t0 + p["durationMs"].get("triggerExecution", 0) / 1000.0)

    names = [ph.name for ph in phases]
    base = names.index("base")
    base_lat = latency[base]
    if not base_lat or not alert_latency:
        raise RuntimeError("no samples or no alerts were due in the base rung")
    # capacity: the epochs made up mostly of burst samples
    cap_idx = [e for e, r in enumerate(epoch_rung) if r >= 0 and names[r] == "burst"]
    cap_rows = sum(progress[e]["numInputRows"] for e in cap_idx)
    cap_s = sum(progress[e]["durationMs"]["triggerExecution"] for e in cap_idx) / 1000.0
    epoch_table = [
        [round(t_starts[e] - start, 3), p["durationMs"].get("triggerExecution", 0), p["numInputRows"], epoch_rung[e]]
        for e, p in enumerate(progress)
    ]
    if len(cap_idx) != BURSTS or cap_s <= 0:
        raise RuntimeError(f"expected each of {BURSTS} bursts in an epoch of its own: {epoch_table}")
    base_idx = [e for e, r in enumerate(epoch_rung) if r == base]
    return {
        "attempted": len(dues),
        "failed": len(bad_samples),
        "latency_s": [v / 1000.0 for v in base_lat],
        "throughput": cap_rows / cap_s,
        "details": {
            "alerts": len(seen),
            "expected_alerts": len(sure),
            "ambiguous_alerts": len(maybe),
            "missing": len(sure - seen),
            "extra": len(seen - sure - maybe),
            "duplicates": len(dupes),
            "alert_latency_ms": summary(alert_latency),
            "rungs": [{k: v for k, v in r.items() if k != "backlog"} | {"backlog_grows": backlog_grows(r["backlog"], r["rate"])} for r in rungs],
            # the ladder's rate rungs; the burst rung measures capacity
            "sustained_samples_per_s": sustained_rate(rungs[:base + 1], LATENCY_LIMIT_MS),
            "generator_lag_ms_max": max(gen.lags) * 1000.0 if gen.lags else 0.0,
            "epochs": epoch_table,
        },
        "stream": {
            "progress": progress,
            "starts": t_starts,
            "base_epochs": base_idx,
            "base_backlog": [b for _t, b in rungs[base]["backlog"]],
            # how long the oldest sample of each base epoch waited for it
            "read_lag_ms": [(t_starts[e] - (start + dues[int(before[e])])) * 1000.0 for e in base_idx],
            "files": files,
            "alert_rows": sum(len(rows) for _m, rows in epochs.values()),
            "generator_lags_ms": [v * 1000.0 for v in gen.lags],
        },
    }
