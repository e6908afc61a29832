"""Workload ``replay_batch``: the reference's own run, as a closed loop
with one caller.

One pass reads the seeded samples, stacks them into 7 series, computes
the population statistics (``grouped_measures``, its own action), then
the sliding-window measures (``windowed_measures_np``) joined against
the broadcast statistics and the alert predicate, collecting the
42-cell (measure × series) alert-count grid.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from perfbench import reference
from perfbench.core import Tracer

#: samples per pass; 7 series × (N − 29) windows
N_SAMPLES = 30_000
#: overlapped chunks per series (``windowed_measures_np(chunk_rows=…)``)
CHUNK_ROWS = 1_250
#: the first untimed pass pays code generation, JIT and Python worker
#: start, which do not depend on the input size, so it runs on a small
#: prefix; untimed passes on the full input follow until pass times stop
#: falling (measured: three)
WARMUP_SAMPLES = 1_000
WARMUP_PASSES = 3


def setup(spark, seed: int, work: str, seconds: float) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from psd_project_spark.fixtures.generator import sample_returns, with_portfolio

    x = with_portfolio(sample_returns(N_SAMPLES, seed=seed))
    cols = {"seq": np.arange(1, N_SAMPLES + 1, dtype=np.int64)}
    for j in range(x.shape[1]):
        cols[f"v{j}"] = x[:, j]
    path = os.path.join(work, "samples.parquet")
    pq.write_table(pa.table(cols), path)
    warm_path = os.path.join(work, "warmup.parquet")
    pq.write_table(pa.table(cols).slice(0, WARMUP_SAMPLES), warm_path)
    stats = np.stack([reference.population_stats(x[:, j]) for j in range(x.shape[1])])
    counts, slack = reference.alert_grid(x, stats)
    state = {"path": path, "series": x.shape[1], "stats": stats, "counts": counts, "slack": slack}
    _one_pass(spark, state | {"path": warm_path}, "warmup", Tracer())
    for _ in range(WARMUP_PASSES):
        _one_pass(spark, state, "warmup", Tracer())
    return state


def _one_pass(spark, state: dict, prefix: str, tracer: Tracer):
    from pyspark.sql import functions as F

    from psd_project_spark.config import DEFAULT_CONFIG
    from psd_project_spark.functions.measures import grouped_measures, measures_to_long
    from psd_project_spark.functions.measures_np import windowed_measures_np

    sc = spark.sparkContext
    n = state["series"]
    stack = ", ".join(f"{j}, v{j}" for j in range(n))
    long = spark.read.parquet(state["path"]).select(
        "seq", F.expr(f"stack({n}, {stack}) as (series, value)")
    )
    tracer.new_trace()
    with tracer.span("replay.pass"):
        sc.setJobGroup(f"{prefix}.stats", "population statistics")
        with tracer.span("measures.stats"):
            stats_rows = measures_to_long(
                grouped_measures(long, ["series"], "value", digits=DEFAULT_CONFIG.measure_round_digits),
                ["series"],
            ).collect()
        stats = spark.createDataFrame(
            [(r.series, r.measure, r.value) for r in stats_rows],
            "series int, measure string, ref_value double",
        )
        sc.setJobGroup(f"{prefix}.grid", "windowed measures and alert grid")
        with tracer.span("measures_np.grid"):
            measures = windowed_measures_np(
                long,
                key_cols=["series"],
                order_col="seq",
                value_col="value",
                window_size=DEFAULT_CONFIG.window_size,
                digits=None,
                chunk_rows=CHUNK_ROWS,
                seq_precomputed=True,
            )
            alerts = (
                measures_to_long(measures, ["series", "seq"])
                .join(F.broadcast(stats), ["series", "measure"])
                .filter(
                    (F.col("value") < F.col("ref_value"))
                    & (
                        (F.col("ref_value") - F.col("value")) / (F.lit(1.0) + F.col("ref_value"))
                        >= F.lit(DEFAULT_CONFIG.alert_threshold)
                    )
                )
            )
            grid_rows = alerts.groupBy("measure", "series").count().collect()
    sc.setJobGroup("perfbench", "harness")
    return stats_rows, grid_rows


def _check(state: dict, stats_rows, grid_rows) -> bool:
    """Statistics within the reference's rounding slack, and every one of
    the 42 grid cells within its ambiguous-window slack."""
    stats = state["stats"]
    names = reference.MEASURES
    got_stats = {(r.series, r.measure): r.value for r in stats_rows}
    if len(got_stats) != stats.size:
        return False
    for (j, m), v in got_stats.items():
        if abs(v - stats[j, names.index(m)]) > reference.EPS:
            return False
    grid = {cell: 0 for cell in state["counts"]}
    for r in grid_rows:
        grid[(r.measure, r.series)] = r["count"]
    return reference.grid_matches(grid, state["counts"], state["slack"])


def measure(spark, state: dict, seconds: float, tracer: Tracer) -> dict:
    passes, failed = 0, 0
    t_end = time.time() + seconds
    while time.time() < t_end:
        ok = _check(state, *_one_pass(spark, state, "replay", tracer))
        passes += 1
        failed += 0 if ok else 1
    pass_s = tracer.durations("replay.pass")
    windows = state["series"] * (N_SAMPLES - reference.WINDOW + 1)
    return {
        "attempted": passes,
        "failed": failed,
        "latency_s": pass_s,
        "throughput": windows / statistics.median(pass_s),
    }
