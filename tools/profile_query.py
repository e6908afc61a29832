"""Phase profiler for one registry query (optimization round tooling).

Usage: python tools/profile_query.py <query> [<query> ...] [--passes N]

Runs each query with the noop sink (guide §1.4) and prints

- wall seconds per pass (min kept),
- a per-kernel phase breakdown (monkeypatched timers around the shared
  lifecycle kernels: streaming runs, versioned-epoch applies, epoch
  writes, split staging, feed applies),
- Spark job count + total job time from the event log, so fixed
  per-action overhead is visible separately from compute.

This is measurement tooling only — it never changes what a query
computes.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

PHASES: dict[str, float] = defaultdict(float)
CALLS: dict[str, int] = defaultdict(int)


def _timed(mod, name, label=None):
    label = label or name
    orig = getattr(mod, name)

    def wrap(*a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(*a, **kw)
        finally:
            PHASES[label] += time.perf_counter() - t0
            CALLS[label] += 1

    wrap.__wrapped__ = orig
    setattr(mod, name, wrap)
    return orig


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = 2
    for a in sys.argv[1:]:
        if a.startswith("--passes"):
            passes = int(a.split("=", 1)[1])

    evdir = os.path.join(tempfile.gettempdir(), "psd_eventlog")
    import shutil

    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    from pyspark.sql import SparkSession

    from psd_project_spark.session import DYNAMIC_CONF, _default_driver_memory

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("psd-profile")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_memory(),
        )
        .config("spark.eventLog.enabled", "true")
        # Spark 4.1 compresses the log with zstd by default, which this
        # line-by-line JSON reader cannot parse.
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{evdir}")
    )
    for k, v in DYNAMIC_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # patch the shared kernels AFTER import, BEFORE queries() resolves
    import psd_project_spark.streaming.foreach_sink as fsink
    import psd_project_spark.operators.scd as scd
    import psd_project_spark.operators.zorder as zorder

    _timed(fsink, "run_stream")
    _timed(fsink, "apply_versioned_epoch")
    _timed(fsink, "write_epoch")
    _timed(fsink, "stage_stream_splits")
    _timed(fsink, "read_versioned")
    _timed(scd, "apply_feed_epoch")

    from psd_project_spark.registry import queries

    qs = queries()
    # warm up tables + python workers as bench.py does
    from pyspark.sql import functions as F
    from psd_project_spark.sources.registry import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_DIR, t).count()
    warm = F.pandas_udf(lambda s: s, "double")
    spark.range(64).select(warm(F.col("id").cast("double"))).count()

    for name in args:
        best = None
        for p in range(passes):
            PHASES.clear()
            CALLS.clear()
            t0 = time.perf_counter()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            phases = dict(sorted(PHASES.items(), key=lambda kv: -kv[1]))
            print(f"\n=== {name} pass{p}: {dt:.3f}s")
            for k, v in phases.items():
                print(f"    {v:7.3f}s x{CALLS[k]:<4} {k}")
            if best is None or dt < best:
                best = dt
        print(f"=== {name} BEST {best:.3f}s")

    spark.stop()
    # event-log job stats
    time.sleep(1)
    jobs = []
    logfiles = []
    for root, _dirs, files in os.walk(evdir):
        logfiles += [
            os.path.join(root, f) for f in files if "events" in f
        ]
    for f in logfiles:
        with open(f, errors="replace") as fh:
            starts = {}
            for line in fh:
                try:
                    e = json.loads(line)
                except Exception:
                    continue
                if not isinstance(e, dict):
                    continue
                if e.get("Event") == "SparkListenerJobStart":
                    starts[e["Job ID"]] = e["Submission Time"]
                elif e.get("Event") == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in starts:
                        jobs.append((e["Completion Time"] - starts[jid]) / 1000.0)
    if not jobs:
        sys.exit(f"[eventlog] no Spark job parsed from {logfiles or evdir}")
    print(
        f"\n[eventlog] {len(jobs)} jobs, total {sum(jobs):.2f}s, "
        f"mean {sum(jobs)/len(jobs)*1000:.0f}ms, max {max(jobs):.2f}s"
    )


if __name__ == "__main__":
    main()
