"""SparkSession construction and per-session dynamic configuration.

Two layers:

- :func:`get_spark` builds a local session with scale-appropriate
  defaults (AQE on, shuffle partitions ~ cores, UTC, Arrow) from
  :func:`spark_builder`, which harnesses extend with static confs.
- :func:`ensure_conf` applies the *dynamic* SQL confs this engine needs
  to any externally-provided session (the correctness driver constructs
  its own ``SparkSession``), e.g. nanosecond-parquet handling for the
  ``events`` table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Dynamic SQLConf entries safe to set on a running session.
DYNAMIC_CONF: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot read
    # natively; read as long and convert explicitly (sources/registry.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle comparisons (DuckDB) are UTC-naive.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for the Pandas-UDF slow path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Input-split sizing for LOCAL test SFs: the default 128 MB
    # partition / 4 MB open-cost pair collapses a 10 MB sf0.1 parquet
    # into ~3 splits — 3 tasks on a 32-thread box. Smaller splits keep
    # scan-bound aggregates parallel here (bounded below by the files'
    # row-group size). At production scale this is sized UP to
    # executor-memory-sized partitions (~128-256 MB) — the knob exists
    # to be SIZED to the deployment, not inherited.
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones — the knob that keeps one plan valid from sf0.001 to 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Background state-store snapshot maintenance defaults to every 60s
    # and causes multi-second stalls mid-benchmark; hourly is plenty for
    # short-lived local runs (production streams tune per workload).
    "spark.sql.streaming.stateStore.maintenanceInterval": "3600s",
    # Leaked reused Python workers spin on their socket after heavy
    # pandas-UDF / stateful-streaming use (observed ~30% system CPU and
    # scheduler starvation after ~30 queries in one session); idle
    # workers are reaped instead of pooled forever.
    "spark.python.worker.idleTimeoutSeconds": "30",
}


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply this engine's dynamic confs to an existing session (idempotent)."""
    for key, value in DYNAMIC_CONF.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # Static/unknown conf on this build — skip rather than fail.
            pass
    return spark


def _default_driver_memory() -> str:
    """min(24g, ¾ of physical RAM), in MiB as Spark's size string."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, ram_mb * 3 // 4)}m"


def spark_builder(
    app_name: str = "psd_project_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession.Builder:
    """The configured local-session builder behind :func:`get_spark`.

    A harness that needs a static conf (one read only when the JVM
    starts, e.g. an event log) chains it onto this builder, calls
    ``getOrCreate`` and then :func:`get_spark`, which picks that
    session up.
    """
    cpus = cpus or int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            driver_memory
            or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _default_driver_memory(),
        )
    )
    for key, value in DYNAMIC_CONF.items():
        builder = builder.config(key, value)
    return builder


def get_spark(
    app_name: str = "psd_project_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on (``os.sched_getaffinity``), so a small host never
    runs more Python workers than it has cores. In local mode the
    driver JVM is the only process, so ``driver_memory`` is the single
    memory knob; it only takes effect if the JVM is not yet started.
    It defaults to ``$SPARK_GRAFT_DRIVER_MEM``, else the smaller of 24g
    and three quarters of physical RAM, so a small host never grants
    the heap more memory than it has.
    """
    spark = spark_builder(
        app_name, cpus, shuffle_partitions, driver_memory
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_conf(spark)
