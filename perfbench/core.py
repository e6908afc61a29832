"""Harness primitives shared by the workloads: statistics, spans, the
process-tree memory sampler, host settings and the Spark session.

Nothing here imports pyspark at module load, so the self-tests under
``perfbench/tests`` run without a JVM.
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

# --- statistics --------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))  # ceil(n * q / 100), at least 1
    return float(s[int(rank) - 1])


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile of ``p50, p90, p99, p99.9`` that still has
    at least ``beyond`` samples above it, with its value; ``None`` when
    even p50 has fewer (too few samples to report a tail)."""
    best = None
    n = len(values)
    for q in (50.0, 90.0, 99.0, 99.9):
        if round(n * (100.0 - q) / 100.0, 6) >= beyond:
            best = (q, percentile(values, q))
    return best


def summary(values: list[float]) -> dict:
    """Median, the reportable tail percentile and the sample count."""
    if not values:
        raise ValueError("no samples to summarise")
    out = {"n": len(values), "median": statistics.median(values)}
    tail = tail_percentile(values)
    if tail is not None:
        out[f"p{tail[0]:g}"] = tail[1]
    return out


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace: int
    sid: int


@dataclass
class Tracer:
    """In-memory spans at layer boundaries, written out when the run ends.

    Times are ``time.time()`` seconds so they line up with the
    millisecond timestamps Spark writes into its event log and progress.
    """

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _trace: int = 0

    def new_trace(self) -> None:
        """Spans added from now on belong to a new request."""
        self._trace += 1

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        sid = len(self.spans)
        self.spans.append(Span(name, start, end, parent, self._trace, sid))
        return sid

    def span(self, name: str):
        return _SpanCtx(self, name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_time(self, sid: int) -> float:
        return self_time(self.spans[sid], [s for s in self.spans if s.parent == sid])

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.start = time.time()
        t = self.tracer
        self.parent = t._stack[-1] if t._stack else None
        # reserve the id so children can point at it before it closes
        self.sid = t.add(self.name, self.start, self.start, self.parent)
        t._stack.append(self.sid)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t._stack.pop()
        self.end = time.time()
        t.spans[self.sid].end = self.end
        return False


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - union_length(clipped)


# --- memory ------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it. Spark forks its Python workers from
    one daemon, so summed RSS counts their shared pages once per fork
    and jumps with every fork; summed PSS counts them once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PssSampler:
    """Samples the summed PSS of every descendant of this process (the
    Spark driver JVM and its Python workers) on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="pss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(pss_bytes(p) for p in descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


# --- host settings -------------------------------------------------------------


def host_settings() -> dict:
    """Resources the benchmark sizes Spark from, derived from the host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    # 1g whatever the host: the workloads hold a few MB of state, and
    # other processes share the host
    return {"cpus": cpus, "driver_memory": "1g", "host_mem_gb": round(mem_kb / 2**20, 1)}


def git_commit(root: str) -> str | None:
    """The checkout's commit, when it is a git repository itself (git
    would otherwise search the directories above it)."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def versions() -> dict:
    import numpy
    import pyspark

    return {
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pyspark": pyspark.__version__,
    }


# --- Spark session -------------------------------------------------------------


def start_spark(work: str, settings: dict, event_log: bool):
    """Start the session through the engine's own ``get_spark``.

    Static confs (event log, scratch dirs) must be present when the JVM
    starts, so a builder carrying them runs first; ``get_spark`` then
    picks that session up and applies the engine's defaults to it.
    """
    from pyspark.sql import SparkSession

    from psd_project_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{settings['cpus']}]")
        .config("spark.driver.memory", settings["driver_memory"])
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the whole heap is committed and touched at start, so the
        # footprint does not follow when the collector chose to grow it
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Xms{settings['driver_memory']} -XX:+AlwaysPreTouch",
        )
    )
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir)
            # zstandard is not installed, and the parser reads plain JSON
            .config("spark.eventLog.compress", "false")
        )
    builder.getOrCreate()
    return get_spark(app_name="perfbench")


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every
    process this run started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    kids = descendants(os.getpid())
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits on EOF of its stdin
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in kids):
        for p in kids:
            _reap(p)
        time.sleep(0.1)
    for p in [p for p in kids if _alive(p)]:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
        _reap(p)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited, unreaped process counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pid: int) -> None:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass  # not our direct child; its own parent reaps it
