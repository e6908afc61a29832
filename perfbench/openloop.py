"""Open-loop sample generator and the sustained-rate rule.

An open loop sends on a fixed schedule whatever the consumer does, so a
slow stream meets a growing queue instead of a politely slowed caller.
Every sample carries its due time; latency is measured from it, which
counts the wait a stall imposes on the samples behind it.
"""

from __future__ import annotations

import math
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Phase:
    """``seconds`` of samples offered at ``rate`` samples per second
    (rate 0: a pause)."""

    name: str
    rate: float
    seconds: float


def due_offsets(phases: list[Phase]) -> tuple[np.ndarray, np.ndarray]:
    """Due time of every sample (seconds after the start) and the index
    of the phase it belongs to, for back-to-back phases at fixed rates."""
    dues, tags, t0 = [], [], 0.0
    for i, ph in enumerate(phases):
        n = int(round(ph.rate * ph.seconds))
        dues.append(t0 + np.arange(n) / ph.rate if n else np.zeros(0))
        tags.append(np.full(n, i, dtype=np.int32))
        t0 += ph.seconds
    return np.concatenate(dues), np.concatenate(tags)


class OpenLoop(threading.Thread):
    """Emits samples on schedule: at each ``tick`` boundary, all samples
    whose due time has passed go out in one ``emit(lo, hi, start)``
    call (indices ``lo:hi``, ``start`` the wall-clock epoch of offset 0).

    Due times are absolute, so a slow ``emit`` makes the next call carry
    more samples rather than shifting the schedule. ``lags`` records, per
    call, how late it ran behind the tick boundary its oldest sample was
    scheduled for. Samples before ``first`` were sent by the caller
    beforehand.
    """

    def __init__(self, dues: np.ndarray, emit: Callable[[int, int, float], None], tick: float = 0.1, first: int = 0):
        super().__init__(name="open-loop", daemon=True)
        self.dues = dues
        self.emit = emit
        self.tick = tick
        self.lags: list[float] = []
        self.first = first
        self.sent = first
        self.start_time = 0.0
        self.error: BaseException | None = None
        self._halt = threading.Event()

    def begin(self, start_time: float) -> None:
        self.start_time = start_time
        self.start()

    def run(self) -> None:
        n = len(self.dues)
        k = self.first
        try:
            while k < n and not self._halt.is_set():
                now = time.time() - self.start_time
                # everything due before the last tick boundary passed
                boundary = math.floor(now / self.tick) * self.tick
                hi = int(np.searchsorted(self.dues, boundary, side="left"))
                if hi > k:
                    self.lags.append(now - self._send_time(k))
                    self.emit(k, hi, self.start_time)
                    k = hi
                    self.sent = k
                if k < n:
                    self._halt.wait(max(self._send_time(k) - (time.time() - self.start_time), 0.0))
        except BaseException as exc:  # surfaced by the caller via .error
            self.error = exc

    def _send_time(self, k: int) -> float:
        """Sample ``k`` goes out at the first tick boundary after it is due."""
        return (math.floor(float(self.dues[k]) / self.tick) + 1) * self.tick

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=30)


def backlog_grows(series: list[tuple[float, float]], rate: float, tolerance: float = 0.05) -> bool:
    """True when the backlog (samples offered but not yet consumed,
    sampled at times ``t``) rises faster than ``tolerance`` × the offered
    rate — a least-squares slope, so one slow epoch is not a trend."""
    if len(series) < 3:
        return False
    t = np.array([p[0] for p in series], dtype=float)
    b = np.array([p[1] for p in series], dtype=float)
    slope = float(np.polyfit(t - t[0], b, 1)[0])
    return slope > tolerance * rate


def sustained_rate(rungs: list[dict], limit_ms: float) -> float | None:
    """The highest ladder rate whose p99 latency meets ``limit_ms`` with
    no growing backlog. Each rung is ``{"rate", "p99_ms", "backlog"}``;
    ``None`` when no rung qualifies."""
    ok = [
        r["rate"]
        for r in rungs
        if r["p99_ms"] is not None
        and r["p99_ms"] <= limit_ms
        and not backlog_grows(r["backlog"], r["rate"])
    ]
    return max(ok) if ok else None
