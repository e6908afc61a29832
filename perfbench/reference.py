"""Independent numpy reference for the alert outputs the workloads check.

Written from the measure definitions (the reference's State accumulator:
mean, median, 10% quantile, tail mean, and the two safety measures), not
by calling the engine. The engine accumulates some sums in decimal and
rounds measures to 9 digits, so a window whose alert predicate lies
within ``EPS`` of its boundary is *ambiguous*: either answer is right,
and the checks accept it both ways. Every other window must match.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

MEASURES = ("mean", "median", "q10", "tail_mean", "sm1", "sm2")
WINDOW = 30
THRESHOLD = 0.01
EPS = 2e-9


def sorted_measures(s: np.ndarray) -> np.ndarray:
    """The six measures of each row of ascending-sorted ``s`` (rows × n)."""
    n = s.shape[1]
    mean = s.sum(axis=1) / n
    if n % 2 == 0:
        median = (s[:, n // 2 - 1] + s[:, n // 2]) / 2
    else:
        median = s[:, n // 2]
    q10 = s[:, n // 10]
    k = max(n // 10, 1)
    tail_mean = s[:, :k].sum(axis=1) / k
    sm1 = mean - np.abs(s - mean[:, None]).sum(axis=1) / (2 * n)
    i = np.arange(1, n + 1, dtype=np.float64)
    sm2 = mean - ((2 * i - n - 1) * s).sum(axis=1) / (n * n)
    return np.stack([mean, median, q10, tail_mean, sm1, sm2], axis=1)


def window_measures(x: np.ndarray, window: int = WINDOW) -> np.ndarray:
    """Measures of every full sliding count window of ``x`` (slide 1);
    row ``j`` is the window ending at 1-based sequence ``j + window``."""
    return sorted_measures(np.sort(sliding_window_view(x, window), axis=1))


def population_stats(x: np.ndarray, digits: int = 9) -> np.ndarray:
    """The six measures over the whole series, rounded like the engine's
    reference-statistics table."""
    return np.round(sorted_measures(np.sort(x)[None, :])[0], digits)


def alert_masks(values: np.ndarray, ref: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(alert, ambiguous) masks of the predicate ``value < ref`` and
    ``(ref - value) / (1 + ref) >= THRESHOLD``, broadcast over rows."""
    rel = (ref - values) / (1.0 + ref)
    alert = (values < ref) & (rel >= THRESHOLD)
    ambiguous = (np.abs(values - ref) <= EPS) | (np.abs(rel - THRESHOLD) <= EPS)
    return alert, ambiguous


def alert_grid(series: np.ndarray, stats: np.ndarray) -> tuple[dict, dict]:
    """Alert count and ambiguous-window count per (measure, series) for
    ``series`` (rows × S), against per-series ``stats`` (S × 6)."""
    counts, slack = {}, {}
    for j in range(series.shape[1]):
        alert, amb = alert_masks(window_measures(series[:, j]), stats[j][None, :])
        for m, name in enumerate(MEASURES):
            counts[(name, j)] = int(alert[:, m].sum())
            slack[(name, j)] = int(amb[:, m].sum())
    return counts, slack


def grid_matches(got: dict, counts: dict, slack: dict) -> bool:
    """Every cell present, and within its ambiguous-window slack."""
    if set(got) != set(counts):
        return False
    return all(abs(got[c] - counts[c]) <= slack[c] for c in counts)


def alert_set(series: np.ndarray, stats: np.ndarray, key: int) -> tuple[set, set]:
    """(alerts, ambiguous) as sets of ``(key, seq, measure)`` for one key's
    value series against its six reference values."""
    alert, amb = alert_masks(window_measures(series), stats[None, :])
    sure, maybe = set(), set()
    for m, name in enumerate(MEASURES):
        seqs = np.nonzero(alert[:, m] & ~amb[:, m])[0] + WINDOW
        sure.update((key, int(s), name) for s in seqs)
        seqs = np.nonzero(amb[:, m])[0] + WINDOW
        maybe.update((key, int(s), name) for s in seqs)
    return sure, maybe
