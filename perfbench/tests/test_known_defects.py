"""Engine defects the benchmark's workloads are shaped around.

Each test states the behaviour the engine documents and is marked
``xfail(strict=True)`` while the defect stands, so fixing the engine
turns it into a failure: then remove the mark and the workaround named
in its reason. None of them starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from psd_project_spark.config import DEFAULT_CONFIG
from psd_project_spark.streaming.count_window import MEASURE_FIELDS, count_window_state_handler

OUT_COLS = ["user_id", "seq", *MEASURE_FIELDS]


class _State:
    """The part of ``GroupState`` the handler uses."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _run(chunks: list[pd.DataFrame]) -> pd.DataFrame:
    handler = count_window_state_handler(
        DEFAULT_CONFIG.window_size, DEFAULT_CONFIG.measure_round_digits, OUT_COLS
    )
    out = list(handler((7,), iter(chunks), _State()))
    return pd.concat(out, ignore_index=True)


def _rows(order: np.ndarray, values: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"user_id": 7, "_order": order, "_value": values[order - 1]})


def _samples(n: int = 60) -> np.ndarray:
    return np.random.default_rng(3).standard_normal(n)


def test_handler_restores_arrival_order_within_one_chunk():
    values = _samples()
    order = np.arange(1, len(values) + 1)
    shuffled = np.random.default_rng(4).permutation(order)
    pd.testing.assert_frame_equal(_run([_rows(shuffled, values)]), _run([_rows(order, values)]))


@pytest.mark.xfail(
    strict=True,
    reason=(
        "count_window_state_handler sorts each Arrow chunk of a key on its "
        "own, so a micro-batch whose rows for one key arrive in more than "
        "one chunk, out of sequence order, advances the ring out of order. "
        "alert_stream sends its burst as one file to stay clear of it."
    ),
)
def test_handler_restores_arrival_order_across_chunks_of_one_micro_batch():
    values = _samples()
    order = np.arange(1, len(values) + 1)
    late_first = [_rows(order[40:], values), _rows(order[:40], values)]
    pd.testing.assert_frame_equal(_run(late_first), _run([_rows(order, values)]))
