"""Streaming StatSigDetectorModel on the detector harness
(streaming/detector_harness.py).

Parity with kats/detectors/stat_sig_detector.py:44-933
(``StatSigDetectorModel``): per point, the t-score of the test window
(last ``n_test`` values, inclusive) against the control window (the
``n_control`` values before it) — the incremental ``fit_predict``
contract (kats/detectors/detector.py:137-207) with history carried as
state.

State = a bounded ring buffer of the last ``n_control + n_test`` values
(versioned JSON via the sources/state codec — vN+1 loads vN,
detector.py:157-163).  Per-series state size is fixed at
O(n_control + n_test) floats regardless of stream length, so 10M series
cost a bounded store; timeouts are left to the caller's watermark policy.

Streaming == batch: scores equal operators/statsig.statsig_scores row for
row (asserted in tests/test_streaming.py), so backfill can use the
window-expression batch plan and the live path this operator — same
numbers.
"""

from __future__ import annotations

from typing import Any

from kats_spark.sources.state import StateCodec
from kats_spark.streaming.detector_harness import Step, score_stream
from kats_spark.tsframe import TSSchema, DEFAULT

OUTPUT_SCHEMA = (
    "series_id string, time timestamp, value double, mean_test double, "
    "mean_control double, stat_sig_score double"
)

CODEC = StateCodec(1, {"buf": []})


def _score_one(buf: list[float], value: float, n_control: int, n_test: int):
    """Append value, score vs the windows ending at it; returns
    (mean_test, mean_control, score, new_buf).

    Partial-window semantics mirror the batch frame aggregates
    (operators/statsig.py): means average whatever rows the clamped
    window holds (so early points emit partial means, like ``avg over
    rowsBetween``), the score gates on BOTH windows being full.
    """
    buf = (buf + [value])[-(n_control + n_test):]
    test = buf[-n_test:]
    ctrl = buf[:-n_test]
    mean_t = sum(test) / len(test)
    mean_c = sum(ctrl) / len(ctrl) if ctrl else None
    score = None
    if len(test) == n_test and len(ctrl) == n_control:
        var_t = (
            sum((x - mean_t) ** 2 for x in test) / (n_test - 1) if n_test > 1 else 0.0
        )
        var_c = (
            sum((x - mean_c) ** 2 for x in ctrl) / (n_control - 1)
            if n_control > 1
            else 0.0
        )
        se = (var_t / n_test + var_c / n_control) ** 0.5
        if se > 0:
            score = (mean_t - mean_c) / se
    return mean_t, mean_c, score, buf


def _step(n_control: int, n_test: int) -> Step:
    def step(st: dict[str, Any], t, v: float) -> list[tuple]:
        mean_t, mean_c, score, st["buf"] = _score_one(st["buf"], v, n_control, n_test)
        return [(t, v, mean_t, mean_c, score)]

    return step


def statsig_stream(
    stream_df,
    n_control: int,
    n_test: int,
    s: TSSchema = DEFAULT,
):
    """Structured Streaming scorer on the detector harness."""
    return score_stream(stream_df, _step(n_control, n_test), CODEC, OUTPUT_SCHEMA, s)
