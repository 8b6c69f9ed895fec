"""Streaming RollingStatsModel on the detector harness
(streaming/detector_harness.py).

Parity with kats/detectors/rolling_stats_model.py:188-498
(``RollingStatsModel``): each arriving point scores against its own
TRAILING window (the ``point_based=False`` convention — window excludes
the scored point), for the z-score / IQR / MAD score family
(rolling_stats_model.py:58-187).

State = ring buffer of the last ``n`` values per series (versioned JSON,
vN+1 loads vN).  Streaming == batch: scores equal the window-expression
plan in functions/rolling.py row for row (partial-window semantics
included: mean over whatever the clamped frame holds, std needs >= 2
points, exact linear-interpolated percentiles) — asserted in
tests/test_streaming.py.
"""

from __future__ import annotations

from typing import Any

import numpy as np

from kats_spark.sources.state import StateCodec
from kats_spark.streaming.detector_harness import Step, score_stream
from kats_spark.tsframe import TSSchema, DEFAULT

OUTPUT_SCHEMA = (
    "series_id string, time timestamp, value double, "
    "z_score double, iqr_score double, mad_score double"
)

CODEC = StateCodec(1, {"buf": []})


def _scores(buf: list[float], value: float) -> tuple:
    """Scores of ``value`` vs the trailing buffer (excluded point)."""
    z = iqr = mad = None
    if buf:
        arr = np.asarray(buf, dtype=float)
        mean = float(arr.mean())
        if len(arr) >= 2:
            std = float(arr.std(ddof=1))
            if std > 0:
                z = (value - mean) / std
        med = float(np.percentile(arr, 50))
        q75 = float(np.percentile(arr, 75))
        q25 = float(np.percentile(arr, 25))
        rng = q75 - q25
        if rng > 0:
            iqr = (value - med) / rng
        m = float(np.percentile(np.abs(arr - med), 50))
        if m > 0:
            mad = (value - med) / m
    return z, iqr, mad


def _step(n: int) -> Step:
    def step(st: dict[str, Any], t, v: float) -> list[tuple]:
        row = (t, v, *_scores(st["buf"], v))
        st["buf"] = (st["buf"] + [v])[-n:]
        return [row]

    return step


def rolling_stream(stream_df, n: int, s: TSSchema = DEFAULT):
    """Structured Streaming rolling-stats scorer."""
    return score_stream(stream_df, _step(n), CODEC, OUTPUT_SCHEMA, s)


def rolling_batch(df, n: int, s: TSSchema = DEFAULT):
    """Batch twin from the window-expression library (one plan, no UDF)."""
    from pyspark.sql import functions as F

    from kats_spark.functions import rolling as R

    return R.with_mad_scores(df, n, s).select(
        s.series_id,
        s.time,
        F.col(s.value),
        R.z_score(n, s).alias("z_score"),
        R.iqr_score(n, s).alias("iqr_score"),
        "mad_score",
    )
