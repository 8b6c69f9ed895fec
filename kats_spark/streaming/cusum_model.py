"""Streaming CUSUMDetectorModel on the detector harness
(streaming/detector_harness.py).

Parity with kats/detectors/cusum_model.py:150-680 (``CUSUMDetectorModel``,
fit_predict :594, window algebra :603-612): maintain a reference regime
(historical window) and scan incoming points with a two-sided tabular
CUSUM; crossing the decision interval emits a changepoint, resets the
statistic, and restarts the reference regime — the incremental analog of
the reference's historical_window/scan_window/step_window loop.

State (``CODEC``, versioned JSON, vN+1-loads-vN like
kats/detectors/detector.py:157):
- Welford (n, mean, m2) of the CURRENT regime = ``historical_data``
- s_pos / s_neg        = tabular CUSUM statistics
- changepoints         = [(epoch_seconds, direction)] with the reference's
                         retention rules: 7-day TTL (cusum_model.py:59
                         CHANGEPOINT_RETENTION) and 10-cp cap (:61
                         MAX_CHANGEPOINT)

Output rows are the AnomalyResponse shape; ``score`` follows
CusumScoreFunction.z_score (cusum_model.py:124): standardized deviation
from the regime mean.
"""

from __future__ import annotations

from typing import Any

import pandas as pd

from pyspark.sql import DataFrame

from kats_spark.sources.state import StateCodec
from kats_spark.streaming.detector_harness import Step, score_batch, score_stream
from kats_spark.tsframe import TSSchema, DEFAULT

RETENTION_SEC = 604800  # 7 days, cusum_model.py:59
MAX_CHANGEPOINTS = 10  # cusum_model.py:61

OUTPUT_SCHEMA = (
    "series_id string, time timestamp, value double, score double, "
    "predicted double, lower double, upper double, stat_sig int, cp_flag int"
)

CODEC = StateCodec(
    1,
    {"n": 0, "mean": 0.0, "m2": 0.0, "s_pos": 0.0, "s_neg": 0.0, "changepoints": []},
)


def _update_one(
    state: dict[str, Any],
    value: float,
    epoch_sec: float,
    k: float,
    h: float,
    min_history: int,
) -> dict[str, Any]:
    n, mean, m2 = state["n"], state["mean"], state["m2"]
    sd = (m2 / (n - 1)) ** 0.5 if n >= 2 else 0.0
    cp_flag = 0
    if n >= min_history and sd > 0:
        z = (value - mean) / sd
        score = z
        s_pos = max(0.0, state["s_pos"] + z - k)
        s_neg = max(0.0, state["s_neg"] - z - k)
        if s_pos > h or s_neg > h:
            cp_flag = 1
            direction = "increase" if s_pos > h else "decrease"
            cps = [
                cp for cp in state["changepoints"]
                if epoch_sec - cp[0] <= RETENTION_SEC
            ]
            cps.append([epoch_sec, direction])
            state["changepoints"] = cps[-MAX_CHANGEPOINTS:]
            # new regime: reset statistic and reference window
            state.update(n=0, mean=0.0, m2=0.0, s_pos=0.0, s_neg=0.0)
            n, mean, m2 = 0, 0.0, 0.0
        else:
            state.update(s_pos=s_pos, s_neg=s_neg)
        lower, upper = mean - h * sd, mean + h * sd
        stat_sig = int(abs(z) > h) if cp_flag == 0 else 1
    else:
        score, lower, upper, stat_sig = 0.0, None, None, 0
    # Welford into the (possibly fresh) regime
    n += 1
    delta = value - mean
    mean += delta / n
    m2 += delta * (value - mean)
    state.update(n=n, mean=mean, m2=m2)
    return {
        "score": score,
        "predicted": mean,
        "lower": lower,
        "upper": upper,
        "stat_sig": stat_sig,
        "cp_flag": cp_flag,
    }


def _step(k: float, h: float, min_history: int) -> Step:
    def step(st: dict[str, Any], t, v: float) -> list[tuple]:
        res = _update_one(st, v, pd.Timestamp(t).timestamp(), k, h, min_history)
        # _update_one's keys are in OUTPUT_SCHEMA order
        return [(t, v, *res.values())]

    return step


def cusum_stream(
    stream_df: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    min_history: int = 10,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    return score_stream(stream_df, _step(k, h, min_history), CODEC, OUTPUT_SCHEMA, s)


def cusum_batch(
    df: DataFrame,
    k: float = 0.5,
    h: float = 5.0,
    min_history: int = 10,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """Batch reference with the identical update rule (streaming==batch
    parity target)."""
    return score_batch(df, _step(k, h, min_history), CODEC, OUTPUT_SCHEMA, s)
