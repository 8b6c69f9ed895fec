"""Streaming DetectorModel harness on ``applyInPandasWithState``.

Parity with the incremental DetectorModel contract
(kats/detectors/detector.py:137-207): ``serialize() -> bytes``,
``fit(data, historical_data)``, ``predict`` / ``fit_predict ->
AnomalyResponse``.  The serialized-state + incremental-update contract maps
1:1 onto Spark Structured Streaming grouped state:

- state               = the detector's ``serialize()`` bytes (versioned
                        JSON through the model's ``sources/state.StateCodec``,
                        mirroring the vN+1-must-load-vN requirement,
                        kats/detectors/detector.py:157-163)
- ``historical_data`` = whatever the state decodes to
- ``fit_predict``     = one micro-batch update per series

This module is the one place that turns a per-point step function
``step(state, time, value) -> rows`` into a streaming scorer
(``score_stream``) and its batch twin (``score_batch``).  A step mutates
the decoded state dict and returns zero or more ``(time, value, *scores)``
rows; the harness prepends the series id.  The z-score, CUSUM, StatSig,
RollingStats and BOCPD models all run on it.

Included detector: streaming z-score (RollingStatsModel z_score semantics,
kats/detectors/rolling_stats_model.py:58-90) with Welford mean/variance
state — numerically stable, O(1) per point, mergeable.  Output is the
AnomalyResponse row shape (kats/detectors/detector_consts.py:563):
(series_id, time, value, score, predicted, lower, upper, stat_sig).

Batch parity helper ``zscore_batch`` applies the identical update rule to
a static frame so streaming output can be asserted equal to batch output.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kats_spark.sources.state import StateCodec
from kats_spark.tsframe import TSSchema, DEFAULT

Step = Callable[[dict, Any, float], Iterable[tuple]]

STATE_SCHEMA = "state_json string"

OUTPUT_SCHEMA = (
    "series_id string, time timestamp, value double, score double, "
    "predicted double, lower double, upper double, stat_sig int"
)

CODEC = StateCodec(1, {"n": 0, "mean": 0.0, "m2": 0.0})


def fold(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    st: dict[str, Any],
    step: Step,
    schema: str,
    s: TSSchema = DEFAULT,
) -> pd.DataFrame:
    """Feed one series' rows through ``step`` in time order (each chunk
    sorted on its own, as it arrives) and collect the emitted rows."""
    rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values(s.time)
        for t, v in zip(pdf[s.time], pdf[s.value]):
            rows.extend((key[0], *r) for r in step(st, t, float(v)))
    return pd.DataFrame(rows, columns=[f.split()[0] for f in schema.split(",")])


def score_stream(
    stream_df: DataFrame,
    step: Step,
    codec: StateCodec,
    schema: str,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """groupBy(series).applyInPandasWithState: load the series' state,
    fold the micro-batch, save the state back."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = codec.loads(state.get[0] if state.exists else None)
        out = fold(key, pdfs, st, step, schema, s)
        state.update((codec.dumps(st),))
        yield out

    return stream_df.groupBy(s.series_id).applyInPandasWithState(
        update,
        outputStructType=schema,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def score_batch(
    df: DataFrame,
    step: Step,
    codec: StateCodec,
    schema: str,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """Batch twin: the same fold over each whole series from a fresh
    state (one applyInPandas per series)."""
    return df.groupBy(s.series_id).applyInPandas(
        lambda key, pdf: fold(key, [pdf], codec.new(), step, schema, s), schema
    )


def _update_one(state: dict[str, Any], value: float, z_threshold: float) -> dict[str, Any]:
    """Welford update + score vs the *pre-update* state (a point must not
    lower its own anomaly score)."""
    n, mean, m2 = state["n"], state["mean"], state["m2"]
    if n >= 2:
        var = m2 / (n - 1)
        sd = var ** 0.5
        score = (value - mean) / sd if sd > 0 else 0.0
        lower, upper = mean - z_threshold * sd, mean + z_threshold * sd
    else:
        score, lower, upper = 0.0, None, None
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
        "stat_sig": int(abs(score) > z_threshold),
    }


def _zscore_step(z_threshold: float, late_tolerance_seconds: float | None = None) -> Step:
    """``late_tolerance_seconds`` enforces the late-data policy INSIDE the
    stateful operator: Spark's watermark drives state timeouts but does
    NOT auto-drop late rows for arbitrary stateful ops, so the step
    tracks the max event time seen and skips rows older than
    ``max_seen - tolerance`` — the streaming-native replacement for the
    reference's DataIrregularGranularityError (kats/consts.py:64-67)."""

    def step(st: dict[str, Any], t, v: float) -> list[tuple]:
        if late_tolerance_seconds is not None:
            ts = pd.Timestamp(t).value / 1e9
            max_seen = st.get("max_ts")
            if max_seen is not None and ts < max_seen - late_tolerance_seconds:
                return []  # late beyond the bound: drop, don't score
            st["max_ts"] = max(max_seen or ts, ts)
        # _update_one's keys are in OUTPUT_SCHEMA order
        return [(t, v, *_update_one(st, v, z_threshold).values())]

    return step


def zscore_stream(
    stream_df: DataFrame,
    z_threshold: float = 3.0,
    s: TSSchema = DEFAULT,
    late_policy_watermark: str | None = None,
) -> DataFrame:
    """Wire a streaming long frame through the stateful detector.

    ``late_policy_watermark`` (e.g. ``"2 hours"``) resolves the
    reference's irregular-granularity question (kats/consts.py:64-67
    raises DataIrregularGranularityError on out-of-order/irregular data;
    SURVEY §7 hard part (d)) the streaming-native way: an event-time
    watermark DROPS rows arriving later than the bound instead of
    erroring, so state only ever advances forward in time."""
    tol = None
    if late_policy_watermark is not None:
        stream_df = stream_df.withWatermark(s.time, late_policy_watermark)
        tol = pd.Timedelta(late_policy_watermark).total_seconds()
    return score_stream(
        stream_df, _zscore_step(z_threshold, tol), CODEC, OUTPUT_SCHEMA, s
    )


def zscore_batch(df: DataFrame, z_threshold: float = 3.0, s: TSSchema = DEFAULT) -> DataFrame:
    """Batch reference: same update rule over a static frame — used to
    assert streaming==batch parity."""
    return score_batch(df, _zscore_step(z_threshold), CODEC, OUTPUT_SCHEMA, s)
