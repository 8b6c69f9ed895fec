"""Streaming BocpdDetectorModel on the detector harness
(streaming/detector_harness.py).

Parity with kats/detectors/bocpd_model.py:25-193 (``BocpdDetectorModel``:
the incremental fit_predict contract of kats/detectors/detector.py:137-207
wrapping the Adams-MacKay engine): per series the run-length posterior and
Normal-Gamma hyperparameter vectors ARE the state, serialized as versioned
JSON (vN+1 loads vN, detector.py:157-163).

The per-step math is ``operators/bocpd._bocpd_step`` — the SAME function
the batch kernel loops over — so streaming scores equal batch scores
bit-for-bit on the common prefix.  Two stream-specific rules:

- warmup: priors derive from the first 10/20 points (batch uses the same
  slices), so the model buffers ``WARMUP`` points before the recursion
  starts, then replays the buffer through it;
- lagged emission: cp_prob for point t is p(r_{t+lag} = lag), known only
  ``lag`` observations later, so each point emits with a ``lag``-step
  delay and the final ``lag`` points of a bounded batch never emit (the
  batch kernel instead reads them from the final posterior — an
  end-of-data readout a stream does not have).

State size is O(max_run) floats per series regardless of stream length.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pandas as pd

from kats_spark.operators.bocpd import _bocpd_poisson_step, _bocpd_step
from kats_spark.sources.state import StateCodec
from kats_spark.streaming.detector_harness import Step, score_stream
from kats_spark.tsframe import TSSchema, DEFAULT

OUTPUT_SCHEMA = "series_id string, time timestamp, value double, cp_prob double"

WARMUP = 20

CODEC = StateCodec(
    1,
    {
        "likelihood": "normal",  # "normal" | "poisson" (bocpd.py:166,:244)
        "init_buf": [],  # [(iso_time, value)] before priors exist
        "pending": [],  # [(iso_time, value)] awaiting their lagged cp
        "t": 0,  # points consumed by the recursion
        "mu0": None,
        "beta0": None,
        "alpha0": None,
        "r": None,
        "mu": None,
        "kappa": None,
        "alpha": None,
        "beta": None,
    },
)


def _init_priors(vals: list[float], max_run: int) -> dict[str, Any]:
    y = np.asarray(vals, dtype=float)
    n = len(y)
    mu0 = float(np.mean(y[: min(10, n)]))
    beta0 = max(float(np.var(y[: min(20, n)])), 1e-8)
    r = np.zeros(max_run + 1)
    r[0] = 1.0
    return {
        "mu0": mu0,
        "beta0": beta0,
        "r": r.tolist(),
        "mu": np.full(max_run + 1, mu0).tolist(),
        "kappa": np.full(max_run + 1, 1.0).tolist(),
        "alpha": np.full(max_run + 1, 1.0).tolist(),
        "beta": np.full(max_run + 1, beta0).tolist(),
    }


def _advance(
    st: dict[str, Any], t_iso: str, value: float, h: float, lag: int
) -> tuple[str, float, float] | None:
    """Run one recursion step; return the (time, value, cp_prob) row that
    becomes emittable (the point ``lag`` steps back), if any."""
    r = np.asarray(st["r"])
    alpha = np.asarray(st["alpha"])
    beta = np.asarray(st["beta"])
    if st["likelihood"] == "poisson":
        new_r, alpha, beta = _bocpd_poisson_step(
            max(round(value), 0.0), r, alpha, beta, st["alpha0"], st["beta0"], h
        )
        st.update(r=new_r.tolist(), alpha=alpha.tolist(), beta=beta.tolist())
    else:
        mu = np.asarray(st["mu"])
        kappa = np.asarray(st["kappa"])
        new_r, mu, kappa, alpha, beta = _bocpd_step(
            value, r, mu, kappa, alpha, beta,
            st["mu0"], 1.0, 1.0, st["beta0"], h,
        )
        st.update(
            r=new_r.tolist(), mu=mu.tolist(), kappa=kappa.tolist(),
            alpha=alpha.tolist(), beta=beta.tolist(),
        )
    st["pending"] = st["pending"] + [(t_iso, value)]
    st["t"] += 1
    if st["t"] - 1 >= lag:
        emit_iso, emit_val = st["pending"][0]
        st["pending"] = st["pending"][1:]
        return (emit_iso, emit_val, float(new_r[lag]))
    return None


def _step(hazard_lambda: float, max_run: int, lag: int, likelihood: str) -> Step:
    """``likelihood="poisson"`` switches to the Gamma-conjugate count
    model (fixed priors α=1, β=0.05 — bocpd.py:244 — so the recursion
    starts on the first point, no warmup buffer)."""
    h = 1.0 / hazard_lambda
    lag = min(lag, max_run)

    def step(st: dict[str, Any], t, v: float) -> list[tuple]:
        t_iso = pd.Timestamp(t).isoformat()
        if st["r"] is None and likelihood == "poisson":
            r0 = np.zeros(max_run + 1); r0[0] = 1.0
            st.update(
                likelihood="poisson", alpha0=1.0, beta0=0.05,
                r=r0.tolist(),
                alpha=np.full(max_run + 1, 1.0).tolist(),
                beta=np.full(max_run + 1, 0.05).tolist(),
            )
            points = [(t_iso, v)]
        elif st["r"] is None:
            st["init_buf"] = st["init_buf"] + [(t_iso, v)]
            if len(st["init_buf"]) < WARMUP:
                return []
            st.update(_init_priors([x for _, x in st["init_buf"]], max_run))
            points, st["init_buf"] = st["init_buf"], []
        else:
            points = [(t_iso, v)]
        rows = []
        for pt, pv in points:
            row = _advance(st, pt, pv, h, lag)
            if row is not None:
                rows.append((pd.Timestamp(row[0]), row[1], row[2]))
        return rows

    return step


def bocpd_stream(
    stream_df,
    hazard_lambda: float = 250.0,
    max_run: int = 200,
    lag: int = 10,
    s: TSSchema = DEFAULT,
    likelihood: str = "normal",
):
    """Structured Streaming scorer on the detector harness."""
    return score_stream(
        stream_df, _step(hazard_lambda, max_run, lag, likelihood), CODEC, OUTPUT_SCHEMA, s
    )
