"""Canonical parity fixtures — pure-numpy deterministic series with a
fixed seed, shared by tests that replay our estimators on an identical
series (``airline_like`` drives the SARIMA stability regression test in
``tests/test_sarima_bvar.py``).

Mirrors the reference's golden strategy
(kats/tests/models/test_models_dummy_data.py pins library outputs): the
fixture DEFINITION lives in code.  Every generator takes only a seed and
returns (times, y) with times as numpy datetime64[ns]; nothing here
imports Spark.
"""

from __future__ import annotations

import numpy as np

START = np.datetime64("2022-01-03T00:00:00", "ns")


def airline_like(n: int = 144, seed: int = 7):
    """Air-passengers-shaped monthly series: rising trend x 12-period
    multiplicative seasonality + noise — the SARIMA / Holt-Winters
    parity case."""
    rng = np.random.default_rng(seed)
    i = np.arange(n, dtype=float)
    season = 1.0 + 0.25 * np.sin(2 * np.pi * i / 12.0) + 0.08 * np.cos(
        4 * np.pi * i / 12.0
    )
    trend = 100.0 + 2.5 * i
    y = trend * season + rng.normal(0, 3.0, n)
    times = START + (i * 30 * 86400 * 10**9).astype("timedelta64[ns]")
    return times, y
