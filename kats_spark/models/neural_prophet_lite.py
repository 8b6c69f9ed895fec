"""NeuralProphet-lite: Prophet components + AR-Net lags in pure numpy.

Parity target: kats/models/neuralprophet.py (wraps the neuralprophet
package, absent from this container).  NeuralProphet's published core
(Triebe et al. 2021) = the Prophet decomposition (trend + Fourier
seasonality + events/regressors) PLUS AR-Net — a LINEAR autoregression
over the last ``n_lags`` observations fit jointly with the other
components.  ProphetLite already fits arbitrary extra regressors under a
Normal prior, so the AR block enters as ``n_lags`` lagged-y regressor
columns — exactly AR-Net's linear form (its sparsity comes from a
regularizer we mirror with the regressor prior scale).

Forecasting is recursive over the horizon (each step's prediction feeds
the next step's lag vector), matching NeuralProphet's one-step decoder
unrolled.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from kats_spark.models.prophet_lite import ProphetLite
from kats_spark.tsframe import TSSchema, DEFAULT

Z95 = 1.959963984540054


class NeuralProphetLite:
    """``num_hidden_layers > 0`` enables the NONLINEAR AR-Net
    (kats/models/neuralprophet.py:96-97 num_hidden_layers / d_hidden:
    AR-Net with hidden ReLU layers): the lag block becomes a small
    numpy MLP (models/metalearner_hpt.MultitaskNetLite with a single
    numerical head — the same manual-backprop machinery) fit on the
    residuals of the Prophet components, backfitting-style.  The
    default 0 keeps AR-Net's published linear form as joint lag
    regressors under a Normal prior."""

    def __init__(
        self,
        n_lags: int = 8,
        ar_prior_scale: float = 1.0,
        num_hidden_layers: int = 0,
        d_hidden: int = 8,
        ar_epochs: int = 300,
        seed: int = 0,
        **prophet_kwargs,
    ) -> None:
        self.n_lags = int(n_lags)
        self.num_hidden_layers = int(num_hidden_layers)
        self.d_hidden = int(d_hidden)
        self.ar_epochs = int(ar_epochs)
        self.seed = int(seed)
        prophet_kwargs.setdefault("regressor_prior_scale", ar_prior_scale)
        self._kw = prophet_kwargs
        self.model_: ProphetLite | None = None
        self.ar_net_ = None

    def fit(self, times: np.ndarray, y: np.ndarray) -> "NeuralProphetLite":
        L = self.n_lags
        if len(y) <= L + 4:
            raise ValueError(f"need more than n_lags+4={L + 4} points")
        lagmat = np.column_stack([y[L - j - 1 : len(y) - j - 1] for j in range(L)])
        self._tail = y[-L:].astype(float).copy()
        if self.num_hidden_layers <= 0:
            self.model_ = ProphetLite(**self._kw).fit(
                times[L:], y[L:], regressors=lagmat
            )
            return self
        # nonlinear AR-Net: Prophet components first, then an MLP on the
        # component residuals over the lag vector (one backfit round —
        # NeuralProphet optimizes jointly; the residual fit recovers the
        # same decomposition when components are identifiable)
        from kats_spark.models.metalearner_hpt import MultitaskNetLite

        self.model_ = ProphetLite(**self._kw).fit(times[L:], y[L:])
        base = self.model_.predict(times[L:]).fcst.to_numpy()
        resid = y[L:] - base
        self._x_mu = lagmat.mean(axis=0)
        x_sd = lagmat.std(axis=0)
        self._x_sd = np.where(x_sd > 0, x_sd, 1.0)
        self._r_mu = float(resid.mean())
        r_sd = float(resid.std())
        self._r_sd = r_sd if r_sd > 0 else 1.0
        Xs = (lagmat - self._x_mu) / self._x_sd
        rs = (resid - self._r_mu) / self._r_sd
        self.ar_net_ = MultitaskNetLite(
            input_dim=L,
            n_hidden_shared=[self.d_hidden] * self.num_hidden_layers,
            n_hidden_cat_combo=[],
            cat_classes=[],
            n_hidden_num=[],
            n_num=1,
            seed=self.seed,
        ).fit(
            Xs, None, rs[:, None],
            lr=0.01, n_epochs=self.ar_epochs,
            batch_size=min(64, max(len(rs) - 2, 1)),
            method="adam", seed=self.seed,
        )
        # refresh sigma for intervals: observation noise AFTER the AR
        # block explains its share of the residual
        fit_rs = self.ar_net_.predict(Xs)[1][:, 0]
        final_resid = resid - (fit_rs * self._r_sd + self._r_mu)
        self.model_.sigma_ = float(final_resid.std(ddof=1)) / self.model_.y_scale_
        return self

    def _ar_term(self, lag_vec: np.ndarray) -> float:
        Xs = ((lag_vec - self._x_mu) / self._x_sd)[None, :]
        return float(self.ar_net_.predict(Xs)[1][0, 0]) * self._r_sd + self._r_mu

    def predict(self, future_times: np.ndarray) -> pd.DataFrame:
        m = self.model_
        L = self.n_lags
        lags = list(self._tail)  # lags[-1] = most recent
        rows = []
        for t in future_times:
            reg = np.array([lags[-1 - j] for j in range(L)])
            ts1 = np.array([t], dtype="datetime64[ns]")
            if self.ar_net_ is None:
                out = m.predict(ts1, regressors=reg[None, :])
                yhat = float(out.fcst.iloc[0])
                lo, hi = float(out.fcst_lower.iloc[0]), float(out.fcst_upper.iloc[0])
            else:
                out = m.predict(ts1)
                ar = self._ar_term(reg)
                yhat = float(out.fcst.iloc[0]) + ar
                lo = float(out.fcst_lower.iloc[0]) + ar
                hi = float(out.fcst_upper.iloc[0]) + ar
            rows.append((yhat, lo, hi))
            lags.append(yhat)
        return pd.DataFrame(rows, columns=["fcst", "fcst_lower", "fcst_upper"])


def neural_prophet_forecast(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    n_lags: int = 8,
    s: TSSchema = DEFAULT,
    **params,
) -> DataFrame:
    """(series_id, time, fcst, fcst_lower, fcst_upper) per series."""
    schema = (
        f"{s.series_id} string, {s.time} timestamp, "
        "fcst double, fcst_lower double, fcst_upper double"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(s.time)
        y = pdf[s.value].to_numpy(dtype=float)
        times = pdf[s.time].to_numpy(dtype="datetime64[ns]")
        if len(y) < max(3 * n_lags, 30):
            return pd.DataFrame(
                columns=[s.series_id, s.time, "fcst", "fcst_lower", "fcst_upper"]
            )
        model = NeuralProphetLite(n_lags=n_lags, **params).fit(times, y)
        h = np.arange(1, steps + 1)
        fut = times[-1] + (h * freq_seconds).astype("timedelta64[s]").astype(
            "timedelta64[ns]"
        )
        out = model.predict(fut)
        return pd.DataFrame(
            {
                s.series_id: str(pdf[s.series_id].iloc[0]),
                s.time: pd.to_datetime(fut),
                "fcst": out.fcst,
                "fcst_lower": out.fcst_lower,
                "fcst_upper": out.fcst_upper,
            }
        )

    return (
        df.select(s.series_id, s.time, s.value)
        .groupBy(s.series_id)
        .applyInPandas(fn, schema)
    )
