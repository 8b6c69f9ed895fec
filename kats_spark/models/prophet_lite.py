"""Prophet-lite: the Prophet model's math (Taylor & Letham 2017,
"Forecasting at Scale") in pure numpy, per-series over ``applyInPandas``.

Parity target: kats/models/prophet.py:34-450 (``ProphetModel`` wraps
fbprophet, absent from this container).  The published model is
implemented directly:

- piecewise trend: linear growth g(t) = k t + m + Σ_j δ_j (t - s_j)_+
  (the changepoint-delta parameterization reduces to a hinge basis);
  logistic growth C / (1 + exp(-(k + A δ)(t - offset))) fit by
  Gauss-Newton inside a backfitting loop.
- seasonality: Fourier features — yearly order 10 / weekly 3 / daily 4,
  auto-enabled by history span exactly like Prophet ("auto": yearly
  >= 730 days, weekly >= 14 days with sub-weekly spacing, daily >= 2
  days with sub-daily spacing).
- MAP estimation: observation noise N(0, σ²); β ~ N(0, seasonality
  prior) → ridge; δ ~ Laplace(0, changepoint prior) → L1 via iterated
  reweighted ridge (IRLS).  y is scaled by max|y| and t to [0, 1],
  matching Prophet's preprocessing.
- uncertainty: Prophet's trend-shift simulation — future changepoints
  arrive Bernoulli(n_cp / T_hist per step) with Laplace(mean |δ|)
  magnitudes; seeded paths + observation noise give the interval
  quantiles.

Iterative MAP has no SQL form → the declared query is rows-only; seeded
recovery tests assert changepoint/seasonality/interval behavior
(tests/test_prophet_lite.py).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from kats_spark.tsframe import TSSchema, DEFAULT

DAY_S = 86400.0


class ProphetLite:
    def __init__(
        self,
        growth: str = "linear",
        n_changepoints: int = 25,
        changepoint_range: float = 0.8,
        yearly_seasonality: str | bool = "auto",
        weekly_seasonality: str | bool = "auto",
        daily_seasonality: str | bool = "auto",
        seasonality_prior_scale: float = 10.0,
        changepoint_prior_scale: float = 0.05,
        interval_width: float = 0.8,
        cap: float | None = None,
        floor: float | None = None,
        uncertainty_samples: int = 300,
        seed: int = 0,
        holidays: dict[str, list] | None = None,
        holidays_prior_scale: float = 10.0,
        regressor_prior_scale: float = 10.0,
    ) -> None:
        self.growth = growth
        self.n_changepoints = n_changepoints
        self.changepoint_range = changepoint_range
        self.yearly = yearly_seasonality
        self.weekly = weekly_seasonality
        self.daily = daily_seasonality
        self.sps = seasonality_prior_scale
        self.cps = changepoint_prior_scale
        self.interval_width = interval_width
        self.cap = cap
        self.floor = floor
        self.uncertainty_samples = uncertainty_samples
        self.seed = seed
        self.holidays = holidays or {}
        self.hps = holidays_prior_scale
        self.rps = regressor_prior_scale
        self._extra_seasonalities: list[tuple[str, float, int]] = []

    def add_seasonality(self, name: str, period_days: float, fourier_order: int) -> "ProphetLite":
        """Custom seasonal block (Prophet add_seasonality surface,
        kats ProphetParams custom_seasonalities): Fourier features at the
        given period under the same Normal prior."""
        self._extra_seasonalities.append((name, float(period_days), int(fourier_order)))
        return self

    def _holiday_matrix(self, times: np.ndarray) -> np.ndarray:
        """One indicator column per holiday name (Prophet models each
        holiday as an indicator with a Normal prior)."""
        if not self.holidays:
            return np.empty((len(times), 0))
        days = times.astype("datetime64[D]")
        cols = []
        for name in sorted(self.holidays):
            hset = np.array(sorted({np.datetime64(d, "D") for d in self.holidays[name]}))
            cols.append(np.isin(days, hset).astype(np.float64))
        return np.column_stack(cols)

    # ---- feature construction -------------------------------------------
    def _seasonal_blocks(self, span_days: float, spacing_days: float):
        blocks = []

        def on(flag, min_span, needs_spacing):
            if flag == "auto":
                return span_days >= min_span and (
                    needs_spacing is None or spacing_days < needs_spacing
                )
            return bool(flag)

        if on(self.yearly, 730.0, None):
            blocks.append(("yearly", 365.25, 10))
        if on(self.weekly, 14.0, 7.0):
            blocks.append(("weekly", 7.0, 3))
        if on(self.daily, 2.0, 1.0):
            blocks.append(("daily", 1.0, 4))
        blocks.extend(self._extra_seasonalities)
        return blocks

    @staticmethod
    def _fourier(t_days: np.ndarray, period: float, order: int) -> np.ndarray:
        cols = []
        for k in range(1, order + 1):
            ang = 2.0 * np.pi * k * t_days / period
            cols.append(np.sin(ang))
            cols.append(np.cos(ang))
        return np.column_stack(cols) if cols else np.empty((len(t_days), 0))

    # ---- fitting ---------------------------------------------------------
    def fit(
        self,
        times: np.ndarray,
        y: np.ndarray,
        regressors: np.ndarray | None = None,
    ) -> "ProphetLite":
        """``times`` — datetime64[ns]; ``y`` — float; ``regressors`` —
        optional (n, r) extra-regressor matrix (Prophet add_regressor
        surface; future values must be supplied to predict())."""
        t_days = (times - times[0]) / np.timedelta64(1, "s") / DAY_S
        t_days = t_days.astype(np.float64)
        self.t0_ = times[0]
        self.T_ = max(float(t_days[-1]), 1e-9)
        ts = t_days / self.T_  # scaled to [0, 1]
        # Prophet's logistic floor: model (y - floor) against
        # (cap - floor), add the floor back at predict time — the
        # y_scale is the shifted series' max |y|, exactly Prophet's
        # convention (forecaster.py setup_dataframe: logistic_floor).
        self._off_ = float(self.floor) if self.floor is not None else 0.0
        y_eff = y - self._off_
        self.y_scale_ = max(float(np.abs(y_eff).max()), 1e-9)
        ys = y_eff / self.y_scale_

        n_cp = min(self.n_changepoints, max(len(y) - 2, 0))
        if n_cp > 0:
            hist = ts[ts <= self.changepoint_range * ts[-1]]
            idx = np.linspace(0, len(hist) - 1, n_cp + 1).round().astype(int)[1:]
            self.cp_ = np.unique(ts[idx])
        else:
            self.cp_ = np.empty(0)

        spacing = np.median(np.diff(t_days)) if len(t_days) > 1 else 1.0
        self.blocks_ = self._seasonal_blocks(t_days[-1] - t_days[0], float(spacing))
        X_seas = (
            np.column_stack(
                [self._fourier(t_days, p, o) for _, p, o in self.blocks_]
            )
            if self.blocks_
            else np.empty((len(y), 0))
        )
        X_hol = self._holiday_matrix(times)
        if regressors is not None:
            R = np.asarray(regressors, dtype=np.float64)
            if R.ndim == 1:
                R = R[:, None]
            self.reg_mu_ = R.mean(axis=0)
            sd = R.std(axis=0)
            self.reg_sd_ = np.where(sd > 0, sd, 1.0)
            X_reg = (R - self.reg_mu_) / self.reg_sd_
        else:
            self.reg_mu_ = np.empty(0)
            self.reg_sd_ = np.empty(0)
            X_reg = np.empty((len(y), 0))
        self._n_fourier = X_seas.shape[1]
        self._n_hol = X_hol.shape[1]
        self._n_reg = X_reg.shape[1]
        X_seas = np.column_stack([X_seas, X_hol, X_reg]) if (
            X_hol.shape[1] or X_reg.shape[1]
        ) else X_seas
        self._n_seas = X_seas.shape[1]
        # per-column Normal prior scales for the appended blocks
        self.prior_scales_ = np.concatenate([
            np.full(self._n_fourier, self.sps),
            np.full(self._n_hol, self.hps),
            np.full(self._n_reg, self.rps),
        ])

        hinge = np.maximum(ts[:, None] - self.cp_[None, :], 0.0) if len(self.cp_) else np.empty((len(y), 0))

        if self.growth == "logistic":
            self._fit_logistic(ts, ys, hinge, X_seas)
        else:
            self._fit_linear(ts, ys, hinge, X_seas)

        resid = ys - self._predict_scaled(ts, X_seas)
        self.sigma_ = float(resid.std(ddof=1)) if len(resid) > 2 else 0.0
        return self

    def _penalized_lstsq(self, X, ys, n_hinge):
        """MAP fit by cyclic coordinate descent: exact soft-thresholding
        for the Laplace-prior hinge deltas (naive IRLS dies on the highly
        collinear hinge basis), ridge for the Normal-prior seasonality,
        flat prior on (k, m).  The noise scale multiplying the priors is
        re-estimated from residuals in an outer loop (Prophet jointly
        optimizes sigma_obs in Stan).

        Warm start matters: an OLS/ridge start spreads the trend break
        over many large CANCELING deltas on the collinear hinge basis,
        and 60 sweeps of CD cannot walk them back down — the fit then
        sits at an L1 term ~30x the RSS, far from the MAP, and the trend
        wiggle leaks into the seasonal component (the measured 5% periodic
        forecast error vs the fbprophet golden).  Starting the deltas at
        ZERO (fitting k/m/seasonality first) and sweeping to convergence
        lands within 0.7% of fbprophet's Stan L-BFGS MAP on the airline
        golden (kats/tests/models/test_models_dummy_data.py
        AIR_FCST_30_PROPHET_SM_12)."""
        n, p = X.shape
        # warm start: deltas at zero; (k, m) + seasonality from a small
        # ridge on the non-hinge block
        nonh = list(range(2)) + list(range(2 + n_hinge, p))
        beta = np.zeros(p)
        Xn = X[:, nonh]
        beta[nonh] = np.linalg.solve(
            Xn.T @ Xn + 1e-6 * np.eye(len(nonh)), Xn.T @ ys
        )
        colsq = np.einsum("ij,ij->j", X, X)
        resid = ys - X @ beta
        # Noise-variance estimator feeding the prior strengths: RSS/(n-p)
        # when the fit has residual dof, RSS/n when overparameterized
        # (p >= n).  The former max(n-p, 1) floor made sigma2 the FULL
        # RSS on short fixtures (e.g. the reference's 25-point
        # nonseasonal series, p=45), inflating the ridge ~n-fold and
        # parking the fit far from the Stan MAP it models — the r12
        # plateau forensic showed the exact-ridge solution at the proper
        # scale sits within 0.5% mean of the reference golden.  Stan's
        # joint sigma_obs MAP behaves like RSS/n; n-p keeps the
        # established unbiased estimator on all long-fixture fits
        # (n > p), leaving the 27 trusted goldens' paths untouched.
        sigma2 = float(resid @ resid) / (n - p if n > p else n)
        # per-column Normal prior scales for the post-hinge block
        pscale = getattr(self, "prior_scales_", None)
        if pscale is None or len(pscale) != p - 2 - n_hinge:
            pscale = np.full(p - 2 - n_hinge, self.sps)
        for _outer in range(3):
            lam = sigma2 / self.cps  # L1 strength (Laplace prior scale)
            rpen = sigma2 / (pscale**2) if len(pscale) else pscale  # ridge strengths
            for _sweep in range(300):
                max_move = 0.0
                for j in range(p):
                    xj = X[:, j]
                    rho = xj @ resid + colsq[j] * beta[j]
                    if 2 <= j < 2 + n_hinge:
                        b = np.sign(rho) * max(abs(rho) - lam, 0.0) / colsq[j]
                    elif j >= 2 + n_hinge:
                        b = rho / (colsq[j] + rpen[j - 2 - n_hinge])
                    else:
                        b = rho / colsq[j]
                    move = b - beta[j]
                    if move:
                        resid -= xj * move
                        beta[j] = b
                        max_move = max(max_move, abs(move))
                if max_move < 1e-8:
                    break
            sigma2 = float(resid @ resid) / (n - p if n > p else n)
        return beta

    def _fit_linear(self, ts, ys, hinge, X_seas):
        X = np.column_stack([ts, np.ones(len(ts)), hinge, X_seas])
        beta = self._penalized_lstsq(X, ys, hinge.shape[1])
        self.k_ = float(beta[0])
        self.m_ = float(beta[1])
        self.delta_ = beta[2 : 2 + hinge.shape[1]].copy()
        self.beta_seas_ = beta[2 + hinge.shape[1] :].copy()

    def _trend_scaled(self, ts: np.ndarray) -> np.ndarray:
        hinge = (
            np.maximum(ts[:, None] - self.cp_[None, :], 0.0) @ self.delta_
            if len(self.cp_)
            else 0.0
        )
        if self.growth == "logistic":
            return self._piecewise_logistic(ts, self.k_, self.m_, self.delta_)
        return self.k_ * ts + self.m_ + hinge

    def _logistic_gammas(self, k: float, m: float, delta: np.ndarray) -> np.ndarray:
        """Prophet's changepoint OFFSET adjustments (forecaster.py
        piecewise_logistic): gamma_i keeps the trend CONTINUOUS when the
        slope steps by delta_i at changepoint s_i — without them the
        logistic curve jumps at every changepoint and the fit lands in
        a different optimum than Stan under any real saturation."""
        gammas = np.zeros(len(self.cp_))
        k_s, m_s = k, m
        for i, s in enumerate(self.cp_):
            k_next = k_s + delta[i]
            if abs(k_next) < 1e-12:
                k_next = 1e-12 if k_next >= 0 else -1e-12
            gammas[i] = (s - m_s) * (1.0 - k_s / k_next)
            k_s += delta[i]
            m_s += gammas[i]
        return gammas

    def _piecewise_logistic(
        self, ts: np.ndarray, k: float, m: float, delta: np.ndarray
    ) -> np.ndarray:
        if len(self.cp_):
            A = (ts[:, None] > self.cp_[None, :]).astype(np.float64)
            gammas = self._logistic_gammas(k, m, delta)
            slope = k + A @ delta
            offset = m + A @ gammas
        else:
            slope, offset = k, m
        z = np.clip(slope * (ts - offset), -500, 500)
        return self.caps_ / (1.0 + np.exp(-z))

    def _fit_logistic(self, ts, ys, hinge, X_seas):
        if self.cap is None:
            raise ValueError("logistic growth requires cap")
        self.caps_ = (self.cap - self._off_) / self.y_scale_
        # backfit: seasonality ridge <-> penalized Gauss-Newton on
        # (k, m, delta) for Prophet's CONTINUOUS piecewise logistic
        # C / (1 + exp(-(k + A δ)(t - m - A γ(k, m, δ)))) — γ is the
        # deterministic offset recursion (_logistic_gammas), so the
        # Jacobian is taken by forward differences THROUGH the
        # recursion (Stan autodiffs the same composition).  Laplace(cps)
        # prior on δ approximated at the GN scale by a ridge
        # sigma² / cps², flat prior on (k, m).
        n_d = len(self.cp_)
        # Prophet's logistic_growth_init (forecaster.py): solve the
        # 2-point logistic through the first and last observation
        C = float(self.caps_)
        y0 = min(max(float(ys[0]) / C, 0.01), 0.99)
        y1 = min(max(float(ys[-1]) / C, 0.01), 0.99)
        L0, L1 = math.log(1.0 / y0 - 1.0), math.log(1.0 / y1 - 1.0)
        T = max(float(ts[-1] - ts[0]), 1e-9)
        k0 = (L0 - L1) / T
        if abs(k0) < 1e-9:
            k0 = 1e-9
        # multi-start: the Prophet 2-point init is nearly flat when the
        # endpoints happen to sit at similar saturation (k0 ~ 0 makes
        # every Jacobian column vanish and GN stalls at a flat trend);
        # the generic (k=1, m=median) start escapes that basin.  Run the
        # whole backfit from both and keep the lower penalized
        # objective — a cheap stand-in for Stan L-BFGS's momentum.
        starts = [
            (k0, float(ts[0]) + L0 / k0),
            (1.0, float(np.median(ts))),
        ]

        def trend_of(theta: np.ndarray) -> np.ndarray:
            return self._piecewise_logistic(ts, theta[0], theta[1], theta[2:])

        def backfit(k_init: float, m_init: float):
            theta = np.concatenate([[k_init, m_init], np.zeros(n_d)])
            beta_seas = np.zeros(X_seas.shape[1])
            pen = np.zeros(len(theta))
            for _ in range(8):
                r = ys - (X_seas @ beta_seas if X_seas.shape[1] else 0.0)
                for _gn in range(10):
                    base = trend_of(theta)
                    e = r - base
                    # forward differences THROUGH the γ recursion
                    J = np.empty((len(ts), len(theta)))
                    for j in range(len(theta)):
                        h = 1e-6 * max(1.0, abs(theta[j]))
                        tp = theta.copy()
                        tp[j] += h
                        J[:, j] = (trend_of(tp) - base) / h
                    pen = np.zeros(len(theta))
                    rhs = J.T @ e
                    if n_d:
                        sigma2 = float(e @ e) / max(len(e) - len(theta), 1)
                        pen[2:] = sigma2 / self.cps**2
                        rhs[2:] -= pen[2:] * theta[2:]
                    A = J.T @ J + np.diag(pen) + 1e-9 * np.eye(len(theta))
                    try:
                        step = np.linalg.solve(A, rhs)
                    except np.linalg.LinAlgError:
                        break

                    # halving line search — the γ recursion makes the
                    # residual genuinely nonlinear in (k, δ) and a raw
                    # GN step can overshoot
                    def obj(th):
                        ee = r - trend_of(th)
                        return float(ee @ ee) + float(pen[2:] @ (th[2:] ** 2))

                    cur = obj(theta)
                    scale = 1.0
                    for _ls in range(6):
                        cand = theta + scale * step
                        if obj(cand) <= cur:
                            theta = cand
                            break
                        scale *= 0.5
                    else:
                        break
                    if np.linalg.norm(scale * step) < 1e-10:
                        break
                if X_seas.shape[1]:
                    r2 = ys - trend_of(theta)
                    pscale = getattr(self, "prior_scales_", None)
                    if pscale is None or len(pscale) != X_seas.shape[1]:
                        pscale = np.full(X_seas.shape[1], self.sps)
                    A = X_seas.T @ X_seas + np.diag(1.0 / pscale**2)
                    beta_seas = np.linalg.solve(A, X_seas.T @ r2)
            ee = ys - trend_of(theta) - (X_seas @ beta_seas if X_seas.shape[1] else 0.0)
            final = float(ee @ ee) + float(pen[2:] @ (theta[2:] ** 2))
            return final, theta, beta_seas

        best = min((backfit(k_i, m_i) for k_i, m_i in starts), key=lambda t: t[0])
        _, theta, self.beta_seas_ = best
        self.k_, self.m_ = float(theta[0]), float(theta[1])
        self.delta_ = theta[2:].copy()

    def _predict_scaled(self, ts: np.ndarray, X_seas: np.ndarray) -> np.ndarray:
        seas = X_seas @ self.beta_seas_ if X_seas.shape[1] else 0.0
        return self._trend_scaled(ts) + seas

    # ---- forecasting -----------------------------------------------------
    def predict(
        self, future_times: np.ndarray, regressors: np.ndarray | None = None
    ) -> pd.DataFrame:
        t_days = (future_times - self.t0_) / np.timedelta64(1, "s") / DAY_S
        t_days = t_days.astype(np.float64)
        ts = t_days / self.T_
        X_seas = (
            np.column_stack(
                [self._fourier(t_days, p, o) for _, p, o in self.blocks_]
            )
            if self.blocks_
            else np.empty((len(ts), 0))
        )
        X_hol = self._holiday_matrix(future_times)
        if self._n_reg:
            if regressors is None:
                raise ValueError(
                    f"model was fit with {self._n_reg} extra regressors; "
                    "future regressor values must be supplied to predict()"
                )
            R = np.asarray(regressors, dtype=np.float64)
            if R.ndim == 1:
                R = R[:, None]
            X_reg = (R - self.reg_mu_) / self.reg_sd_
        else:
            X_reg = np.empty((len(ts), 0))
        if X_hol.shape[1] or X_reg.shape[1]:
            X_seas = np.column_stack([X_seas, X_hol, X_reg])
        yhat = self._predict_scaled(ts, X_seas) * self.y_scale_ + self._off_

        # Prophet's uncertainty: future trend shifts simulated from the
        # historical changepoint process (Poisson rate n_cp per unit of
        # SCALED history time — Prophet samples n_changes ~
        # Poisson(S * (T - 1)) on the [1, T] future interval; the per-step
        # Bernoulli discretization is p = n_cp * dt with dt the step's
        # fraction of the [0, 1] history span), Laplace(mean |delta|)
        # magnitudes + observation noise
        rng = np.random.default_rng(self.seed)
        lam = float(np.abs(self.delta_).mean()) if len(self.delta_) else 0.0
        n_samp = self.uncertainty_samples
        fut = ts > 1.0
        n_fut = int(fut.sum())
        lower = np.empty(len(ts))
        upper = np.empty(len(ts))
        alpha = (1.0 - self.interval_width) / 2.0
        if n_fut and n_samp:
            tf = ts[fut]
            dts = (
                np.gradient(tf)
                if n_fut > 1
                else np.maximum(tf - 1.0, 1e-12)
            )
            p_change = np.clip(len(self.cp_) * dts, 0.0, 1.0)
            paths = np.zeros((n_samp, n_fut))
            for i in range(n_samp):
                changes = rng.random(n_fut) < p_change
                if lam > 0 and changes.any():
                    mags = rng.laplace(0.0, lam, size=int(changes.sum()))
                    slope_shift = np.zeros(n_fut)
                    slope_shift[changes] = mags
                    cum = np.cumsum(slope_shift * dts)  # dts guards n_fut==1
                    paths[i] = np.cumsum(cum)
            noise = rng.normal(0.0, max(self.sigma_, 1e-12), size=(n_samp, n_fut))
            dev = (paths + noise) * self.y_scale_
            lo_f = yhat[fut] + np.quantile(dev, alpha, axis=0)
            hi_f = yhat[fut] + np.quantile(dev, 1.0 - alpha, axis=0)
        z = abs(float(np.quantile(np.random.default_rng(0).normal(size=4000), 1 - alpha)))
        base_lo = yhat - z * self.sigma_ * self.y_scale_
        base_hi = yhat + z * self.sigma_ * self.y_scale_
        lower, upper = base_lo, base_hi
        if n_fut and n_samp:
            lower = lower.copy()
            upper = upper.copy()
            lower[fut] = np.minimum(lo_f, base_lo[fut])
            upper[fut] = np.maximum(hi_f, base_hi[fut])
        return pd.DataFrame({"fcst": yhat, "fcst_lower": lower, "fcst_upper": upper})


def prophet_forecast(
    df: DataFrame,
    steps: int,
    freq_seconds: int,
    growth: str = "linear",
    cap: float | None = None,
    s: TSSchema = DEFAULT,
    **params,
) -> DataFrame:
    """(series_id, time, fcst, fcst_lower, fcst_upper) — ProphetLite per
    series, the model-zoo fan-out contract (kats/models/prophet.py
    predict surface)."""
    schema = (
        f"{s.series_id} string, {s.time} timestamp, "
        "fcst double, fcst_lower double, fcst_upper double"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(s.time)
        times = pdf[s.time].to_numpy(dtype="datetime64[ns]")
        y = pdf[s.value].to_numpy(dtype=float)
        if len(y) < 10:
            return pd.DataFrame(columns=[s.series_id, s.time, "fcst", "fcst_lower", "fcst_upper"])
        m = ProphetLite(growth=growth, cap=cap, **params).fit(times, y)
        h = np.arange(1, steps + 1)
        fut = times[-1] + (h * freq_seconds * 1_000_000_000).astype("timedelta64[ns]")
        out = m.predict(fut)
        out.insert(0, s.time, pd.to_datetime(fut))
        out.insert(0, s.series_id, pdf[s.series_id].iloc[0])
        return out

    return (
        df.select(s.series_id, s.time, s.value)
        .groupBy(s.series_id)
        .applyInPandas(fn, schema)
    )


#: Minimum surviving history rows for the pre-fit outlier filter of
#: ``prophet_detector_scores`` to actually drop rows.  The reference's
#: _remove_outliers (kats/detectors/prophet_detector.py) has no gate at all; we keep a
#: floor because refitting a trend+seasonality model on <10 points is
#: degenerate — a documented, deliberate divergence.
REMOVE_OUTLIERS_MIN_KEEP = 10


def _prophet_score(
    y: np.ndarray,
    yhat: np.ndarray,
    width: np.ndarray,
    score_func: str,
    ci_threshold: float,
    use_legacy_z_score: bool,
) -> np.ndarray:
    """Reference score functions, exactly
    (kats/detectors/prophet_detector.py:121-158 with the scale
    constants at :92-94): ``deviation`` = (y - yhat) / |yhat|;
    ``z_score`` = (y - yhat) / max(scaled_std, 1e-9) where the legacy
    scaled_std is sqrt(50)/2 * ci_width / ci_threshold
    (Z_SCORE_SCALE_CONST / Z_SCORE_CI_THRESHOLD_SCALE_CONST collapses
    to sqrt(50)/2) and the corrected one divides by the z quantile of
    the interval instead of its nominal width."""
    from kats_spark.operators.interval import norm_ppf

    if score_func == "z_score":
        scale = np.sqrt(50.0) * float(norm_ppf(0.8 / 2 + 0.5)) / 0.8 / 2.0
        if use_legacy_z_score:
            scaled_std = np.sqrt(50.0) / 2.0 * width / ci_threshold
        else:
            scaled_std = scale * width / float(norm_ppf(ci_threshold / 2 + 0.5))
        return (y - yhat) / np.maximum(scaled_std, 1e-9)
    return (y - yhat) / np.maximum(np.abs(yhat), 1e-9)


def apply_holiday_multiplier(
    scores: DataFrame,
    holidays_list: list[str] | None,
    holiday_multiplier: float,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """Holiday score scaling (kats/detectors/prophet_detector.py:656-673):
    when a non-unit ``holiday_multiplier`` is given, anomaly scores whose
    timestamp's DAY is in ``holidays_list`` are multiplied by it —
    dampening (<1) or amplifying (>1) holiday-window alerts.  One
    column expression over the scored frame; shared by the fbprophet
    path and the lite fallback."""
    import pyspark.sql.functions as F

    if not holidays_list or round(holiday_multiplier, 10) == 1.0:
        return scores
    days = F.array(*[F.lit(d) for d in holidays_list])
    hit = F.array_contains(days, F.date_format(F.col(s.time), "yyyy-MM-dd"))
    return scores.withColumn(
        "score",
        F.when(hit, F.col("score") * F.lit(float(holiday_multiplier))).otherwise(
            F.col("score")
        ),
    )


def prophet_detector_scores(
    df: DataFrame,
    history_frac: float = 0.7,
    interval_width: float = 0.8,
    score_func: str = "deviation",
    use_legacy_z_score: bool = True,
    remove_outliers: bool = False,
    outlier_threshold: float = 0.99,
    holidays_list: list[str] | None = None,
    holiday_multiplier: float = 1.0,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """ProphetDetectorModel on the lite backend
    (kats/detectors/prophet_detector.py:332 ``fit_predict``): fit on
    the leading ``history_frac`` of each series (the historical_data /
    data split — history ends exactly where the scan begins), predict
    the scan segment, score each point with the reference's score
    functions (:121-158) — ``deviation``: (y - yhat) / |yhat|;
    ``z_score``: (y - yhat) / scaled_std from the band width with the
    reference's sqrt(50) scale constants (:87-94), legacy/corrected
    selectable via ``use_legacy_z_score``.  ``remove_outliers`` mirrors
    ``_remove_outliers`` (:723): points of the history outside the
    ``outlier_threshold`` prediction interval of a first fit are
    dropped before the final fit."""
    schema = (
        f"{s.series_id} string, {s.time} timestamp, score double, "
        "predicted double, lower double, upper double"
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(s.time)
        n_hist = max(int(len(pdf) * history_frac), 10)
        hist, scan = pdf.iloc[:n_hist], pdf.iloc[n_hist:]
        if scan.empty or len(hist) < 10:
            return pd.DataFrame(
                columns=[s.series_id, s.time, "score", "predicted", "lower", "upper"]
            )
        ht = hist[s.time].to_numpy(dtype="datetime64[ns]")
        hy = hist[s.value].to_numpy(dtype=float)
        if remove_outliers:
            pre = ProphetLite(interval_width=outlier_threshold).fit(ht, hy)
            band = pre.predict(ht)
            keep = (hy >= band.fcst_lower.to_numpy()) & (
                hy <= band.fcst_upper.to_numpy()
            )
            if keep.sum() >= REMOVE_OUTLIERS_MIN_KEEP:
                ht, hy = ht[keep], hy[keep]
        m = ProphetLite(interval_width=interval_width).fit(ht, hy)
        fc = m.predict(scan[s.time].to_numpy(dtype="datetime64[ns]"))
        score = _prophet_score(
            scan[s.value].to_numpy(dtype=float),
            fc.fcst.to_numpy(),
            (fc.fcst_upper - fc.fcst_lower).to_numpy(),
            score_func,
            interval_width,
            use_legacy_z_score,
        )
        return pd.DataFrame(
            {
                s.series_id: scan[s.series_id].to_numpy(),
                s.time: scan[s.time].to_numpy(),
                "score": score,
                "predicted": fc.fcst.to_numpy(),
                "lower": fc.fcst_lower.to_numpy(),
                "upper": fc.fcst_upper.to_numpy(),
            }
        )

    out = (
        df.select(s.series_id, s.time, s.value)
        .groupBy(s.series_id)
        .applyInPandas(fn, schema)
    )
    return apply_holiday_multiplier(out, holidays_list, holiday_multiplier, s)
