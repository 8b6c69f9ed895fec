"""Backtesting: fold-spec generation + per-fold model evaluation.

Parity with kats/utils/backtesters.py:668-1175 (BackTesterSimple /
RollingOrigin expanding & rolling / FixedWindow) and
kats/utils/datapartition.py:47-445: a backtest is a *table of folds*
(fold_id, train_frac range, test range), crossed with the series, each
(series, fold) fitted and scored.

Spark-first shape: the fold spec is a tiny literal DataFrame; train/test
membership is a row_number predicate against per-series lengths; the model
is fitted per (series_id, fold_id) group.  With the closed-form OLS trend
model the ENTIRE backtest — folds x series x fit x forecast x error
metrics — is one expression-only plan: two shuffles (window rank, fold
aggregation), no UDF, no driver loop.  UDF-backed models drop into the
same spec with groupBy(series, fold).applyInPandas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kats_spark.tsframe import TSSchema, DEFAULT


def fold_spec(
    spark,
    n_folds: int,
    train_frac: float = 0.5,
    test_frac: float = 0.1,
    mode: str = "expanding",
    gap_frac: float = 0.0,
) -> DataFrame:
    """RollingOrigin spec (backtesters.py:968,1008): fold i trains on
    [start_i, split_i) and tests on [split_i + gap, split_i + gap + test_len).

    expanding: start=0, split grows; rolling: fixed-length train window
    slides.  ``gap_frac`` > 0 is the FixedWindow ``offset``
    (backtesters.py:1047): a hold-out gap between train and test.
    Fractions are of each series' length, resolved per series at join
    time (so one spec serves series of different lengths)."""
    rows = []
    for i in range(n_folds):
        offset = (1.0 - train_frac - gap_frac - test_frac) * i / max(n_folds - 1, 1)
        train_start = 0.0 if mode == "expanding" else offset
        train_end = train_frac + offset
        test_start = train_end + gap_frac
        # round to 9 decimals so boundary*length floors identically across
        # engines (0.7 + 0.1*i drifts in the last ulp otherwise)
        rows.append(
            (i, round(float(train_start), 9), round(float(train_end), 9),
             round(float(test_start), 9), round(float(test_start + test_frac), 9))
        )
    return spark.createDataFrame(
        rows,
        "fold_id int, train_start double, train_end double, "
        "test_start double, test_end double",
    )


def simple_spec(spark, train_frac: float = 0.75) -> DataFrame:
    """BackTesterSimple (backtesters.py:668) / SimpleDataPartition
    (datapartition.py:47): one fold, train on the first ``train_frac``,
    test on the rest."""
    return spark.createDataFrame(
        [(0, 0.0, round(float(train_frac), 9), round(float(train_frac), 9), 1.0)],
        "fold_id int, train_start double, train_end double, "
        "test_start double, test_end double",
    )


def linear_backtest(
    df: DataFrame,
    spec: DataFrame,
    s: TSSchema = DEFAULT,
) -> DataFrame:
    """Backtest the closed-form linear trend model over every fold:
    returns (series_id, fold_id, n_train, n_test, mae, rmse, mape).

    Plan: rank rows per series (one window), crossJoin the broadcast fold
    spec, tag train/test membership, compute OLS moments over train rows
    and forecast errors over test rows in a single grouped aggregation —
    map-side combinable, shuffle keyed on (series_id, fold_id)."""
    ranked = df.withColumn("__rn", F.row_number().over(s.w()) - 1).withColumn(
        "__n", F.count("*").over(Window.partitionBy(s.series_id))
    )
    j = ranked.crossJoin(F.broadcast(spec))
    lo = (F.col("train_start") * F.col("__n")).cast("int")
    hi = (F.col("train_end") * F.col("__n")).cast("int")
    ts_ = (F.col("test_start") * F.col("__n")).cast("int")
    te = (F.col("test_end") * F.col("__n")).cast("int")
    tagged = j.withColumn(
        "__set",
        F.when((F.col("__rn") >= lo) & (F.col("__rn") < hi), F.lit("train")).when(
            (F.col("__rn") >= ts_) & (F.col("__rn") < te), F.lit("test")
        ),
    ).filter(F.col("__set").isNotNull())

    x = F.col("__rn").cast("double")
    y = F.col(s.value)
    is_tr = F.col("__set") == "train"
    g = tagged.groupBy(s.series_id, "fold_id").agg(
        F.sum(F.when(is_tr, 1).otherwise(0)).cast("double").alias("n"),
        F.sum(F.when(is_tr, x)).alias("sx"),
        F.sum(F.when(is_tr, x * x)).alias("sx2"),
        F.sum(F.when(is_tr, y)).alias("sy"),
        F.sum(F.when(is_tr, x * y)).alias("sxy"),
        F.collect_list(F.when(~is_tr, F.struct(x.alias("x"), y.alias("y")))).alias("__test"),
    )
    n, sx, sx2, sy, sxy = (F.col(c) for c in ["n", "sx", "sx2", "sy", "sxy"])
    b = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    a = sy / n - b * sx / n
    fitted = g.withColumn("__a", a).withColumn("__b", b)
    errs = fitted.select(
        s.series_id,
        "fold_id",
        F.col("n").cast("bigint").alias("n_train"),
        F.size("__test").cast("bigint").alias("n_test"),
        F.aggregate(
            "__test", F.lit(0.0),
            lambda acc, t: acc + F.abs(t["y"] - (F.col("__a") + F.col("__b") * t["x"])),
        ).alias("__sae"),
        F.aggregate(
            "__test", F.lit(0.0),
            lambda acc, t: acc + F.pow(t["y"] - (F.col("__a") + F.col("__b") * t["x"]), 2),
        ).alias("__sse"),
        F.aggregate(
            "__test", F.lit(0.0),
            lambda acc, t: acc
            + F.abs((t["y"] - (F.col("__a") + F.col("__b") * t["x"])) / t["y"]),
        ).alias("__sape"),
    )
    nt = F.col("n_test").cast("double")
    return errs.select(
        s.series_id,
        "fold_id",
        "n_train",
        "n_test",
        (F.col("__sae") / nt).alias("mae"),
        F.sqrt(F.col("__sse") / nt).alias("rmse"),
        (F.col("__sape") / nt).alias("mape"),
    )


def model_backtest(
    df: DataFrame,
    spec: DataFrame,
    model: str = "arima",
    s: TSSchema = DEFAULT,
    **model_kwargs,
) -> DataFrame:
    """Generic backtest for ANY per-series model — the reference's
    BackTesterParent workflow (kats/utils/backtesters.py: fit on the
    train window, predict the test horizon, error metrics per fold) for
    models with no closed SQL form.

    Plan: rank + broadcast-crossJoin the fold spec exactly like
    linear_backtest, then ONE ``applyInPandas`` keyed on
    (series_id, fold_id) — every (series, fold) cell fits independently
    in parallel, so wall-clock scales with the slowest single fit no
    matter how many series or folds.

    Built-in kernels: ``arima`` (HR+CSS), ``prophet`` (ProphetLite),
    ``naive`` (last value), ``mean``; any other ``model`` raises
    ``ValueError`` here, before the plan is built (inside the per-group
    kernel it would be indistinguishable from a failed fit).  Returns
    (series_id, fold_id, n_train, n_test, mae, rmse, mape)."""
    import numpy as np
    import pandas as pd

    if model not in ("arima", "prophet", "naive", "mean"):
        raise ValueError(f"unknown backtest model {model!r}")

    def _fc(model_name, times, yv, steps, kwargs):
        if model_name == "arima":
            from kats_spark.models.arima import _arima_forecast_one

            order = kwargs.get("order", (2, 1, 1))
            fc, _ = _arima_forecast_one(yv, *order, steps)
            return fc
        if model_name == "prophet":
            from kats_spark.models.prophet_lite import ProphetLite

            m = ProphetLite(**{k: v for k, v in kwargs.items() if k != "order"})
            m.fit(times, yv)
            spacing = times[-1] - times[-2] if len(times) > 1 else np.timedelta64(1, "D")
            fut = times[-1] + spacing * np.arange(1, steps + 1)
            return m.predict(fut).fcst.to_numpy()
        if model_name == "naive":
            return np.full(steps, yv[-1])
        return np.full(steps, yv.mean())  # "mean"

    ranked = df.withColumn("__rn", F.row_number().over(s.w()) - 1).withColumn(
        "__n", F.count("*").over(Window.partitionBy(s.series_id))
    )
    j = ranked.crossJoin(F.broadcast(spec))
    schema = (
        f"{s.series_id} string, fold_id int, n_train bigint, n_test bigint, "
        "mae double, rmse double, mape double"
    )

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sid, fold = key
        pdf = pdf.sort_values("__rn")
        n_all = int(pdf["__n"].iloc[0])
        r = pdf.iloc[0]
        lo, hi = int(r.train_start * n_all), int(r.train_end * n_all)
        ts_, te = int(r.test_start * n_all), int(r.test_end * n_all)
        rn = pdf["__rn"].to_numpy()
        tr = pdf[(rn >= lo) & (rn < hi)]
        te_rows = pdf[(rn >= ts_) & (rn < te)]
        if len(tr) < 10 or len(te_rows) == 0:
            return pd.DataFrame(
                columns=[s.series_id, "fold_id", "n_train", "n_test", "mae", "rmse", "mape"]
            )
        times = tr[s.time].to_numpy(dtype="datetime64[ns]")
        yv = tr[s.value].to_numpy(dtype=float)
        try:
            fc = _fc(model, times, yv, len(te_rows), model_kwargs)
        except Exception:
            return pd.DataFrame(
                columns=[s.series_id, "fold_id", "n_train", "n_test", "mae", "rmse", "mape"]
            )
        truth = te_rows[s.value].to_numpy(dtype=float)
        err = truth - np.asarray(fc, dtype=float)[: len(truth)]
        with np.errstate(divide="ignore", invalid="ignore"):
            ape = np.abs(np.where(truth != 0, err / truth, np.nan))
        return pd.DataFrame(
            {
                s.series_id: [sid],
                "fold_id": [int(fold)],
                "n_train": [len(tr)],
                "n_test": [len(te_rows)],
                "mae": [float(np.abs(err).mean())],
                "rmse": [float(np.sqrt((err**2).mean()))],
                "mape": [float(np.nanmean(ape))],
            }
        )

    return j.groupBy(s.series_id, "fold_id").applyInPandas(fn, schema)
