"""Global AR(2): ONE model fit across ALL series jointly — closed-form.

The reference's global model (kats/models/globalmodel/model.py:35) trains
one RNN over many series (train :377, predict :572, data batching
data_processor.py:24).  Its torch backend is absent here, but the core
idea — pool every series' history into ONE set of parameters, then apply
them per series — has an exact distributed closed form for an AR model:

- fit = pooled OLS of y_t on (1, y_{t-1}, y_{t-2}) with lags built per
  series (a window) and moment sums aggregated over the WHOLE frame —
  a partial-aggregate-friendly global agg producing ONE coefficient row;
- predict = broadcast that row to every series' tail state and unroll the
  same AR(2) recursion as models/ar.py.

This is the degenerate-but-honest "global model": more data per
parameter, no per-series fit cost, new/short series get forecasts from
step one (the globalmodel pitch) — and unlike the RNN it hash-matches a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kats_spark.models.ar import Z95  # noqa: F401  (re-export convention)
from kats_spark.tsframe import TSSchema, DEFAULT


def global_ar2_fit(df: DataFrame, s: TSSchema = DEFAULT) -> DataFrame:
    """ONE-row pooled AR(2) OLS: (c, phi1, phi2, mse, n).  Lags never cross
    a series boundary (the window is per series); the moment sums are a
    global aggregate, so at 100 TB this is map-side partials + one tiny
    final reduce — no per-series shuffle at all."""
    l1 = F.lag(s.value, 1).over(s.w())
    l2 = F.lag(s.value, 2).over(s.w())
    d = (
        df.withColumn("__x1", l1)
        .withColumn("__x2", l2)
        .filter(F.col("__x2").isNotNull())
    )
    y, x1, x2 = F.col(s.value), F.col("__x1"), F.col("__x2")
    m = d.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x1).alias("s1"),
        F.sum(x2).alias("s2"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(y).alias("sy"),
        F.sum(y * x1).alias("sy1"),
        F.sum(y * x2).alias("sy2"),
        F.sum(y * y).alias("syy"),
    )

    def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
        return a1 * (b2 * c3 - b3 * c2) - a2 * (b1 * c3 - b3 * c1) + a3 * (b1 * c2 - b2 * c1)

    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    sy, sy1, sy2, syy = F.col("sy"), F.col("sy1"), F.col("sy2"), F.col("syy")
    D = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    Dc = det3(sy, s1, s2, sy1, s11, s12, sy2, s12, s22)
    D1 = det3(n, sy, s2, s1, sy1, s12, s2, sy2, s22)
    D2 = det3(n, s1, sy, s1, s11, sy1, s2, s12, sy2)
    c, p1, p2 = Dc / D, D1 / D, D2 / D
    sse = syy - c * sy - p1 * sy1 - p2 * sy2
    return m.select(
        c.alias("c"),
        p1.alias("phi1"),
        p2.alias("phi2"),
        (sse / (n - 3)).alias("mse"),
        "n",
    )


def global_ar2_forecast(
    df: DataFrame, steps: int, freq_seconds: int, s: TSSchema = DEFAULT
) -> DataFrame:
    """(series_id, time, fcst, fcst_lower, fcst_upper) per series, all from
    the single global coefficient row (broadcast into the per-series tail
    frame).  Same driver-side recursion unroll as models/ar.py — the whole
    forecast is one expression plan, zero UDFs."""
    fit = global_ar2_fit(df, s)
    l1 = F.lag(s.value, 1).over(s.w())
    tails = (
        df.withColumn("__x1", l1)
        .groupBy(s.series_id)
        .agg(
            F.max(s.time).alias("__tmax"),
            F.max_by(s.value, s.time).alias("y_last"),
            F.max_by("__x1", s.time).alias("y_prev"),
        )
    )
    cur = tails.crossJoin(F.broadcast(fit))
    c, p1, p2 = F.col("c"), F.col("phi1"), F.col("phi2")
    cur = cur.withColumn("__p0", F.col("y_last")).withColumn("__pm1", F.col("y_prev"))
    cur = cur.withColumn("__psi0", F.lit(1.0)).withColumn("__vm1", F.lit(1.0))
    for h in range(1, steps + 1):
        prev1 = F.col(f"__p{h - 1}") if h > 1 else F.col("__p0")
        prev2 = F.col(f"__p{h - 2}") if h > 2 else (F.col("__p0") if h == 2 else F.col("__pm1"))
        cur = cur.withColumn(f"__p{h}", c + p1 * prev1 + p2 * prev2)
        if h >= 2:
            psi_prev1 = F.col(f"__psi{h - 2}")
            psi_prev2 = F.col(f"__psi{h - 3}") if h >= 3 else F.lit(0.0)
            cur = cur.withColumn(f"__psi{h - 1}", p1 * psi_prev1 + p2 * psi_prev2)
            cur = cur.withColumn(
                f"__vm{h}", F.col(f"__vm{h - 1}") + F.col(f"__psi{h - 1}") * F.col(f"__psi{h - 1}")
            )
    rows = []
    for h in range(1, steps + 1):
        pred = F.col(f"__p{h}")
        se = F.sqrt(F.col("mse") * F.col(f"__vm{h}" if h >= 2 else "__vm1"))
        t = F.timestamp_seconds(F.unix_timestamp("__tmax") + F.lit(h * freq_seconds))
        rows.append(
            F.struct(
                t.alias(s.time),
                pred.alias("fcst"),
                (pred - Z95 * se).alias("fcst_lower"),
                (pred + Z95 * se).alias("fcst_upper"),
            )
        )
    exploded = cur.select(s.series_id, F.explode(F.array(*rows)).alias("__r"))
    return exploded.select(
        s.series_id,
        F.col(f"__r.{s.time}").alias(s.time),
        "__r.fcst",
        "__r.fcst_lower",
        "__r.fcst_upper",
    )
