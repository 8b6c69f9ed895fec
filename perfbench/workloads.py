"""The benchmark workloads (``corpus_pipeline`` runs by hand only; see
README.md, "Budget").

Each workload has the same shape:

* ``prepare(rep)`` -- one repetition of the input generation that later
  units read; set-up time counts its median;
* ``setup()`` -- one-off set-up after those repetitions (oracle answers);
* ``before(i)`` -- untimed input generation for unit ``i``;
* ``unit(i)`` -- the timed unit, a sequence of ``runner.call``s;
* ``rows(i)`` -- the input rows unit ``i`` processes;
* ``check(labels)`` -- untimed correctness gates over the units run,
  returning failed ``(unit label, call)`` pairs.
"""

from __future__ import annotations

import os
import random
import shutil

import pandas as pd
import pyarrow.parquet as pq

import gen

# ---------------------------------------------------------------- ts_panel

TS_SERIES = 16
TS_POINTS = 336  # two weeks of hourly points
TS_HORIZON = 24
TS_FOLDS = 3
TS_FORECASTERS = ("linear", "holt", "theta")
# model_backtest's per-(series, fold) pandas kernels are arima, prophet,
# naive and mean; "naive" keeps the grouped-UDF path without a costly fit.
TS_BACKTEST_MODEL = "naive"
# stages per run whose one-series output is compared with the panel's
TS_LIFT_STAGES = 3
# stage -> the calls whose time it sums (per-layer ts.<stage>_s)
TS_STAGES = {
    "validate": ("dedup", "validate"),
    "features": ("features",),
    "detect": ("cusum", "robust_stat"),
    "forecast": TS_FORECASTERS,
    "backtest": ("linear_backtest", "model_backtest"),
}


def _read_parquet(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """Order-insensitive equality with a tight float tolerance (sums may
    associate differently across partitionings); None when equal."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    key = list(a.columns)
    a = a.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = b.sort_values(key, kind="mergesort").reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, rtol=1e-9, atol=1e-9)
    except AssertionError as e:
        return str(e)[:300]
    return None


class TsPanel:
    """Many-series pipeline, one public call per stage, each written to
    parquet: dedup + validate, tsfeatures, two detectors, three
    forecasters, two backtests."""

    name = "ts_panel"
    nominal_unit_s = 12.0  # warm unit time on 4 cores

    def __init__(self, spark, runner, work: str, seed: int):
        from kats_spark.operators import tsfeatures
        from kats_spark.sources.registry import builtin_detectors, builtin_forecasters

        self.spark, self.runner, self.work, self.seed = spark, runner, work, seed
        self.groups = list(tsfeatures.FEATURE_GROUPS)
        self.detectors = builtin_detectors()
        self.forecasters = builtin_forecasters()

    def _dir(self, i: int) -> str:
        return os.path.join(self.work, f"iter{i}")

    def prepare(self, rep: int) -> None:
        self.before(rep)

    def setup(self) -> None:
        pass

    def before(self, i: int) -> None:
        gen.panel(os.path.join(self._dir(i), "panel.parquet"), self.seed * 1000 + i,
                  TS_SERIES, TS_POINTS)

    def rows(self, i: int) -> int:
        return TS_SERIES * TS_POINTS

    def _stages(self):
        """(call name, builder over a cleaned frame) for every stage after
        dedup; shared by the timed pipeline and the one-series check."""
        from kats_spark import tsframe
        from kats_spark.operators import backtest, tsfeatures

        spark = self.spark
        steps, freq = TS_HORIZON, 3600
        out = [
            ("validate", tsframe.validate_equal_spacing),
            ("features", lambda df: tsfeatures.tsfeatures(df, selected=self.groups)),
            ("cusum", self.detectors.get("CUSUMDetector")),
            ("robust_stat", self.detectors.get("RobustStatDetector")),
        ]
        for m in TS_FORECASTERS:
            fc = self.forecasters.get(m)
            out.append((m, lambda df, fc=fc: fc(df, steps, freq)))
        out.append(("linear_backtest",
                    lambda df: backtest.linear_backtest(df, backtest.fold_spec(spark, TS_FOLDS))))
        out.append(("model_backtest",
                    lambda df: backtest.model_backtest(
                        df, backtest.fold_spec(spark, TS_FOLDS), model=TS_BACKTEST_MODEL)))
        return out

    def unit(self, i: int) -> None:
        from kats_spark import tsframe

        d = self._dir(i)
        read = self.spark.read.parquet
        raw, clean = os.path.join(d, "panel.parquet"), os.path.join(d, "clean")
        self.runner.call("dedup", lambda: tsframe.dedup_timestamps(read(raw)), clean)
        for name, fn in self._stages():
            self.runner.call(name, lambda fn=fn: fn(read(clean)), os.path.join(d, name))

    def check(self, labels: dict[int, str]) -> list[tuple[str, str]]:
        """Per-series row counts on every unit's outputs, then the lift
        check: for one seeded series and three seeded stages, the panel
        output equals the same public call given only that series."""
        from pyspark.sql import functions as F
        from kats_spark import tsframe

        expect = {"dedup": TS_POINTS, "validate": 1, "features": 1,
                  "robust_stat": TS_POINTS, "linear_backtest": TS_FOLDS,
                  "model_backtest": TS_FOLDS}
        expect.update({m: TS_HORIZON for m in TS_FORECASTERS})
        bad = []
        for i, label in labels.items():
            d = self._dir(i)
            for name in ["dedup"] + [n for n, _ in self._stages()]:
                path = os.path.join(d, "clean" if name == "dedup" else name)
                if not os.path.exists(path):
                    continue  # the call itself failed and is counted already
                pdf = _read_parquet(path)
                counts = pdf.groupby("series_id").size()
                if name == "cusum":  # changepoints: any number per series
                    ok = set(counts.index) <= {f"s{k:05d}" for k in range(TS_SERIES)}
                else:
                    ok = len(counts) == TS_SERIES and (counts == expect[name]).all()
                if name == "dedup":  # the duplicate rows carry +1000: keep="first" drops them
                    ok = ok and bool((pdf["value"] < gen.DUP_OFFSET).all())
                if name == "validate":
                    ok = ok and bool(pdf["is_regular"].all()) and bool((pdf["freq_seconds"] == 3600).all())
                if not ok:
                    print(f"gate: {label}:{name} row counts {counts.describe().to_dict()}", flush=True)
                    bad.append((label, name))
        # lift check on the last unit: one seeded series, seeded stages
        i = max(labels)
        d = self._dir(i)
        rng = random.Random(self.seed * 7919 + i)
        sid = f"s{rng.randrange(TS_SERIES):05d}"
        read = self.spark.read.parquet
        raw, clean = os.path.join(d, "panel.parquet"), os.path.join(d, "clean")
        one = lambda path: read(path).filter(F.col("series_id") == sid)  # noqa: E731
        stages = [("dedup", lambda: tsframe.dedup_timestamps(one(raw)), "clean")]
        stages += [(n, lambda fn=fn: fn(one(clean)), n) for n, fn in self._stages()]
        for name, build, sub in rng.sample(stages, TS_LIFT_STAGES):
            path = os.path.join(d, sub)
            if not os.path.exists(path):
                continue
            got = build().toPandas()
            panel = _read_parquet(path)
            panel = panel[panel["series_id"] == sid][list(got.columns)]
            why = _frames_equal(got, panel)
            if why is not None:
                print(f"gate: {labels[i]}:{name} one-series != panel for {sid}: {why}", flush=True)
                bad.append((labels[i], name))
        return bad


# -------------------------------------------------------- corpus_pipeline

CORPUS_DOCS = 5_000
CORPUS_ROW_GROUP = 1_250
CORPUS_ORACLE_DOCS = 200


class CorpusPipeline:
    """``q_corpus_build`` (score/filter, exact dedup, near-dup removal,
    budget sample, packing stats) over a fresh generated corpus per unit."""

    name = "corpus_pipeline"
    nominal_unit_s = 5.0  # warm unit time on 4 cores

    def __init__(self, spark, runner, work: str, seed: int):
        self.spark, self.runner, self.work, self.seed = spark, runner, work, seed
        self.outputs: dict[int, pd.DataFrame] = {}
        self.oracle: pd.DataFrame | None = None

    def _dir(self, i: int) -> str:
        return os.path.join(self.work, f"iter{i}")

    def _oracle_dir(self) -> str:
        return os.path.join(self.work, "oracle_instance")

    def prepare(self, rep: int) -> None:
        self.before(rep)

    def setup(self) -> None:
        """The gate's small instance and its DuckDB answer."""
        from kats_spark.plans import pipeline_queries

        d = self._oracle_dir()
        gen.documents(os.path.join(d, "documents.parquet"), self.seed * 1000 + 999,
                      CORPUS_ORACLE_DOCS)
        self.oracle = duck_answer(pipeline_queries._Q_CORPUS_BUILD_SQL, d)

    def before(self, i: int) -> None:
        gen.documents(os.path.join(self._dir(i), "documents.parquet"), self.seed * 1000 + i,
                      CORPUS_DOCS, CORPUS_ROW_GROUP)

    def rows(self, i: int) -> int:
        return CORPUS_DOCS

    def unit(self, i: int) -> None:
        from kats_spark.plans import pipeline_queries

        d = self._dir(i)
        self.outputs[i] = self.runner.call(
            "corpus_build", lambda: pipeline_queries.q_corpus_build(self.spark, d))

    def check(self, labels: dict[int, str]) -> list[tuple[str, str]]:
        """Audit-row invariants on every unit, and Spark == DuckDB on the
        small instance from the same generator."""
        from kats_spark.plans import harness, pipeline_queries

        bad = []
        n_exact = CORPUS_DOCS // 100
        for i, label in labels.items():
            out = self.outputs.get(i)
            if out is None:
                continue
            r = out.iloc[0] if len(out) == 1 else None
            ok = (
                r is not None
                and r["n_docs"] == CORPUS_DOCS
                and 0 < r["n_survivors"] <= CORPUS_DOCS - n_exact
                and 0 < r["n_sampled"] <= r["n_survivors"]
                and r["n_sequences"] >= 1
            )
            if not ok:
                print(f"gate: {label}:corpus_build audit row {None if r is None else r.to_dict()}", flush=True)
                bad.append((label, "corpus_build"))
        got = pipeline_queries.q_corpus_build(self.spark, self._oracle_dir())
        ok, msg = harness.compare(got, self.oracle)
        if not ok:
            print(f"gate: corpus_build != DuckDB oracle on the small instance: {msg}", flush=True)
            bad.append(("oracle_instance", "corpus_build"))
        return bad


# --------------------------------------------------------------- query_mix

# The sf-dir basename keys the stored indexes under spark-warehouse/.
MIX_DIR = "perfbench_mix"
MIX_DOCS, MIX_VECS, MIX_EVENTS = 500, 500, 10_000
MIX = (
    # stored indexes (built on pass 1, read afterwards)
    "ivf_stored_topk", "incremental_simhash_stored", "dsir_stored",
    # model memo
    "ml_ar_insample",
    # rows that regressed in the round-14 bench (BENCH_r14)
    "topk_cosine", "allpairs_topk",
    # rows a count() under-measures
    "rolling_zscore", "ts_stat_features",
)


class _Collected:
    """Adapter giving ``harness.compare`` an already collected frame."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


class QueryMix:
    """One closed-loop client issuing registry queries over a small
    generated sf-style directory; the seed orders each pass."""

    name = "query_mix"
    nominal_unit_s = 4.5  # warm unit time on 4 cores

    def __init__(self, spark, runner, work: str, seed: int):
        import __spark_entry__

        self.spark, self.runner, self.work, self.seed = spark, runner, work, seed
        self.queries = __spark_entry__.queries()
        self.oracle_sql = __spark_entry__.oracle_sql()
        self.dir = os.path.join(work, MIX_DIR)
        self.answers: dict[str, pd.DataFrame] = {}
        self.outputs: dict[tuple[int, str], pd.DataFrame] = {}

    def prepare(self, rep: int) -> None:
        d = self.dir
        s = self.seed * 1000
        gen.documents(os.path.join(d, "documents.parquet"), s + 1, MIX_DOCS)
        gen.embeddings(os.path.join(d, "embeddings.parquet"), s + 2, MIX_VECS)
        gen.events(os.path.join(d, "events.parquet"), s + 3, MIX_EVENTS)

    def setup(self) -> None:
        self.answers = {q: duck_answer(self.oracle_sql[q], self.dir)
                        for q in MIX if q in self.oracle_sql}

    def before(self, i: int) -> None:
        pass

    def rows(self, i: int) -> int:
        return sum(len(self.outputs.get((i, q), ())) for q in MIX)

    def order(self, i: int) -> list[str]:
        order = list(MIX)
        random.Random(self.seed * 7919 + i).shuffle(order)
        return order

    def unit(self, i: int) -> None:
        for q in self.order(i):
            fn = self.queries[q]
            self.outputs[(i, q)] = self.runner.call(q, lambda fn=fn: fn(self.spark, self.dir))

    def check(self, labels: dict[int, str]) -> list[tuple[str, str]]:
        """Oracled rows: ``harness.compare`` against DuckDB; the rest: the
        warm result equals the cold (first) result."""
        from kats_spark.plans import harness

        bad = []
        first = min(labels)
        for (i, q), pdf in self.outputs.items():
            if pdf is None or i not in labels:
                continue
            if q in self.answers:
                ok, msg = harness.compare(_Collected(pdf), self.answers[q])
            else:
                cold = self.outputs.get((first, q))
                msg = None if cold is None else _frames_equal(
                    harness.normalize(pdf), harness.normalize(cold))
                ok = cold is not None and msg is None
            if not ok:
                print(f"gate: {labels[i]}:{q}: {msg}", flush=True)
                bad.append((labels[i], q))
        return bad


def duck_answer(sql: str, sf_dir: str) -> pd.DataFrame:
    """``harness.duck_run`` over only the tables present in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).df()
    finally:
        con.close()


WORKLOADS = {w.name: w for w in (TsPanel, CorpusPipeline, QueryMix)}


def remove_stored_indexes(root: str) -> None:
    """Drop the stored indexes query_mix writes (keyed by MIX_DIR), so
    every run's first pass builds them again."""
    wh = os.path.join(root, "spark-warehouse")
    if not os.path.isdir(wh):
        return
    for name in os.listdir(wh):
        if name.endswith(MIX_DIR):
            shutil.rmtree(os.path.join(wh, name), ignore_errors=True)

