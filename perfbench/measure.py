"""Timing, spans and the traced-run layer split.

Every timed call is one public ``kats_spark`` call (the *construct* span:
driver-side plan building, including any jobs the call launches itself)
followed by the action that materializes every output column (the
*action* span: a parquet write or a collect to pandas).  Spans live in
memory and are written out when the run ends.

In a traced run each span also gets a Spark job group
``<workload>:<unit>:<call>:<phase>``; after the session stops, the
uncompressed event log is folded by those groups into per-unit layer
counters (jobs, stages, tasks, executor time, Python-worker SQL metrics,
shuffle, spill, scan and sink bytes).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

PHASES = ("analysis", "optimization", "planning")

# SQL-metric names the Arrow/pandas Python runners attach to tasks.
PY_METRICS = {
    "time to run Python workers": "py.run_s",
    "time to start Python workers": "py.start_s",
    "time to initialize Python workers": "py.start_s",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_returned",
}

# Stages whose longest task is shorter than this cannot straggle.
STRAGGLER_MIN_MS = 100

# Per-unit counters folded from the event log (order = report order).
LAYER_COUNTERS = (
    "plan.construct_jobs", "sched.jobs", "sched.stages", "sched.tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.straggler_ratio",
    "py.run_s", "py.start_s", "py.bytes_sent", "py.bytes_returned",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
    "scan.bytes_read", "out.bytes_written",
)


class CallFailed(Exception):
    """A timed call produced output that fails the materialization check."""


class Runner:
    """Times units and calls; records spans; in traced mode also tags
    job groups and reads Catalyst's planning tracker."""

    def __init__(self, spark, workload: str, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.spans: list[list] = []  # [name, start, end, parent, unit]
        self.calls: list[dict] = []
        self.units: list[dict] = []
        self.storage_peak = 0
        self._unit: str | None = None
        self._unit_span: int | None = None

    def _span(self, name: str, start: float, end: float | None, parent: int | None) -> int:
        self.spans.append([name, start, end, parent, self._unit])
        return len(self.spans) - 1

    @contextmanager
    def unit(self, label: str, rows: int):
        """One timed unit (a pipeline iteration or a mix pass)."""
        self._unit = label
        start = time.perf_counter()
        self._unit_span = self._span(label, start, None, None)
        ok = False
        try:
            yield
            ok = True
        finally:
            end = time.perf_counter()
            self.spans[self._unit_span][2] = end
            self.units.append({"label": label, "seconds": end - start, "rows": rows, "ok": ok})
            if self.traced:
                self._sample_storage()
            self._unit = None

    def call(self, name: str, build, write_path: str | None = None):
        """Time ``build()`` (the public call) plus the action that
        materializes every column of its result: a parquet write to
        ``write_path``, else a collect to pandas.  Returns the pandas
        frame for a collect, else None."""
        group = f"{self.workload}:{self._unit}:{name}"
        if self.traced:
            self.sc.setJobGroup(f"{group}:construct", group)
        record = {"unit": self._unit, "name": name, "ok": False}
        self.calls.append(record)
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        if self.traced:
            self.sc.setJobGroup(f"{group}:action", group)
            qe = df._jdf.queryExecution()
            if write_path is not None:
                # a write plans a new QueryExecution; force this one so its
                # tracker holds all three Catalyst phases
                qe.executedPlan()
        if write_path is not None:
            df.write.mode("overwrite").parquet(write_path)
            out = None
        else:
            out = df.toPandas()
        t2 = time.perf_counter()
        catalyst = self._catalyst_s(qe) if self.traced else 0.0
        if self.traced:
            self.sc.setJobGroup(f"{self.workload}:untimed", "untimed")
        call_span = self._span(name, t0, t2, self._unit_span)
        self._span("construct", t0, t1, call_span)
        self._span("action", t1, t2, call_span)
        record.update(seconds=t2 - t0, construct_s=t1 - t0, catalyst_s=catalyst)
        self._check_materialized(df, out, write_path, qe if self.traced else None)
        record["ok"] = True
        return out

    def _check_materialized(self, df, out, write_path, qe) -> None:
        """The timed action must produce every column of ``df`` (a
        ``count()`` would let Catalyst prune the measured work)."""
        cols = list(df.columns)
        if write_path is not None:
            got = pq.ParquetDataset(write_path).schema.names
        else:
            got = list(out.columns)
        if got != cols:
            raise CallFailed(f"materialized columns {got} != {cols}")
        if qe is not None and qe.optimizedPlan().output().size() != len(cols):
            raise CallFailed("optimized plan does not produce every column")

    @staticmethod
    def _catalyst_s(qe) -> float:
        phases = qe.tracker().phases()
        total = 0
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                total += opt.get().durationMs()
        return total / 1000.0

    def _sample_storage(self) -> None:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        used = sum(i.memSize() + i.diskSize() for i in infos)
        self.storage_peak = max(self.storage_peak, used)

    def write_spans(self, path: str) -> None:
        """Spans with their self time (duration minus covered children)."""
        child_time = [0.0] * len(self.spans)
        for name, start, end, parent, unit in self.spans:
            if parent is not None and end is not None:
                child_time[parent] += end - start
        rows = []
        for i, (name, start, end, parent, unit) in enumerate(self.spans):
            dur = (end or start) - start
            rows.append({"id": i, "name": name, "start": start, "end": end,
                         "parent": parent, "unit": unit,
                         "self_s": dur - child_time[i]})
        with open(path, "w") as f:
            json.dump(rows, f)


def fold_event_log(path: str, workload: str) -> dict[str, dict[str, float]]:
    """Fold an uncompressed event log into per-unit layer counters,
    keyed by unit label (from the ``<workload>:<unit>:...`` job groups)."""
    stage_unit: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(unit: str) -> dict[str, float]:
        return out.setdefault(unit, {k: 0.0 for k in LAYER_COUNTERS})

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                parts = group.split(":")
                if len(parts) != 4 or parts[0] != workload:
                    continue
                unit, phase = parts[1], parts[3]
                b = bucket(unit)
                b["sched.jobs"] += 1
                if phase == "construct":
                    b["plan.construct_jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_unit.setdefault(sid, unit)
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                if sid in stage_unit:
                    bucket(stage_unit[sid])["sched.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                unit = stage_unit.get(sid)
                if unit is None:
                    continue
                b = bucket(unit)
                m = e.get("Task Metrics") or {}
                b["sched.tasks"] += 1
                b["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
                b["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                b["spill.bytes"] += m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                b["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                b["shuffle.write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                b["scan.bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                b["out.bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                stage_tasks.setdefault(sid, []).append(m.get("Executor Run Time", 0))
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    key = PY_METRICS.get(acc.get("Name"))
                    if key is None:
                        continue
                    val = float(acc.get("Update") or 0)
                    # the worker timing metrics are in milliseconds
                    b[key] += val / 1e3 if key.endswith("_s") else val
    for sid, runs in stage_tasks.items():
        if len(runs) < 2 or max(runs) < STRAGGLER_MIN_MS:
            continue
        ratio = max(runs) / max(statistics.median(runs), 1.0)
        b = bucket(stage_unit[sid])
        b["exec.straggler_ratio"] = max(b["exec.straggler_ratio"], ratio)
    for b in out.values():
        b["exec.straggler_ratio"] = max(b["exec.straggler_ratio"], 1.0)
    return out


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]
