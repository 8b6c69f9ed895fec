"""kats_spark benchmark: one workload, one fresh process, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload ts_panel --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with Spark's event log on and prints the per-layer metrics.  The
last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.perfbench/`` (and the stored
indexes query_mix builds under ``spark-warehouse/``) in the checkout.
See perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
MIN_WARM_UNITS = 1
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
               "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")


def _env_snapshot() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "threads": {k: os.environ.get(k) for k in THREAD_VARS},
    }


def _configure_env(traced: bool, cpus: int) -> str:
    """Thread budget, worker import path and Spark settings; must run
    before numpy or the JVM start.  Returns the event-log directory."""
    for k in THREAD_VARS:
        os.environ[k] = "1"
    tmp = os.path.join(WORK, "tmp")
    log_dir = os.path.join(WORK, "eventlog")
    for d in (tmp, log_dir):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return log_dir


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(runner, setup_s: float) -> dict:
    units = runner.units
    cold, warm = units[0], [u for u in units[1:] if u["ok"]]
    warm_labels = {u["label"] for u in warm}
    warm_calls = [c for c in runner.calls if c["unit"] in warm_labels and c["ok"]]
    lat_ms = [c["seconds"] * 1e3 for c in warm_calls]
    warm_s = sum(u["seconds"] for u in warm)
    p90 = statistics.quantiles(lat_ms, n=10, method="inclusive")[-1] if len(lat_ms) > 1 else _median(lat_ms)
    m = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold["seconds"], "s"),
        "pipeline_p50_s": (_median([u["seconds"] for u in warm]), "s"),
        "rows_per_s": (sum(u["rows"] for u in warm) / warm_s if warm_s else 0.0, "rows/s"),
        "query_p50_ms": (_median(lat_ms), "ms"),
        "query_p90_ms": (p90, "ms"),
        "queries_per_s": (len(warm_calls) / warm_s if warm_s else 0.0, "1/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(runner, workload, layers: dict, overhead: float) -> dict:
    from measure import LAYER_COUNTERS
    from workloads import MIX, TS_STAGES

    warm = [u["label"] for u in runner.units[1:] if u["ok"]]
    calls = [c for c in runner.calls if c["ok"]]

    def per_unit(pred, key="seconds") -> float:
        return _median([sum(c[key] for c in calls if c["unit"] == u and pred(c)) for u in warm])

    m: dict[str, tuple[float, str]] = {}
    for stage, names in TS_STAGES.items():
        m[f"ts.{stage}_s"] = (per_unit(lambda c, n=names: workload == "ts_panel" and c["name"] in n), "s")
    cold_extra = 0.0
    for q in MIX:
        warm_q = [c["seconds"] for c in calls if c["name"] == q and c["unit"] in warm]
        cold_q = [c["seconds"] for c in calls if c["name"] == q and c["unit"] == runner.units[0]["label"]]
        m[f"q.{q}_ms"] = (_median(warm_q) * 1e3, "ms")
        if workload == "query_mix" and cold_q and warm_q:
            cold_extra += cold_q[0] - _median(warm_q)
    m["q.cold_extra_s"] = (cold_extra, "s")
    m["plan.construct_s"] = (per_unit(lambda c: True, "construct_s"), "s")
    m["plan.catalyst_s"] = (per_unit(lambda c: True, "catalyst_s"), "s")
    for key in LAYER_COUNTERS:
        unit = ("bytes" if "bytes" in key else "s" if key.endswith("_s")
                else "ratio" if key.endswith("_ratio") else "count")
        m[key] = (_median([layers.get(u, {}).get(key, 0.0) for u in warm]), unit)
    m["reuse.storage_peak_mb"] = (runner.storage_peak / 2**20, "MB")
    m["trace.overhead_frac"] = (overhead, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _untraced_record(args) -> dict:
    """Untraced end-to-end metrics of this workload in this checkout, for
    the tracing overhead; runs an untraced child first if there is none."""
    path = os.path.join(WORK, "out", f"untraced-{args.workload}-{args.seconds}.json")
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=170)
    with open(path) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "kats_spark", "__init__.py")):
        print(f"kats_spark is not next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    if traced:
        try:
            baseline = _untraced_record(args)
        except subprocess.CalledProcessError as e:
            print(f"untraced reference run failed: {e}", file=sys.stderr)
            return 2
        global T_START  # the child may have run; set-up time starts here
        T_START = time.perf_counter()

    for sub in ("data", "eventlog", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    log_dir = _configure_env(traced, len(os.sched_getaffinity(0)))
    env_start = _env_snapshot()

    sys.path[:0] = [HERE, ROOT]
    from measure import Runner, find_event_log, fold_event_log
    from workloads import WORKLOADS, remove_stored_indexes

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    remove_stored_indexes(ROOT)
    from kats_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_session
    runner = Runner(spark, args.workload, traced)
    wl = WORKLOADS[args.workload](spark, runner, os.path.join(WORK, "data"), args.seed)
    try:
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        wl.setup()
        # process start to first unit, with the repeated preparation
        # counted once, at its median
        setup_s = time.perf_counter() - T_START - sum(prep) + _median(prep)

        # the cold unit, then --seconds of warm units at the workload's
        # nominal unit time: the count never depends on how fast the machine
        # is, so every run's medians cover the same (still warming) units
        n_warm = max(MIN_WARM_UNITS, round(args.seconds / wl.nominal_unit_s))
        labels: dict[int, str] = {}
        for i in range(1 + n_warm):
            if i >= SETUP_REPS:
                wl.before(i)
            labels[i] = "cold" if i == 0 else f"warm{i}"
            try:
                with runner.unit(labels[i], wl.rows(i)):
                    wl.unit(i)
            except Exception:  # noqa: BLE001 - a failed unit is counted, the run goes on
                traceback.print_exc()
        # query_mix counts result rows, known only after the unit ran
        for u, k in zip(runner.units, labels):
            u["rows"] = wl.rows(k)

        try:
            gate_failed = set(wl.check(labels))
        except Exception:  # noqa: BLE001 - a broken gate is one failed check, not a crash
            traceback.print_exc()
            gate_failed = {("gates", "check")}
    finally:
        env_end = _env_snapshot()
        _stop_spark(spark)
        remove_stored_indexes(ROOT)

    # a failed gate on something other than a timed call (the corpus
    # oracle instance, a gate that raised) adds one attempted, failed check
    extra = gate_failed - {(c["unit"], c["name"]) for c in runner.calls}
    attempted = len(runner.calls) + len(extra)
    failed = len(extra) + sum(
        1 for c in runner.calls if not c["ok"] or (c["unit"], c["name"]) in gate_failed)
    e2e = end_to_end(runner, setup_s)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    stem = os.path.join(WORK, "out", f"{'traced' if traced else 'untraced'}-{args.workload}")
    if traced:
        layers = fold_event_log(find_event_log(log_dir), args.workload)
        base = baseline["pipeline_p50_s"]["value"]
        overhead = (e2e["pipeline_p50_s"]["value"] - base) / base if base else 0.0
        metrics = per_layer(runner, args.workload, layers, overhead)
        runner.write_spans(f"{stem}-spans.json")
        with open(f"{stem}-units.json", "w") as f:
            json.dump({"calls": runner.calls, "layers": layers, "end_to_end": e2e}, f)
    else:
        metrics = e2e
        with open(f"{stem}-{args.seconds}.json", "w") as f:
            json.dump(e2e, f)
        with open(f"{stem}-calls.json", "w") as f:
            json.dump(runner.calls, f)
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    env = {"start": env_start, "end": env_end, "session_s": session_s,
           "units": len(runner.units),
           "wall_s": time.perf_counter() - T_START,
           "warm_calls": sum(1 for c in runner.calls if c["unit"] != "cold"),
           "failed_frac": failed / attempted if attempted else 1.0}
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
