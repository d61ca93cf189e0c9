"""Wall-clock benchmark of the engine.

    python3 perfbench/run.py --workload batch  --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload stream --seed 1 --seconds 10 --trace 1

Runs one workload (see ``batch.py`` and ``stream.py``) in one process
on ``local[<cores>]``, checks its outputs, and prints a detail record
as a JSON line on stderr and the result as the LAST line of stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs
the per-layer tracing of ``trace.py`` and reports the per-layer
metrics, plus (in the detail record) its overhead against the last
untraced run of the same workload in this checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, harness  # noqa: E402

SF = 0.01
SETUPS = 3

END_TO_END = {
    "setup_s": "s",
    "peak_pss_mb": "MB",
    "cold_pass_s": "s",
    "pass_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

# Function and operator modules that some workload reaches through a
# public function. The traced run measures every module in
# trace.FUNCTION_MODULES / OPERATOR_MODULES and keeps the others in the
# detail record, as it does spark.spill_mb, stream.source_ms and
# stream.late_share: reported, they would print 0 on every run.
REPORTED_FUNCTIONS = (
    "dedup", "similarity", "graph", "text", "approx", "timeseries", "analytics", "multimodal",
)
REPORTED_OPERATORS = ("windows", "joins")


def per_layer() -> dict[str, str]:
    """Per-layer metric name -> unit, in report order."""
    m: dict[str, str] = {
        "session.start_s": "s", "tables.load_s": "s",
        "tables.stats_calls": "count", "tables.stats_s": "s",
        "routing.calls": "count", "routing.twin_share": "ratio",
        "queries.build_s": "s", "queries.build_jobs": "count", "queries.exec_s": "s",
    }
    for mod in REPORTED_FUNCTIONS:
        m[f"functions.{mod}.s"] = "s"
        m[f"functions.{mod}.calls"] = "count"
    m["checkpoint.count"] = "count"
    m["checkpoint.s"] = "s"
    for mod in REPORTED_OPERATORS:
        m[f"operators.{mod}.s"] = "s"
        m[f"operators.{mod}.calls"] = "count"
    m.update({
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
        "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
        "spark.python_s": "s", "spark.task_skew": "ratio", "spark.driver_s": "s",
        "stream.batch_ms": "ms", "stream.planning_ms": "ms", "stream.add_batch_ms": "ms",
        "stream.wal_ms": "ms", "stream.lag_ms": "ms",
        "state.commit_ms": "ms", "state.updates_ms": "ms", "state.rows_total": "count",
        "state.memory_mb": "MB", "state.cache_hit_ratio": "ratio",
        "sinks.callback_ms": "ms", "sinks.calls": "count",
        "sat.batch_ms": "ms", "sat.add_batch_ms": "ms", "sat.commit_ms": "ms",
    })
    return m


WORKLOADS = ("batch", "stream")


def _setup(conf: dict, data_dir: str) -> tuple[object, dict]:
    """Start the session and load the tables SETUPS times (a fresh
    session each time); the first start includes the JVM launch."""
    from flink_essentials_spark import session, tables

    t_proc = harness.process_start_time()
    spark = None
    launch_s = 0.0
    restarts: list[float] = []
    loads: list[float] = []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
            getattr(tables, "_TABLE_CACHE", {}).clear()
        t0 = time.time()
        spark = session.get_spark("perfbench", extra_conf=conf)
        t1 = time.time()
        if i == 0:
            launch_s = t1 - t_proc
        else:
            restarts.append(t1 - t0)
        tables.load_tables(spark, data_dir)
        loads.append(time.time() - t1)
    return spark, {
        "launch_s": launch_s,
        "session_restart_s": restarts,
        "load_tables_s": loads,
        "setup_s": launch_s + harness.median(loads),
    }


def _stop_jvm() -> None:
    """Stop the active session, then the JVM, and wait for the whole
    process tree (JVM and Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        children = [p for p in harness.tree_pids(os.getpid()) if p != os.getpid()]
        if not children:
            return
        time.sleep(0.2)
    for pid in children:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _last_path(workload: str, traced: bool) -> str:
    return os.path.join(harness.WORK, "last", f"{workload}.{'traced' if traced else 'untraced'}.json")


def _save(path: str, record: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    os.replace(tmp, path)


def _overhead(workload: str, e2e: dict, sf: float, seconds: float) -> dict | str:
    """Traced minus untraced, against the last untraced run of the same
    workload, scale and length in this checkout."""
    try:
        with open(_last_path(workload, False)) as f:
            base = json.load(f)
    except (OSError, ValueError):
        base = None
    if not base or base.get("sf") != sf or base.get("seconds") != seconds:
        return "no untraced run of this workload, scale and length in this checkout yet"
    ref = base["end_to_end"]
    return {
        m: {"traced": e2e[m], "untraced": ref[m], "share": (e2e[m] - ref[m]) / ref[m]}
        for m in END_TO_END if m in e2e and ref.get(m)
    }


def run_workload(workload: str, seed: int, seconds: float, traced: bool,
                 run: harness.RunDir) -> tuple[dict, dict]:
    """Run one workload; returns (result line, detail record)."""
    from perfbench import trace

    harness.configure_env(run)
    steal0 = harness.steal_seconds()
    data_dir = datagen.ensure_tables(os.path.join(harness.WORK, "data"), SF)
    tracer = trace.Tracer() if traced else trace.NullTracer()
    if traced:
        tracer.install()
    conf = harness.spark_conf(run, event_log=traced)
    conf["spark.sql.streaming.numRecentProgressUpdates"] = "1000"

    with harness.MemorySampler() as mem:
        try:
            spark, setup = _setup(conf, data_dir)
            if traced:
                tracer.attach(spark)
            if workload == "batch":
                from perfbench import batch

                res = batch.measure(spark, data_dir, seed, seconds, tracer)
            else:
                from perfbench import stream

                res = stream.measure(spark, run, seed, seconds)
                setup["query_start_s"] = res["phases"]["saturated"].start_call_s
                setup["setup_s"] += setup["query_start_s"]
            if traced:
                tracer.detach()
        finally:
            _stop_jvm()
    e2e = {"setup_s": setup["setup_s"], "peak_pss_mb": mem.peak_mb, **res["metrics"]}
    detail = {
        "workload": workload, "seed": seed, "seconds": seconds, "traced": traced, "sf": SF,
        "environment": harness.environment_record(steal0),
        "setup": setup, "end_to_end": e2e, "workload_detail": res["detail"],
    }
    missing = [m for m in END_TO_END if m not in e2e]
    failed = res["failed"] + len(missing)
    attempted = max(res["attempted"], failed, 1)
    detail["error_rate"] = failed / attempted
    if missing:
        detail["missing_metrics"] = missing

    if traced:
        jobs = trace.fold_event_log(run.sub("eventlog"))
        layers = {
            "session.start_s": tracer.first_s.get("session", 0.0),
            "tables.load_s": harness.median(setup["load_tables_s"]),
        }
        if workload == "batch":
            layers.update(trace.batch_layers(tracer, jobs))
        else:
            from perfbench import stream

            layers.update(trace.stream_layers(tracer, jobs, res["phases"], stream.RATE))
        units = per_layer()
        detail["not_exercised"] = [n for n in units if not layers.get(n)]
        detail["unreported_layers"] = {k: v for k, v in layers.items() if k not in units}
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in units.items()}
        detail["trace_overhead"] = _overhead(workload, e2e, SF, seconds)
    else:
        metrics = {m: {"value": float(e2e[m]), "unit": END_TO_END[m]} for m in END_TO_END if m in e2e}
    _save(_last_path(workload, traced), detail)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not harness.engine_present():
        print("perfbench: the engine (flink_essentials_spark/, tools/check_correctness.py) "
              f"is not in {harness.ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    run = harness.RunDir()
    try:
        result, detail = run_workload(args.workload, args.seed, args.seconds,
                                      bool(args.trace), run)
    finally:
        run.close()
    print(json.dumps({"detail": detail}, default=str), file=sys.stderr, flush=True)
    print(json.dumps(result), flush=True)
    return 0 if not detail.get("missing_metrics") else 1


if __name__ == "__main__":
    raise SystemExit(main())
