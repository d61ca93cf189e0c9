"""Per-layer tracing, used only by ``--trace 1`` runs.

Three sources, all from outside the engine:

- wrappers around the public functions of the engine's modules (and
  ``DataFrame.localCheckpoint``), installed into every module that
  bound them, counting calls and timing the outermost entry per layer;
- Spark's event log, written uncompressed to the run directory and
  folded into per-job totals after the session stops (each batch
  query runs its build and execute steps under its own job group);
- a ``StreamingQueryListener`` that keeps every progress report.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from perfbench import harness

FUNCTION_MODULES = (
    "dedup", "similarity", "graph", "text", "approx", "timeseries",
    "analytics", "sampling", "multimodal",
)
OPERATOR_MODULES = ("windows", "joins", "stateful", "triggers", "aggregate")
QUERY_MODULES = ("catalog", "relational", "dataflow", "llmdata")


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    enabled = False

    def job_group(self, group: str) -> None:
        pass

    def pass_begin(self) -> None:
        pass

    def pass_end(self, runs: list) -> None:
        pass


@dataclass
class PassRecord:
    calls: Counter
    secs: Counter
    queries: list  # (label, build_s, exec_s)


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.calls: Counter = Counter()
        self.secs: Counter = Counter()
        self.first_s: dict[str, float] = {}
        self.passes: list[PassRecord] = []
        self.progress: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._snap: tuple[Counter, Counter] | None = None
        self._spark = None
        self._listener = None

    # -- wrappers ----------------------------------------------------
    def _wrap(self, key: str, fn, count_true: bool = False):
        tracer = self

        def wrapper(*args, **kwargs):
            depth = getattr(tracer._local, key, 0)
            if depth:
                with tracer._lock:
                    tracer.calls[key] += 1
                return fn(*args, **kwargs)
            setattr(tracer._local, key, 1)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                setattr(tracer._local, key, 0)
                with tracer._lock:
                    tracer.calls[key] += 1
                    tracer.secs[key] += dt
                    tracer.first_s.setdefault(key, dt)
            if count_true and out is True:
                with tracer._lock:
                    tracer.calls[key + ".true"] += 1
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", key)
        wrapper.__qualname__ = getattr(fn, "__qualname__", key)
        wrapper.__doc__ = fn.__doc__
        return wrapper

    def install(self) -> None:
        """Wrap the layers' public functions everywhere they are bound."""
        pkg = "flink_essentials_spark"
        targets: list[tuple[str, object, bool]] = []

        def public(mod) -> list:
            return [
                f for n, f in vars(mod).items()
                if inspect.isfunction(f) and f.__module__ == mod.__name__ and not n.startswith("_")
            ]

        session = importlib.import_module(f"{pkg}.session")
        tables = importlib.import_module(f"{pkg}.tables")
        routing = importlib.import_module(f"{pkg}.routing")
        targets += [
            ("session", session.get_spark, False),
            ("tables.load", tables.load_tables, False),
            ("tables.stats", tables.table_rows, False),
            ("tables.stats", tables.ts_bounds_ms, False),
            ("routing", routing.single_task_ok, True),
        ]
        for m in FUNCTION_MODULES:
            mod = importlib.import_module(f"{pkg}.functions.{m}")
            targets += [(f"functions.{m}", f, False) for f in public(mod)]
        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"{pkg}.operators.{m}")
            targets += [(f"operators.{m}", f, False) for f in public(mod)]
        sinks = importlib.import_module(f"{pkg}.sinks.sinks")
        targets += [("sinks", f, False) for f in public(sinks)]
        for m in QUERY_MODULES:
            importlib.import_module(f"{pkg}.queries.{m}")

        engine = [
            mod for name, mod in list(sys.modules.items())
            if mod is not None and (name == pkg or name.startswith(pkg + "."))
        ]
        for key, fn, count_true in targets:
            wrapped = self._wrap(key, fn, count_true)
            for mod in engine:
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        setattr(mod, attr, wrapped)

        from pyspark.sql.classic.dataframe import DataFrame

        DataFrame.localCheckpoint = self._wrap("checkpoint", DataFrame.localCheckpoint)

    # -- hooks used by the workloads ---------------------------------
    def attach(self, spark) -> None:
        """Bind to the session the workload measures and listen to its
        streaming queries."""
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.progress
        lock = self._lock

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with lock:
                    sink.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def detach(self) -> None:
        if self._spark is not None and self._listener is not None:
            time.sleep(0.5)  # let the last progress events arrive
            self._spark.streams.removeListener(self._listener)
            self._listener = None

    def job_group(self, group: str) -> None:
        self._spark.sparkContext.setJobGroup(group, group)

    def pass_begin(self) -> None:
        with self._lock:
            self._snap = (Counter(self.calls), Counter(self.secs))

    def pass_end(self, runs: list) -> None:
        with self._lock:
            calls0, secs0 = self._snap
            self.passes.append(PassRecord(
                calls=self.calls - calls0,
                secs=self.secs - secs0,
                queries=[(r.item.label, r.build_s, r.exec_s) for r in runs if r.error is None],
            ))


# -- Spark event log -------------------------------------------------

ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.memoryBytesSpilled": "spill_b",
    "internal.metrics.diskBytesSpilled": "spill_b",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_b",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_b",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "time to run Python workers": "python_ms",
}


@dataclass
class Job:
    group: str
    submit_ms: int
    end_ms: int | None = None
    tasks: int = 0
    stages: set = field(default_factory=set)
    sums: Counter = field(default_factory=Counter)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))


def fold_event_log(log_dir: str) -> list[Job]:
    """Every job of every application log in ``log_dir``, with its
    tasks' totals. Jobs without a group get the group ``""``."""
    jobs: list[Job] = []
    for fname in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, fname)
        if not os.path.isfile(path):
            continue
        by_id: dict[int, Job] = {}
        stage_job: dict[int, Job] = {}
        with open(path) as f:
            for line in f:
                head = line[:60]
                if '"SparkListenerJobStart"' in head:
                    ev = json.loads(line)
                    job = Job(
                        group=(ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                        submit_ms=ev["Submission Time"],
                    )
                    by_id[ev["Job ID"]] = job
                    jobs.append(job)
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, job)
                elif '"SparkListenerJobEnd"' in head:
                    ev = json.loads(line)
                    if ev["Job ID"] in by_id:
                        by_id[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif '"SparkListenerTaskEnd"' in head:
                    ev = json.loads(line)
                    job = stage_job.get(ev["Stage ID"])
                    if job is None:
                        continue
                    info = ev["Task Info"]
                    job.tasks += 1
                    job.stages.add((fname, ev["Stage ID"]))
                    job.stage_tasks[(fname, ev["Stage ID"])].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
                    for acc in info.get("Accumulables", ()):
                        key = ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            try:
                                job.sums[key] += int(acc.get("Update") or 0)
                            except (TypeError, ValueError):
                                pass
    return jobs


def _union_ms(spans: list[tuple[int, int]]) -> float:
    total = 0
    end = None
    for s, e in sorted(spans):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _skew(stage_tasks: dict) -> float:
    """Run-time-weighted mean over multi-task stages of max / median task time."""
    num = den = 0.0
    for durs in stage_tasks.values():
        if len(durs) < 2:
            continue
        med = harness.median(durs)
        if med <= 0:
            continue
        w = sum(durs)
        num += w * max(durs) / med
        den += w
    return num / den if den else 1.0


def spark_metrics(jobs: list[Job], n: int) -> dict[str, float]:
    """spark.* per pass (or per micro-batch) over a set of jobs."""
    s: Counter = Counter()
    stage_tasks: dict = {}
    stages: set = set()
    for j in jobs:
        s.update(j.sums)
        stages |= j.stages
        stage_tasks.update(j.stage_tasks)
    n = max(n, 1)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(j.tasks for j in jobs) / n,
        "spark.executor_run_s": s["run_ms"] / 1000 / n,
        "spark.executor_cpu_s": s["cpu_ns"] / 1e9 / n,
        "spark.gc_s": s["gc_ms"] / 1000 / n,
        "spark.shuffle_read_mb": s["shuffle_read_b"] / 1e6 / n,
        "spark.shuffle_write_mb": s["shuffle_write_b"] / 1e6 / n,
        "spark.spill_mb": s["spill_b"] / 1e6 / n,
        "spark.python_s": s["python_ms"] / 1000 / n,
        "spark.task_skew": _skew(stage_tasks),
    }


# -- per-layer metrics -----------------------------------------------

LAYER_KEYS = (
    [f"functions.{m}" for m in FUNCTION_MODULES]
    + [f"operators.{m}" for m in OPERATOR_MODULES]
)


def batch_layers(tracer: Tracer, jobs: list[Job]) -> dict[str, float]:
    """Per-pass averages over the measured passes."""
    passes = tracer.passes
    n = max(len(passes), 1)
    calls: Counter = Counter()
    secs: Counter = Counter()
    for p in passes:
        calls.update(p.calls)
        secs.update(p.secs)
    out: dict[str, float] = {}
    routing_calls = calls["routing"]
    out["routing.calls"] = routing_calls / n
    out["routing.twin_share"] = calls["routing.true"] / routing_calls if routing_calls else 0.0
    out["tables.stats_calls"] = calls["tables.stats"] / n
    out["tables.stats_s"] = secs["tables.stats"] / n
    for key in LAYER_KEYS:
        out[f"{key}.s"] = secs[key] / n
        out[f"{key}.calls"] = calls[key] / n
    out["checkpoint.count"] = calls["checkpoint"] / n
    out["checkpoint.s"] = secs["checkpoint"] / n
    out["sinks.calls"] = calls["sinks"] / n

    build_s = exec_s = driver_s = 0.0
    build_jobs = 0
    by_group: dict[str, list[Job]] = defaultdict(list)
    for j in jobs:
        by_group[j.group].append(j)
    measured: list[Job] = []
    for i, p in enumerate(passes):
        for label, b, e in p.queries:
            jb = by_group.get(f"pass{i}:{label}:build", [])
            je = by_group.get(f"pass{i}:{label}:exec", [])
            measured += jb + je
            build_s += b
            exec_s += e
            build_jobs += len(jb)
            spans = [(j.submit_ms, j.end_ms) for j in jb + je if j.end_ms is not None]
            driver_s += b + e - _union_ms(spans) / 1000
    out["queries.build_s"] = build_s / n
    out["queries.exec_s"] = exec_s / n
    out["queries.build_jobs"] = build_jobs / n
    out.update(spark_metrics(measured, n))
    out["spark.driver_s"] = driver_s / n
    return out


def _median_of(batches: list[dict], fn) -> float:
    vals = [fn(b) for b in batches]
    return harness.median(vals) if vals else 0.0


def _state_sum(b: dict, key: str) -> float:
    return float(sum(op.get(key, 0) or 0 for op in b.get("stateOperators", ())))


def _custom_sum(b: dict, key: str) -> float:
    return float(sum((op.get("customMetrics") or {}).get(key, 0) or 0
                     for op in b.get("stateOperators", ())))


def stream_layers(tracer: Tracer, jobs: list[Job], phases: dict,
                  rate: int) -> dict[str, float]:
    """Per-micro-batch medians over the measured batches of each phase."""
    from perfbench.stream import _ts_s

    by_run: dict[str, list[dict]] = defaultdict(list)
    for p in tracer.progress:
        by_run[p["runId"]].append(p)

    open_loop, sat = phases["open_loop"], phases["saturated"]
    # the listener saw the same reports as recentProgress; prefer its copy
    for phase in (open_loop, sat):
        run_ids = {p["runId"] for p in phase.progress}
        listened = [p for rid in run_ids for p in by_run.get(rid, ())]
        if listened:
            phase.progress = sorted(listened, key=lambda p: p["batchId"])
    ob = open_loop.measured_batches()
    sb = sat.measured_batches()

    def dur(key):
        return lambda b: float(b["durationMs"].get(key, 0))

    # rate-source creation time from the sink rows: a row with value v
    # was due at creation + v / rate
    rows = open_loop.collector.rows
    creation_ms = harness.median([due - mv * 1000 / rate for *_, mv, due in rows]) if rows else None

    def lag(b: dict) -> float:
        start = b["sources"][0].get("startOffset")
        start_s = float(start) if start not in (None, "null") else 0.0
        return _ts_s(b["timestamp"]) * 1000 - (creation_ms + start_s * 1000)

    inputs = sum(int(b["numInputRows"]) for b in ob)
    dropped = sum(_state_sum(b, "numRowsDroppedByWatermark") for b in ob)
    hits = sum(_custom_sum(b, "loadedMapCacheHitCount") for b in ob)
    misses = sum(_custom_sum(b, "loadedMapCacheMissCount") for b in ob)
    out = {
        "stream.batch_ms": _median_of(ob, dur("triggerExecution")),
        "stream.planning_ms": _median_of(ob, dur("queryPlanning")),
        "stream.add_batch_ms": _median_of(ob, dur("addBatch")),
        "stream.wal_ms": _median_of(ob, lambda b: dur("walCommit")(b) + dur("commitOffsets")(b)),
        "stream.source_ms": _median_of(ob, lambda b: dur("latestOffset")(b) + dur("getBatch")(b)),
        "stream.lag_ms": _median_of(ob, lag) if creation_ms is not None else 0.0,
        "stream.late_share": dropped / inputs if inputs else 0.0,
        "state.commit_ms": _median_of(ob, lambda b: _state_sum(b, "commitTimeMs")),
        "state.updates_ms": _median_of(ob, lambda b: _state_sum(b, "allUpdatesTimeMs")),
        "state.rows_total": _median_of(ob, lambda b: _state_sum(b, "numRowsTotal")),
        "state.memory_mb": _median_of(ob, lambda b: _state_sum(b, "memoryUsedBytes") / 1e6),
        "state.cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "sinks.callback_ms": harness.median(open_loop.collector.callback_ms)
        if open_loop.collector.callback_ms else 0.0,
        "sat.batch_ms": _median_of(sb, dur("triggerExecution")),
        "sat.add_batch_ms": _median_of(sb, dur("addBatch")),
        "sat.commit_ms": _median_of(sb, lambda b: _state_sum(b, "commitTimeMs")),
    }
    # the pipeline is built and started once per phase
    for key in LAYER_KEYS:
        out[f"{key}.s"] = tracer.secs[key] / len(phases)
        out[f"{key}.calls"] = tracer.calls[key] / len(phases)
    out["sinks.calls"] = tracer.calls["sinks"] / len(phases)
    # Spark jobs submitted during each of the open loop's measured batches;
    # driver time is the batch's wall time not covered by a job
    in_batches: list[Job] = []
    driver_ms: list[float] = []
    for b in ob:
        lo = _ts_s(b["timestamp"]) * 1000
        hi = lo + b["durationMs"]["triggerExecution"]
        mine = [j for j in jobs if lo <= j.submit_ms <= hi]
        in_batches += mine
        spans = [(j.submit_ms, min(j.end_ms, hi)) for j in mine if j.end_ms is not None]
        driver_ms.append(hi - lo - _union_ms(spans))
    if ob:
        out.update(spark_metrics(in_batches, len(ob)))
        out["spark.driver_s"] = harness.median(driver_ms) / 1000
    return out
