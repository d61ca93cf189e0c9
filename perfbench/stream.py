"""The ``stream`` workload: an open-loop event-time pipeline.

Pipeline, built only from the engine's public functions::

    rate_source ──► left  (even values) ─ with_event_time ─┐
                └─► right (odd values)  ─ with_event_time ─┴► interval_join
        ► window_agg(tumbling 1 s, keyed) ► for_each_batch (append)

Every field is a pure function of the rate source's ``value`` counter:
event time advances ``STEP_US`` per value, one value in eight is pulled
back by up to 400 ms (out of order, but inside the 500 ms watermark
bound, so no row is dropped and the result is deterministic), and the
seed picks the key mapping, the hot key and its share. The rate
source's ``timestamp`` column is the time each row was due, which the
sink turns into latency.

The closed-loop phase runs first, on ``rate-micro-batch`` with
``ROWS_PER_BATCH`` rows per trigger: its first micro-batch in the fresh
session is the cold pass, and ``SATURATED_BATCHES`` settled micro-batches
give the batch time at saturation. The open-loop phase then runs the
same pipeline at a fixed ``RATE`` below saturation and measures latency
for ``--seconds``. Each phase skips its first ``SKIP_BATCHES`` data
batches before measuring. Both phases' emitted windows are compared
with a DuckDB recomputation over the values each phase consumed.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import threading
import time
from dataclasses import dataclass, field

from perfbench import harness

RATE = 1000
ROWS_PER_BATCH = 5_000
KEYS = 200
WINDOW = "1 second"
WINDOW_US = 1_000_000
DELAY = "500 milliseconds"
JOIN_BOUND = "1 second"
JOIN_US = 1_000_000
EPOCH_US = 1_700_000_000_000_000
STEP_US = 1_000_000 // RATE
LATE_MOD = 8
MAX_SHIFT_US = 400_000
SKIP_BATCHES = {"saturated": 3, "open": 2}
SCANS = 2  # the source is scanned once per join side
# Values past those the progress reports count: a batch the final stop
# interrupts may have reached the sink without a progress report. Later
# values cannot change a window the watermark has closed (no row is
# later than the watermark bound), so recomputing over extra values is
# exact for every emitted window.
CHECK_MARGIN = 20_000
MIN_BATCHES = 3
SATURATED_BATCHES = 5
# a phase that has not warmed up, or not finished its batches, by these
# times is measured as it stands and flagged unsteady in the detail
WARM_MAX_S = 45.0
PHASE_MAX_S = 75.0


@dataclass(frozen=True)
class KeyMap:
    """Seeded key mapping; ``p`` is the pair index ``value div 2`` so the
    left and right streams share keys."""

    m1: int
    b1: int
    m2: int
    b2: int
    b3: int
    m4: int
    hot_key: int
    hot_permille: int

    @classmethod
    def from_seed(cls, seed: int) -> "KeyMap":
        rng = random.Random(seed)

        def unit() -> int:  # coprime to 1000 (and so to KEYS = 200)
            while True:
                m = rng.randrange(1_001, 999_999)
                if m % 2 and m % 5:
                    return m

        return cls(
            m1=unit(), b1=rng.randrange(1000), m2=unit(), b2=rng.randrange(KEYS),
            b3=rng.randrange(LATE_MOD), m4=unit(), hot_key=rng.randrange(KEYS),
            hot_permille=rng.randrange(25, 36),
        )

    def key_sql(self, p: str) -> str:
        return (
            f"CASE WHEN ({p} * {self.m1} + {self.b1}) % 1000 < {self.hot_permille} "
            f"THEN {self.hot_key} ELSE ({p} * {self.m2} + {self.b2}) % {KEYS} END"
        )

    def ts_us_sql(self, v: str) -> str:
        return (
            f"{EPOCH_US} + {v} * {STEP_US} - CASE WHEN ({v} + {self.b3}) % {LATE_MOD} = 0 "
            f"THEN ({v} * {self.m4}) % {MAX_SHIFT_US} ELSE 0 END"
        )


def pipeline(src, km: KeyMap):
    """The measured streaming job over a rate/rate-micro-batch frame."""
    from pyspark.sql import functions as F

    from flink_essentials_spark.operators import joins, windows
    from flink_essentials_spark.streaming import watermarks

    base = src.select(
        F.col("value").alias("v"),
        F.col("timestamp").alias("due"),
        F.expr(km.key_sql("(value div 2)")).alias("key"),
        F.timestamp_micros(F.expr(km.ts_us_sql("value"))).alias("ts"),
    )
    left = watermarks.with_event_time(
        base.where("v % 2 = 0").selectExpr("key AS lkey", "ts AS lts", "v AS lv", "due AS ldue"),
        "lts", DELAY,
    )
    right = watermarks.with_event_time(
        base.where("v % 2 = 1").selectExpr("key AS rkey", "ts AS rts", "v AS rv", "due AS rdue"),
        "rts", DELAY,
    )
    joined = joins.interval_join(
        left, right, "lkey", "rkey", "lts", "rts", lower=JOIN_BOUND, upper=JOIN_BOUND
    )
    out = windows.window_agg(
        joined,
        windows.tumbling("lts", WINDOW),
        ["lkey"],
        F.count(F.lit(1)).alias("n"),
        F.sum("rv").alias("srv"),
        F.max(F.greatest("lv", "rv")).alias("mv"),
        F.max(F.greatest("ldue", "rdue")).alias("due"),
    )
    return out.select(
        F.unix_millis("window_start").alias("ws"),
        F.col("lkey").alias("k"),
        "n", "srv", "mv",
        F.unix_millis("due").alias("due_ms"),
    )


def expected_windows(km: KeyMap, n_values: int) -> dict[tuple[int, int], tuple[int, int, int]]:
    """DuckDB recomputation of the pipeline over values ``0..n_values-1``:
    (window start ms, key) -> (n, srv, mv)."""
    import duckdb

    sql = f"""
    WITH ev AS (
        SELECT v, {km.key_sql('(v // 2)')} AS key, {km.ts_us_sql('v')} AS ts
        FROM (SELECT range AS v FROM range({n_values}))
    ),
    l AS (SELECT key, ts AS lts, v AS lv, lts // {JOIN_US} AS b FROM ev WHERE v % 2 = 0),
    r AS (
        SELECT key, ts AS rts, v AS rv, rts // {JOIN_US} + d AS b
        FROM ev, (VALUES (-1), (0), (1)) AS shift(d) WHERE v % 2 = 1
    )
    SELECT (lts // {WINDOW_US}) * {WINDOW_US // 1000} AS ws, l.key AS k,
           count(*) AS n, sum(rv) AS srv, max(greatest(lv, rv)) AS mv
    FROM l JOIN r ON l.key = r.key AND l.b = r.b
        AND lts > rts - {JOIN_US} AND lts < rts + {JOIN_US}
    GROUP BY ALL
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        rows = con.sql(sql).fetchall()
    finally:
        con.close()
    return {(int(ws), int(k)): (int(n), int(s), int(mv)) for ws, k, n, s, mv in rows}


def check_windows(
    emitted: dict[tuple[int, int], tuple[int, int, int]],
    expected: dict[tuple[int, int], tuple[int, int, int]],
) -> tuple[int, int, list]:
    """(attempted, failed, examples): every emitted row must equal the
    recomputation, and every expected window up to the last emitted
    window start must have been emitted."""
    if not emitted:
        return 1, 1, ["no window was emitted"]
    horizon = max(ws for ws, _ in emitted)
    due = {key for key in expected if key[0] <= horizon}
    bad = [key for key in emitted if expected.get(key) != emitted[key]]
    missing = sorted(due - emitted.keys())
    examples = [
        {"window": key, "got": emitted[key], "want": expected.get(key)} for key in bad[:3]
    ] + [{"window": key, "missing": True} for key in missing[:3]]
    return len(emitted) + len(missing), len(bad) + len(missing), examples


class Collector:
    """foreachBatch sink: collects each micro-batch and stamps receipt."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []  # (receipt_s, ws, k, n, srv, mv, due_ms)
        self.callback_ms: list[float] = []
        self.duplicates = 0
        self._seen: set[tuple[int, int]] = set()
        self._lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        rows = harness.tamper(df.collect())
        t_recv = time.time()
        with self._lock:
            for r in rows:
                key = (r.ws, r.k)
                if key in self._seen:
                    self.duplicates += 1
                self._seen.add(key)
                self.rows.append((t_recv, r.ws, r.k, r.n, r.srv, r.mv, r.due_ms))
            self.callback_ms.append((time.time() - t0) * 1000)

    def windows(self) -> dict[tuple[int, int], tuple[int, int, int]]:
        with self._lock:
            return {(ws, k): (n, s, mv) for _, ws, k, n, s, mv, _ in self.rows}


def _progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _ts_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class Phase:
    started_at: float
    start_call_s: float
    collector: Collector
    skip: int
    measure_from: float | None = None
    steady: bool = True
    progress: list[dict] = field(default_factory=list)
    error: str | None = None
    stop_exception: str | None = None

    def values_read(self) -> int:
        """Source rows consumed. The pipeline scans the source once per
        join side, so every batch reports each row twice."""
        return sum(int(p.get("numInputRows", 0)) for p in self.progress) // SCANS

    def data_batches(self) -> list[dict]:
        return [p for p in self.progress if int(p.get("numInputRows", 0)) > 0]

    def batch_end(self, p: dict) -> float:
        return _ts_s(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000

    def measured_batches(self) -> list[dict]:
        return self.data_batches()[self.skip:]


def run_phase(spark, run: harness.RunDir, km: KeyMap, *, micro_batch: bool,
              seconds: float, min_batches: int, name: str) -> Phase:
    """Start the pipeline, let ``SKIP_BATCHES[name]`` data batches pass
    (the cold first batch, the backlog it leaves, and JIT warm-up), then
    measure for ``seconds`` and at least ``min_batches`` batches."""
    from flink_essentials_spark.sinks import sinks
    from flink_essentials_spark.sources import streaming

    rate = ROWS_PER_BATCH if micro_batch else RATE
    collector = Collector()
    t0 = time.time()
    query = sinks.for_each_batch(
        pipeline(streaming.rate_source(spark, rate, micro_batch=micro_batch), km),
        collector,
        checkpoint=run.sub(f"ckpt/{name}"),
    )
    skip = SKIP_BATCHES[name]
    phase = Phase(started_at=t0, start_call_s=time.time() - t0, collector=collector, skip=skip)
    while query.isActive:
        now = time.time()
        data = [p for p in _progress_dicts(query) if int(p.get("numInputRows", 0)) > 0]
        if phase.measure_from is None:
            if len(data) >= skip:
                phase.measure_from = phase.batch_end(data[skip - 1])
            elif now - t0 > WARM_MAX_S:
                phase.measure_from, phase.steady = now, False
        elif now >= phase.measure_from + seconds and len(data) >= skip + min_batches:
            break
        elif now - t0 > PHASE_MAX_S:
            phase.steady = False
            break
        time.sleep(0.1)
    died = not query.isActive
    query.stop()
    exc = query.exception()
    if exc is not None:
        # Stopping interrupts the batch in flight, which Spark may report
        # as the query's exception; only a query that ended by itself failed.
        if died:
            phase.error = str(exc)[:500]
        else:
            phase.stop_exception = str(exc)[:200]
    phase.progress = _progress_dicts(query)
    if phase.measure_from is None:
        phase.measure_from = time.time()
    return phase


def measure(spark, run: harness.RunDir, seed: int, seconds: float) -> dict:
    """Run both phases; return end-to-end metrics, checks and detail."""
    km = KeyMap.from_seed(seed)
    # the closed loop runs first: its first micro-batch pays the cold
    # start (planning, codegen, state-store set-up) at a fixed size
    closed = run_phase(spark, run, km, micro_batch=True, seconds=0.0,
                       min_batches=SATURATED_BATCHES, name="saturated")
    open_loop = run_phase(spark, run, km, micro_batch=False, seconds=seconds,
                          min_batches=MIN_BATCHES, name="open")

    attempted = failed = 0
    checks = {}
    for label, ph in (("open_loop", open_loop), ("saturated", closed)):
        if ph.error:
            attempted += 1
            failed += 1
            checks[label] = {"error": ph.error}
            continue
        a, f, ex = check_windows(
            ph.collector.windows(), expected_windows(km, ph.values_read() + CHECK_MARGIN)
        )
        f += ph.collector.duplicates
        attempted += a
        failed += f
        checks[label] = {"rows": a, "wrong_or_missing": f, "duplicates": ph.collector.duplicates,
                         "values_read": ph.values_read(), "examples": ex,
                         "stop_exception": ph.stop_exception}

    # latency: receipt minus the due time of the last contributing event,
    # for rows received after the warm-up
    lat = [
        (t_recv - due_ms / 1000) * 1000
        for t_recv, _, _, _, _, _, due_ms in open_loop.collector.rows
        if t_recv >= open_loop.measure_from
    ]
    first_data = next(iter(closed.data_batches()), None)
    batches = closed.measured_batches()
    batch_s = [p["durationMs"]["triggerExecution"] / 1000 for p in batches]
    metrics = {}
    detail = {"keymap": km.__dict__, "rate_rows_per_s": RATE, "rows_per_batch": ROWS_PER_BATCH,
              "checks": checks}
    if lat:
        p_tail, tail = harness.tail_percentile(lat)
        metrics["latency_p50_ms"] = harness.median(lat)
        metrics["latency_tail_ms"] = tail
        detail.update(latency_samples=len(lat), latency_tail_percentile=p_tail,
                      latency_max_ms=max(lat))
    if first_data is not None:
        metrics["cold_pass_s"] = closed.batch_end(first_data) - closed.started_at
    if batch_s:
        metrics["pass_s"] = harness.median(batch_s)
        rows_per_batch = harness.median([int(p["numInputRows"]) // SCANS for p in batches])
        detail.update(
            saturated_batches=len(batch_s),
            saturated_rows_per_batch=rows_per_batch,
            sat_rows_per_s=rows_per_batch / harness.median(batch_s),
            batch_s_drift=harness.drift(batch_s),
        )
    detail["steady"] = {"open_loop": open_loop.steady, "saturated": closed.steady}
    detail["warmup_s"] = {
        "open_loop": open_loop.measure_from - open_loop.started_at,
        "saturated": closed.measure_from - closed.started_at,
    }
    detail["saturated_batch_ms"] = [p["durationMs"]["triggerExecution"] for p in closed.data_batches()]
    detail["open_loop_batch_ms"] = [p["durationMs"]["triggerExecution"] for p in open_loop.data_batches()]
    open_batches = open_loop.measured_batches()
    detail["open_loop_batches"] = len(open_batches)
    detail["open_loop_rows_per_s"] = (
        sum(int(p["numInputRows"]) // SCANS for p in open_batches)
        / max(1e-9, sum(p["durationMs"]["triggerExecution"] for p in open_batches) / 1000)
    )
    return {
        "metrics": metrics,
        "attempted": attempted,
        "failed": failed,
        "detail": detail,
        "phases": {"open_loop": open_loop, "saturated": closed},
    }
