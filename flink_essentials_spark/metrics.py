"""Pipeline observability — the reference's metrics-system analog
(Flink exposes counters/gauges per operator; Metrics in the tutorials
appear through the web UI). Spark's native mechanism is
``Dataset.observe``: named aggregate metrics evaluated DURING the job
(no extra pass, no extra scan), surfaced through ``Observation`` in
batch and ``StreamingQueryProgress.observedMetrics`` in streaming.
``ProgressRecorder`` keeps where each micro-batch's time went.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql.streaming import StreamingQueryListener

_STATE_FIELDS = ("operatorName", "commitTimeMs", "numShufflePartitions", "memoryUsedBytes")


def observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach named metrics to a BATCH frame: returns (df, observation);
    run any action on the returned frame, then read ``observation.get``
    — a dict of metric name → value computed inside the same job.

    Example::

        df2, obs = observed(df, n_rows=F.count(F.lit(1)),
                            null_keys=F.sum(F.col("k").isNull().cast("long")))
        df2.write.parquet(path)
        assert obs.get["null_keys"] == 0   # data-quality gate, free
    """
    obs = Observation()
    return df.observe(obs, *[m.alias(k) for k, m in metrics.items()]), obs


def observed_stream(df: DataFrame, name: str, **metrics: Column) -> DataFrame:
    """Attach named metrics to a STREAMING frame under ``name``; every
    micro-batch's values arrive in
    ``query.lastProgress["observedMetrics"][name]`` (and the progress
    history) — per-batch data-quality counters without a second
    aggregation in the plan."""
    return df.observe(name, *[m.alias(k) for k, m in metrics.items()])


class ProgressRecorder(StreamingQueryListener):
    """Per-batch progress of every streaming query on a session
    (``spark.streams.addListener(rec)``): each micro-batch's
    ``durationMs`` breakdown and, per stateful operator, its
    ``commitTimeMs``, ``numShufflePartitions`` and ``memoryUsedBytes``.
    Events arrive asynchronously, shortly after each batch."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        batch = {k: p[k] for k in ("id", "runId", "batchId", "numInputRows", "durationMs")}
        batch["stateOperators"] = [
            {k: op.get(k) for k in _STATE_FIELDS} for op in p.get("stateOperators", [])
        ]
        with self._lock:
            self._batches.append(batch)

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query_id=None) -> list[dict]:
        """Recorded batches in arrival order, or only one query's: its
        ``id`` (every run from its checkpoint) or one run's ``runId``."""
        with self._lock:
            return [b for b in self._batches if query_id is None or str(query_id) in (b["id"], b["runId"])]
