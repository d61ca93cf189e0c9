"""State-partition sizing at the sinks: every query a sink starts runs
its stateful operators on ~64k rows per partition per batch of the
sources' volume, clamped to [1, the session's count]; a source with no
known volume keeps the session's count, and the session's conf is
untouched after ``start()``."""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from flink_essentials_spark.operators import joins, windows
from flink_essentials_spark.sinks.sinks import for_each_batch
from flink_essentials_spark.sources.streaming import file_replay, rate_source
from flink_essentials_spark.streaming.watermarks import with_event_time

PARTS = "spark.sql.shuffle.partitions"


def wait_batches(rec, query_id, n: int, timeout: float = 90.0) -> list[dict]:
    """The first ``n`` batches a metrics.ProgressRecorder recorded for
    ``query_id`` (a query id or run id), waiting for the asynchronous
    progress events."""
    deadline = time.time() + timeout
    while len(rec.batches(query_id)) < n and time.time() < deadline:
        time.sleep(0.1)
    got = rec.batches(query_id)
    assert len(got) >= n, f"only {len(got)} of {n} batches recorded"
    return got[:n]


def state_partitions(batches: list[dict]) -> set[int]:
    parts = {op["numShufflePartitions"] for b in batches for op in b["stateOperators"]}
    assert parts, "no stateful operator reported"
    return parts


def distinct_keys(sdf):
    """A stateful append-mode frame: the first row of every key."""
    return sdf.select((F.col("value") % 10).alias("k")).dropDuplicates(["k"])


def drain(df, batch_id):
    """Run the whole batch (Spark fails a batch whose state stores
    were not all committed)."""
    df.write.format("noop").mode("append").save()


def test_for_each_batch_sizes_rate_micro_batch_query(spark, recorder, tmp_path):
    """rowsPerBatch = 2 * 64k + 1 needs 3 partitions: the query and its
    offset log run at 3 while the session keeps its own count."""
    ckpt = str(tmp_path / "ckpt")
    session_parts = spark.conf.get(PARTS)
    q = for_each_batch(distinct_keys(rate_source(spark, 2 * 65536 + 1, micro_batch=True)),
                       drain, checkpoint=ckpt)
    try:
        assert spark.conf.get(PARTS) == session_parts
        batches = wait_batches(recorder, q.runId, 1)
    finally:
        q.stop()
    assert state_partitions(batches) == {3}
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        metadata = json.loads(f.read().splitlines()[1])
    assert metadata["conf"][PARTS] == "3"


def test_file_replay_sized_from_footers(spark, recorder, tmp_path):
    """Parquet replay: maxFilesPerTrigger (2) x footer rows per file
    (40 000) = 80 000 rows per batch -> 2 partitions."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        pq.write_table(pa.table({"value": pa.array(range(i * 40_000, (i + 1) * 40_000), pa.int64())}),
                       os.path.join(src, f"{i}.parquet"))
    q = for_each_batch(distinct_keys(file_replay(spark, src, "value long", files_per_trigger=2)),
                       drain, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        batches = wait_batches(recorder, q.runId, 2)
    finally:
        q.stop()
    assert state_partitions(batches) == {2}


def test_unknown_volume_keeps_session_count(spark, recorder, tmp_path):
    """A CSV file stream has no footer volume: the session's count."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("".join(f"{i}\n" for i in range(50)))
    sdf = spark.readStream.schema("value long").csv(str(src))
    q = for_each_batch(distinct_keys(sdf), drain, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        batches = wait_batches(recorder, q.runId, 1)
    finally:
        q.stop()
    assert state_partitions(batches) == {int(spark.conf.get(PARTS))}


def start_unsized(spark, sdf, fn, ckpt: str, parts: int):
    """The same query started straight on the writer at ``parts``."""
    prev = spark.conf.get(PARTS)
    spark.conf.set(PARTS, str(parts))
    try:
        return sdf.writeStream.foreachBatch(fn).option("checkpointLocation", ckpt).start()
    finally:
        spark.conf.set(PARTS, prev)


def join_windows(spark):
    """interval join -> tumbling window (append) over rate-micro-batch:
    400 values per batch, 10 ms of event time per value, keys 0..6."""
    src = rate_source(spark, 400, micro_batch=True)
    base = src.select(
        F.col("value").alias("v"),
        F.expr("(value div 2) % 7").alias("key"),
        F.timestamp_millis(F.lit(1_700_000_000_000) + F.col("value") * 10).alias("ts"),
    )
    left = with_event_time(
        base.where("v % 2 = 0").selectExpr("key AS lkey", "ts AS lts", "v AS lv"), "lts", "500 milliseconds"
    )
    right = with_event_time(
        base.where("v % 2 = 1").selectExpr("key AS rkey", "ts AS rts", "v AS rv"), "rts", "500 milliseconds"
    )
    joined = joins.interval_join(left, right, "lkey", "rkey", "lts", "rts",
                                 lower="1 second", upper="1 second")
    return windows.window_agg(
        joined, windows.tumbling("lts", "1 second"), ["lkey"],
        F.count(F.lit(1)).alias("n"), F.sum("rv").alias("srv"), F.max("lv").alias("mlv"),
    ).select(F.unix_millis("window_start").alias("ws"), "lkey", "n", "srv", "mlv")


def test_sized_and_unsized_emit_identical_windows(spark, recorder, tmp_path):
    """The stream benchmark's shape emits the same windows in its first
    four batches on the sized count (1) as on 4 partitions."""
    n_batches = 4

    def run(start):
        out: dict[int, list] = {}

        def collect(df, batch_id):
            out[batch_id] = [tuple(r) for r in df.collect()]

        q = start(collect)
        try:
            deadline = time.time() + 120
            while not all(b in out for b in range(n_batches)) and time.time() < deadline:
                assert q.isActive, q.exception()
                time.sleep(0.1)
            batches = wait_batches(recorder, q.runId, n_batches)
        finally:
            q.stop()
        rows = sorted(r for b in range(n_batches) for r in out[b])
        return rows, state_partitions(batches)

    sized, sized_parts = run(lambda fn: for_each_batch(join_windows(spark), fn,
                                                       checkpoint=str(tmp_path / "sized")))
    unsized, unsized_parts = run(lambda fn: start_unsized(spark, join_windows(spark), fn,
                                                          str(tmp_path / "unsized"), 4))
    assert sized_parts == {1} and unsized_parts == {4}
    assert sized, "no window was emitted"
    assert sized == unsized
