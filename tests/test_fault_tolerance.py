"""Fault-tolerance contract (reference KeyedState.scala:62-74): keyed
state survives a restart and is restored per key — Spark's checkpointed
state store. Plus the checkpointed sinks (K3) and foreachBatch (K4)."""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import functions as F

from flink_essentials_spark import fixtures
from flink_essentials_spark.schemas import SHOPPING_CART_EVENT_SCHEMA
from flink_essentials_spark.sinks.sinks import for_each_batch, to_files
from flink_essentials_spark.sources.streaming import file_replay


def test_state_survives_query_restart(spark, tmp_path):
    """Run a keyed streaming count with a checkpoint, stop it, add more
    data, restart THE SAME query from the checkpoint: counts continue
    from restored state instead of starting over."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_name = "restart_" + uuid.uuid4().hex[:8]

    first = fixtures.shopping_cart_events(spark, 10)   # 2 events/user
    first.coalesce(1).write.parquet(src)

    def start(name):
        sdf = file_replay(spark, src, SHOPPING_CART_EVENT_SCHEMA, files_per_trigger=10)
        counts = sdf.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
        return (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start(out_name)
    q.processAllAvailable()
    got1 = {r["user_id"]: r["cnt"] for r in spark.table(out_name).collect()}
    q.stop()
    assert got1 == {u: 2 for u in ("Bob", "Alice", "Sam", "Tom", "Rob")}

    # 10 more events while the query is DOWN
    more = fixtures.shopping_cart_events(spark, 20).filter(F.col("quantity") >= 0)
    more.exceptAll(first).coalesce(1).write.mode("append").parquet(src)

    out_name2 = "restart2_" + uuid.uuid4().hex[:8]
    q2 = start(out_name2)
    q2.processAllAvailable()
    got2 = {r["user_id"]: r["cnt"] for r in spark.table(out_name2).collect()}
    q2.stop()
    # restored state + only the NEW file processed → cumulative 4 per user
    assert got2 == {u: 4 for u in ("Bob", "Alice", "Sam", "Tom", "Rob")}


def test_available_now_trigger_batch_drain_and_continuation(spark, tmp_path):
    """Trigger.AvailableNow — the scheduled-drain mode a production
    ingest loop runs (start, drain everything available, STOP ON ITS
    OWN, cron restarts later): the query terminates by itself after
    consuming all current input, and a later run from the same
    checkpoint picks up exactly the files that arrived in between —
    incremental, no reprocessing."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    first = fixtures.shopping_cart_events(spark, 10)  # 2 events/user
    first.coalesce(1).write.parquet(src)

    def drain(name):
        sdf = file_replay(spark, src, SHOPPING_CART_EVENT_SCHEMA)
        counts = sdf.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
        q = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # availableNow terminates ON ITS OWN — that IS the contract
        assert q.awaitTermination(120)
        return {r["user_id"]: r["cnt"] for r in spark.table(name).collect()}

    got1 = drain("an1_" + uuid.uuid4().hex[:8])
    assert got1 == {u: 2 for u in ("Bob", "Alice", "Sam", "Tom", "Rob")}

    more = fixtures.shopping_cart_events(spark, 20).exceptAll(first)
    more.coalesce(1).write.mode("append").parquet(src)
    got2 = drain("an2_" + uuid.uuid4().hex[:8])
    assert got2 == {u: 4 for u in ("Bob", "Alice", "Sam", "Tom", "Rob")}


def test_custom_processor_state_survives_restart(spark, tmp_path):
    """The KeyedState restore contract for CUSTOM state (pickled dict in
    the state store, not a built-in agg): a count trigger that buffered
    7 elements before shutdown fires at 10 after restart — impossible
    unless the pickled buffer was restored from the checkpoint."""
    from flink_essentials_spark.operators.stateful import keyed_process
    from flink_essentials_spark.operators.triggers import (
        COUNT_FIRE_SCHEMA,
        CountTriggerProcessor,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    first = fixtures.shopping_cart_events(spark, 7).withColumn(
        "user_id", F.lit("K")
    )
    first.coalesce(1).write.parquet(src)

    out_dir = str(tmp_path / "out")

    def run_once():
        # memory sink can't recover from a checkpoint (append mode);
        # the file sink is the recovery-capable one (K3)
        sdf = file_replay(spark, src, SHOPPING_CART_EVENT_SCHEMA, files_per_trigger=10)
        out = keyed_process(
            sdf, ["user_id"], CountTriggerProcessor(10, purge=False),
            COUNT_FIRE_SCHEMA, timeout="none",
            event_time_col="time", output_mode="append",
        )
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    assert spark.read.parquet(out_dir).count() == 0  # 7 < 10: buffered

    more = fixtures.shopping_cart_events(spark, 12).withColumn(
        "user_id", F.lit("K")
    )
    # 5 new events (ids 7..11) arrive while the query is down
    more.filter(F.col("quantity") >= 7).coalesce(1).write.mode("append").parquet(src)

    run_once()
    fired = [
        (r["fire_seq"], r["cnt_in_fire"], r["total_seen"])
        for r in spark.read.parquet(out_dir).collect()
    ]
    assert fired == [(1, 10, 10)]  # restored 7 + 3 new → fire at 10


def test_streaming_file_sink_exactly_once_on_restart(spark, tmp_path):
    """K3: the checkpointed file sink's manifest makes restarts
    exactly-once — re-running from the same checkpoint never
    double-writes a batch."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    fixtures.shopping_cart_events(spark, 10).coalesce(1).write.parquet(src)

    def run_once():
        sdf = file_replay(spark, src, SHOPPING_CART_EVENT_SCHEMA, files_per_trigger=10)
        q = to_files(sdf.select("sku", "quantity"), out, checkpoint=ckpt)
        q.processAllAvailable()
        q.stop()

    run_once()
    run_once()  # restart from same checkpoint: no new input → no new rows
    assert spark.read.parquet(out).count() == 10


def test_foreach_batch_sink(spark, tmp_path):
    """K4 addSink(fn): arbitrary per-batch sink with batch ids."""
    src = str(tmp_path / "src")
    fixtures.shopping_cart_events(spark, 10).coalesce(1).write.parquet(src)
    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    sdf = file_replay(spark, src, SHOPPING_CART_EVENT_SCHEMA, files_per_trigger=10)
    q = for_each_batch(sdf, sink)
    q.processAllAvailable()
    q.stop()
    assert sum(n for _, n in seen) == 10


def test_restart_keeps_checkpoint_state_partitions(spark, recorder, tmp_path):
    """A checkpoint created at 4 state partitions restarts at 4 through
    for_each_batch, although the sink would size this source to 1: the
    count is restored from the offset log, so state stays readable."""
    from test_sink_sizing import distinct_keys, drain, start_unsized, state_partitions, wait_batches

    from flink_essentials_spark.sources.streaming import rate_source

    ckpt = str(tmp_path / "ckpt")
    sdf = distinct_keys(rate_source(spark, 10, micro_batch=True))

    def parts_of(q) -> set[int]:
        try:
            return state_partitions(wait_batches(recorder, q.runId, 2))
        finally:
            q.stop()

    assert parts_of(start_unsized(spark, sdf, drain, ckpt, 4)) == {4}
    assert parts_of(for_each_batch(sdf, drain, checkpoint=ckpt)) == {4}


def test_restart_across_checkpoint_managers(spark, tmp_path):
    """A checkpoint written through Spark's default (FileContext)
    manager restarts through for_each_batch, on the FileSystem manager:
    it resumes after the committed batches and the windows of batches
    0-3 equal those of an uninterrupted run."""
    from test_checkpoint_manager import FC_MANAGER, FS_MANAGER, query_manager
    from test_sink_sizing import join_windows, start_unsized

    n_batches = 4

    def collect_into(out):
        def collect(df, batch_id):
            out[batch_id] = [tuple(r) for r in df.collect()]
        return collect

    def run_until(q, out, last):
        try:
            deadline = time.time() + 120
            while last not in out and time.time() < deadline:
                assert q.isActive, q.exception()
                time.sleep(0.1)
            assert last in out, f"batch {last} not reached"
        finally:
            q.stop()

    whole: dict[int, list] = {}
    run_until(for_each_batch(join_windows(spark), collect_into(whole),
                             checkpoint=str(tmp_path / "whole")), whole, n_batches - 1)

    ckpt = str(tmp_path / "ckpt")
    first: dict[int, list] = {}
    q = start_unsized(spark, join_windows(spark), collect_into(first), ckpt, 4)
    assert query_manager(q) == FC_MANAGER
    run_until(q, first, 1)
    committed = max(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())

    resumed: dict[int, list] = {}
    q = for_each_batch(join_windows(spark), collect_into(resumed), checkpoint=ckpt)
    assert query_manager(q) == FS_MANAGER
    run_until(q, resumed, max(n_batches - 1, committed + 1))
    assert min(resumed) == committed + 1

    emitted = {**first, **resumed}
    rows = sorted(r for b in range(n_batches) for r in emitted[b])
    assert rows, "no window was emitted"
    assert rows == sorted(r for b in range(n_batches) for r in whole[b])


def test_salted_sum_equals_direct(spark):
    """Skew-proof two-phase agg produces identical results to the
    direct groupBy (Partitions.scala skew lesson, aggregation form)."""
    from flink_essentials_spark.operators.partitioning import salted_sum

    df = fixtures.shopping_cart_events(spark, 100)
    direct = {
        (r["user_id"]): (r["total_q"], r["n"])
        for r in df.groupBy("user_id")
        .agg(F.sum("quantity").alias("total_q"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r["user_id"]): (r["total_q"], r["n"])
        for r in salted_sum(
            df, ["user_id"], 8, {"quantity": "total_q"}, count_alias="n"
        ).collect()
    }
    assert salted == direct


def test_processing_time_windows_smoke(spark):
    """W6: processing-time buckets — all rows of a batch run land in
    wall-clock windows; counts total correctly (determinism is NOT
    promised, matching the reference's own lesson)."""
    from flink_essentials_spark.operators import windows

    df = fixtures.shopping_cart_events(spark, 50)
    out = windows.window_agg(
        df, windows.processing_time("10 seconds"), ["user_id"],
        F.count(F.lit(1)).alias("cnt"),
    ).collect()
    assert sum(r["cnt"] for r in out) == 50


def test_partition_custom_routes_exactly(spark):
    """P1 full parity (Partitions.scala:54-151): arbitrary routing by a
    user expression — each partition holds exactly the rows whose route
    value maps to it, incl. the reference's deliberate all-to-one skew
    demo (:104-129)."""
    from flink_essentials_spark.operators.partitioning import partition_custom

    df = spark.range(100).select(F.col("id").alias("event_id"))
    routed = partition_custom(df, F.col("event_id") % 4, 4)
    placement = (
        routed.withColumn("pid", F.spark_partition_id())
        .select("event_id", "pid")
        .collect()
    )
    assert len(placement) == 100
    for r in placement:
        assert r["pid"] == r["event_id"] % 4

    # the all-to-one anti-pattern: everything lands in ONE partition
    skewed = partition_custom(df, F.lit(0), 4)
    pids = {
        r["pid"]
        for r in skewed.withColumn("pid", F.spark_partition_id()).collect()
    }
    assert pids == {0}
    assert skewed.count() == 100


def test_execute_returns_job_stats(spark):
    """BuiltIn.scala:306-319: synchronous execute() + JobExecutionResult
    introspection (net runtime, row count; no data to the driver)."""
    from flink_essentials_spark.api import Stream

    res = Stream(spark.range(1000).toDF("n")).filter(F.col("n") % 2 == 0).execute("evens")
    assert res.num_rows == 500
    assert res.job_name == "evens"
    assert res.get_net_runtime() >= 0
