"""Unbounded sources (reference §2.1 S4/S5/S6).

- socket lines (SocketTextStreamWordCount.scala:59) → socket source
- synthetic event generators (ShoppingCartEventsGenerator.scala) →
  ``rate`` / ``rate-micro-batch`` source + deterministic column
  mapping: every generated field is a pure function of the rate
  source's ``value`` counter, so a replay is bit-identical — stronger
  determinism than the reference's wall-clock generator.
- file replay (deterministic fixture streaming): ``readStream`` over a
  directory with ``maxFilesPerTrigger=1`` — the engine's test harness
  for incremental semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CART_USERS = ("Bob", "Alice", "Sam", "Tom", "Rob")  # reference :159
ROWS_PER_PARTITION = 1 << 16


def stream_partitions(rows: int, cap: int) -> int:
    """Partitions for ``rows`` per micro-batch: ~64k rows each, clamped
    to [1, ``cap``]. Every partition costs a task (and, in a stateful
    operator, a state-store load and commit) per batch whatever it
    holds."""
    return max(1, min(cap, -(-rows // ROWS_PER_PARTITION)))


def socket_lines(spark: SparkSession, host: str, port: int) -> DataFrame:
    """socketTextStream (S4)."""
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


def rate_source(
    spark: SparkSession, rows_per_second: int = 10, *, micro_batch: bool = False
) -> DataFrame:
    """Monotonic (timestamp, value) counter stream, read in
    ``stream_partitions`` of one batch's rows (one second's for
    ``rate``) up to the default parallelism; the source's own default
    is one partition per core whatever the rate."""
    fmt = "rate-micro-batch" if micro_batch else "rate"
    opt = "rowsPerBatch" if micro_batch else "rowsPerSecond"
    parts = stream_partitions(rows_per_second, spark.sparkContext.defaultParallelism)
    return (
        spark.readStream.format(fmt)
        .option(opt, rows_per_second)
        .option("numPartitions", parts)
        .load()
    )


def _user(col):
    return F.element_at(
        F.array(*[F.lit(u) for u in CART_USERS]), (col % len(CART_USERS) + 1).cast("int")
    )


def shopping_cart_source(
    spark: SparkSession,
    events_per_second: int = 10,
    *,
    base_time: str = "2022-02-02T00:00:00",
    generate_removed: bool = False,
    sku_prefix: str = "",
    micro_batch: bool = False,
    out_of_order_every: int = 0,
    out_of_order_lag_secs: int = 0,
) -> DataFrame:
    """SingleShoppingCartEventsGenerator analog (S5/S6).

    Event time = base + value seconds (reference :70,114 — monotonic by
    default); all fields deterministic functions of the counter.

    Out-of-orderness injection (S6 parity): the reference generator
    delays every 10th event by an extra sleep so its timestamp falls
    behind the stream (ShoppingCartEventsGenerator.scala:104-123,
    ``sleepMillisPerEvent`` × 10 extra). Here the same lesson is
    deterministic: with ``out_of_order_every=N, out_of_order_lag_secs=L``
    every Nth event's event time is L seconds BEHIND its emission
    position — downstream watermarked windows observe genuinely late
    rows straight from the generator (no file-replay fixture needed),
    and rows later than the watermark bound are dropped, which is the
    reference's late-data demo. ``micro_batch=True`` swaps the
    wall-clock rate source for rate-micro-batch (``events_per_second``
    rows per trigger) so tests can pace batches deterministically.
    """
    v = F.col("value")
    secs = v.cast("double")
    if out_of_order_every > 0:
        secs = F.when(
            v % out_of_order_every == out_of_order_every - 1,
            (v - out_of_order_lag_secs).cast("double"),
        ).otherwise(secs)
    etype = (
        F.when((v % 3) == 2, F.lit("RemovedFromShoppingCartEvent")).otherwise(
            F.lit("AddToShoppingCartEvent")
        )
        if generate_removed
        else F.lit("AddToShoppingCartEvent")
    )
    return rate_source(spark, events_per_second, micro_batch=micro_batch).select(
        etype.alias("event_type"),
        _user(v).alias("user_id"),
        F.concat(F.lit(sku_prefix), F.lpad(v.cast("string"), 8, "0"),
                 F.lit("-0000-0000-0000-000000000000")).alias("sku"),
        (v % 10).cast("int").alias("quantity"),
        (F.to_timestamp(F.lit(base_time)) + F.make_interval(secs=secs)).alias("time"),
    )


def catalog_source(
    spark: SparkSession,
    events_per_second: int = 10,
    *,
    base_time: str = "2022-02-02T00:00:00",
) -> DataFrame:
    """CatalogEventsGenerator analog (reference :177-191)."""
    v = F.col("value")
    return rate_source(spark, events_per_second).select(
        _user(v + 1).alias("user_id"),
        (F.to_timestamp(F.lit(base_time)) + F.make_interval(secs=v.cast("double"))).alias("time"),
        F.concat(F.lpad((v + 10_000).cast("string"), 8, "0"),
                 F.lit("-0000-0000-0000-000000000000")).alias("product_id"),
    )


def kafka_topic(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    value_schema=None,
):
    """Kafka source (the production unbounded source named in the
    project north star). Requires the ``spark-sql-kafka-0-10``
    connector on the classpath — it is NOT bundled in this
    environment (re-verified every round; r6: no kafka jar under
    pyspark/jars), so this raises a clear error instead of an opaque
    DATA_SOURCE_NOT_FOUND. With ``value_schema``, the JSON value is
    parsed into columns (the usual event-stream shape); otherwise the
    raw (key, value, topic, partition, offset, timestamp) frame
    returns. Scale note: one Spark input partition per Kafka
    partition; use ``minPartitions`` to fan out hot topics.
    """
    try:
        df = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as e:  # pragma: no cover - depends on classpath
        raise RuntimeError(
            "Kafka connector missing: launch Spark with "
            "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> "
            "to use kafka_topic()"
        ) from e
    if value_schema is None:
        return df
    return df.select(
        F.col("timestamp").alias("kafka_ts"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
    ).select("kafka_ts", "v.*")


def file_replay(
    spark: SparkSession,
    path: str,
    schema,
    *,
    files_per_trigger: int = 1,
    fmt: str = "parquet",
) -> DataFrame:
    """Replay a directory of files as a stream, N files per micro-batch.

    The deterministic-streaming test harness (SURVEY §5): write a
    fixture as ordered files, replay, assert per-micro-batch output.
    """
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .load(path)
    )
