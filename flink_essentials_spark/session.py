"""SparkSession factory with scale-aware defaults.

The reference acquires a ``StreamExecutionEnvironment`` once and builds
lazy job blueprints on it (BuiltIn.scala:40-53). Our analog is a
``SparkSession`` configured for the execution model we target:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting)
- shuffle partitions sized to cores locally (cluster deployments
  override via ``spark.sql.shuffle.partitions``; AQE coalesces down)
- Arrow enabled for every pandas-interop path
- session timezone pinned to UTC so event-time semantics are
  deployment-independent (and DuckDB-oracle comparable)
- the driver heap at half the host's memory, at most 24g
  (``SPARK_GRAFT_DRIVER_MEM`` overrides): a local-mode heap sized past
  the host is never pressed to collect, and two such JVMs side by side
  run the host out of memory

Every session entry point (``get_spark``, ``ensure_engine_conf``, which
``load_tables`` reaches, and each streaming sink start) also strips the
SparkContext Hadoop conf's per-key provenance: the private
``updatingResource`` map that records, for each of its ~1 100 keys, the
file that set it. No value depends on it (Hadoop reads it only in the
copy constructor, ``getPropertySources``, the XML/JSON dumps and
``write``), but ``Configuration.write`` GZIP-compresses every key's
source list, and Spark serializes a ``newHadoopConf()`` copy into every
``SerializableConfiguration`` broadcast: ~26 per streaming micro-batch
(the stream-stream join's plan copies, the state-store RDDs) and one
per parquet scan. Stripped, each copy carries sources only for the
session's SQL keys that ``newHadoopConf`` sets on top (~31 GZIP streams
and ~70 KB instead of ~1 100 and 113 KB; a broadcast ~3 ms instead of
~11 ms on 4 cores). The classes that register Hadoop's default resources
(``JobConf``: mapred; ``HdfsConfiguration``: hdfs, otherwise first
initialised by the first ``FileSystem`` lookup, the session state's or
the first parquet write's) are initialised first, because registering a
default resource reloads every live conf and records every key's source
again. A Hadoop without the field keeps its conf as it is.
"""

from __future__ import annotations

import os

from py4j.java_gateway import get_method
from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 24 * 1024
# classes whose init registers a Hadoop default resource (module docstring)
_DEFAULT_RESOURCE_CLASSES = (
    "org.apache.hadoop.mapred.JobConf",
    "org.apache.hadoop.hdfs.HdfsConfiguration",
)


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def _mem_total_kb() -> int | None:
    """The host's MemTotal in kB, None where /proc/meminfo is absent."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return None


def default_driver_memory(mem_total_kb: int | None) -> str:
    """``spark.driver.memory`` for a host of ``mem_total_kb``: half of
    it, at most 24g (24g when the host's size is unknown)."""
    if not mem_total_kb:
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(_DRIVER_MEM_CAP_MB, mem_total_kb // 2048)}m"


def get_spark(
    app_name: str = "flink_essentials_spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode is a single JVM with N executor threads; on a real
    cluster only ``master`` and memory sizing change — every operator
    in this package expresses distribution via partitioning, so the
    same plans scale to 1000 executors.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(_mem_total_kb()),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    strip_conf_sources(spark)
    return spark


def strip_conf_sources(spark: SparkSession) -> None:
    """Empty the SparkContext Hadoop conf's per-key source map (module
    docstring); values are untouched. ~1 ms; a no-op once stripped."""
    jvm = spark._jvm
    try:
        for name in _DEFAULT_RESOURCE_CLASSES:
            jvm.java.lang.Class.forName(name)
        field = jvm.java.lang.Class.forName("org.apache.hadoop.conf.Configuration").getDeclaredField(
            "updatingResource"
        )
        field.setAccessible(True)
    except Py4JError:  # a Hadoop without the field or the classes
        return
    conf = spark._jsc.hadoopConfiguration()
    conf.size()  # load the properties first: a lazy load records sources
    # on the Java side: py4j's JavaMap.clear() pops key by key, a round
    # trip each
    get_method(field.get(conf), "clear")()


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs our operators rely on.

    Safe on a caller-provided session (e.g. the verification driver's):
    these are runtime SQL confs, settable after session creation.
    UTC matters for event-time window alignment and oracle comparison.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    strip_conf_sources(spark)
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
