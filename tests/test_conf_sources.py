"""session.strip_conf_sources: the SparkContext Hadoop conf loses its
per-key source map and keeps every value, so the conf copies Spark
broadcasts per micro-batch and per parquet scan carry sources only for
the session's SQL keys. Also the driver heap's default sizing."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from flink_essentials_spark.session import default_driver_memory, strip_conf_sources
from flink_essentials_spark.sinks.sinks import for_each_batch
from flink_essentials_spark.tables import load_tables

SF_DIR = "/root/testdata/sf0.001"


def sourced_keys(spark, conf) -> set[str]:
    """Keys of ``conf`` that carry a source list."""
    jvm = spark._jvm
    field = jvm.java.lang.Class.forName("org.apache.hadoop.conf.Configuration").getDeclaredField("updatingResource")
    field.setAccessible(True)
    return set(jvm.java.util.TreeSet(field.get(conf).keySet()))


def values(spark, conf) -> str:
    """Every key/value pair of ``conf``, sorted, in one string."""
    return spark._jvm.java.util.TreeMap(conf.getValByRegex(".*")).toString()


def serialized_bytes(spark, conf) -> int:
    """Bytes ``Configuration.write`` produces, as a broadcast serializes it."""
    out = spark._jvm.java.io.ByteArrayOutputStream()
    conf.write(spark._jvm.java.io.DataOutputStream(out))
    return out.size()


def test_strip_keeps_values_and_only_sql_keys_carry_sources(spark, recorder, tmp_path):
    from test_sink_sizing import drain, join_windows, wait_batches

    session = spark._jsparkSession.sessionState()
    # the session's own history: tables, a parquet write and read (the
    # first write in a JVM registers HDFS's default resources), and a
    # stream-stream join past two batches
    load_tables(spark, SF_DIR)
    spark.range(10).write.parquet(str(tmp_path / "pq"))
    assert spark.read.parquet(str(tmp_path / "pq")).count() == 10
    assert sourced_keys(spark, session.newHadoopConf()) <= set(spark.conf.getAll)
    q = for_each_batch(join_windows(spark), drain, checkpoint=str(tmp_path / "ckpt"))
    try:
        wait_batches(recorder, q.id, 2)
    finally:
        q.stop()
    sql_keys = set(spark.conf.getAll)
    assert sourced_keys(spark, session.newHadoopConf()) <= sql_keys

    # a reload (what registering a Hadoop default resource does) records
    # every key's source again: the state the strip starts from
    spark._jsc.hadoopConfiguration().reloadConfiguration()
    before = session.newHadoopConf()
    assert len(sourced_keys(spark, before)) > 1000
    snapshot = values(spark, before)

    strip_conf_sources(spark)
    after = session.newHadoopConf()
    assert values(spark, after) == snapshot
    assert sourced_keys(spark, after) <= sql_keys
    assert serialized_bytes(spark, after) < 0.7 * serialized_bytes(spark, before)

    # a second call changes nothing
    size = serialized_bytes(spark, after)
    strip_conf_sources(spark)
    again = session.newHadoopConf()
    assert values(spark, again) == snapshot
    assert sourced_keys(spark, again) == sourced_keys(spark, after)
    assert serialized_bytes(spark, again) == size


def test_strip_survives_first_filesystem_use(tmp_path):
    """In a fresh JVM, get_spark's strip outlasts the session state's
    first FileSystem use and the first parquet write and read: the HDFS
    classes register their default resources (a reload of every conf,
    which records every key's source again) before the strip, not after
    it."""
    script = textwrap.dedent(
        f"""
        import json
        from flink_essentials_spark.session import get_spark
        from test_conf_sources import sourced_keys

        spark = get_spark("fes-conf-sources")
        spark.range(3).write.parquet({str(tmp_path / "pq")!r})
        spark.read.parquet({str(tmp_path / "pq")!r}).count()
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        print(json.dumps([sorted(sourced_keys(spark, conf)), sorted(spark.conf.getAll)]))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="512m")
    run = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]
    sourced, sql_keys = json.loads(run.stdout.strip().splitlines()[-1])
    # the one key Spark sets on the context conf after get_spark: the
    # shared state's warehouse path, when the session state is built
    assert set(sourced) - set(sql_keys) <= {"hive.metastore.warehouse.dir"}


@pytest.mark.parametrize(
    "mem_total_kb, heap",
    [
        (None, "24576m"),  # host size unknown: the 24g cap
        (15_728_640, "7680m"),  # a 15 GiB host: half
        (2_097_152, "1024m"),  # 2 GiB: half
        (48 * 1024 * 1024, "24576m"),  # 48 GiB: exactly the cap
        (128 * 1024 * 1024, "24576m"),  # 128 GiB: capped
    ],
)
def test_default_driver_memory(mem_total_kb, heap):
    assert default_driver_memory(mem_total_kb) == heap
