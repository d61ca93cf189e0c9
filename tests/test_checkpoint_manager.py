"""Checkpoint file manager chosen at the sinks: Spark's FileSystem
manager when every file the query's manager writes is local, Spark's
default elsewhere; the chosen manager still refuses to overwrite a
committed checkpoint file."""

from __future__ import annotations

import time

import pytest
from py4j.protocol import Py4JJavaError

from flink_essentials_spark.sinks.sinks import _checkpoint_manager, for_each_batch
from flink_essentials_spark.sources.streaming import rate_source

MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
FC_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"


@pytest.mark.parametrize(
    "paths, default_fs, chosen",
    [
        (["/x"], "file:///", FS_MANAGER),
        (["file:/x"], "file:///", FS_MANAGER),
        ([""], "file:///", FS_MANAGER),  # Spark's temp dir
        (["/x"], "hdfs://nn:8020", None),  # schemeless resolves to HDFS
        (["file:/x"], "hdfs://nn:8020", FS_MANAGER),
        (["hdfs://nn:8020/x"], "file:///", None),
        (["s3a://b/x"], "file:///", None),
        (["/ckpt", "/out"], "file:///", FS_MANAGER),  # to_files, both local
        (["/ckpt", "s3a://b/out"], "file:///", None),  # to_files, remote output
        (["/ckpt", "hdfs://nn:8020/out"], "file:///", None),
    ],
)
def test_manager_choice(paths, default_fs, chosen):
    assert _checkpoint_manager(paths, default_fs) == chosen


def test_chosen_manager_refuses_overwrite(spark, tmp_path):
    """createAtomic(p, overwriteIfPossible=False) over an existing file
    raises FileAlreadyExistsException and keeps the committed bytes."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    conf.set(MANAGER, _checkpoint_manager([str(tmp_path)], conf.get("fs.defaultFS")))
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    fm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        path.getParent(), conf
    )
    assert fm.getClass().getName() == FS_MANAGER

    out = fm.createAtomic(path, False)
    out.write(b"first")
    out.close()
    out = fm.createAtomic(path, False)
    out.write(b"second")
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    exists_error = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists_error.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"
    assert (tmp_path / ".0.crc").exists()  # LocalFileSystem still checksums


def drain(df, batch_id):
    df.write.format("noop").mode("append").save()


def query_manager(q) -> str:
    """The class of the manager the query's offset log writes through."""
    return q._jsq.streamingQuery().offsetLog().fileManager().getClass().getName()


def test_sink_starts_local_query_on_filesystem_manager(spark, tmp_path):
    """A local checkpoint runs on the FileSystem manager (offset log and
    a committed batch), and the session's conf is left unset."""
    q = for_each_batch(rate_source(spark, 10, micro_batch=True).dropDuplicates(["value"]),
                       drain, checkpoint=str(tmp_path / "ckpt"))
    try:
        assert spark.conf.get(MANAGER, None) is None
        assert query_manager(q) == FS_MANAGER
        deadline = time.time() + 60
        while not (tmp_path / "ckpt" / "commits" / "0").exists() and time.time() < deadline:
            assert q.isActive, q.exception()
            time.sleep(0.1)
    finally:
        q.stop()
    assert (tmp_path / "ckpt" / "commits" / "0").exists()


def test_session_manager_is_kept(spark, tmp_path):
    spark.conf.set(MANAGER, FC_MANAGER)
    try:
        q = for_each_batch(rate_source(spark, 10, micro_batch=True), drain,
                           checkpoint=str(tmp_path / "ckpt"))
        try:
            assert query_manager(q) == FC_MANAGER
        finally:
            q.stop()
        assert spark.conf.get(MANAGER) == FC_MANAGER
    finally:
        spark.conf.unset(MANAGER)


def test_rate_source_partitions_from_volume(spark):
    """~64k rows per partition, clamped to [1, defaultParallelism]."""
    def parts(sdf) -> int:
        leaf = sdf._jdf.queryExecution().analyzed().collectLeaves().head()
        return int(leaf.extraOptions().get("numPartitions"))

    cores = spark.sparkContext.defaultParallelism
    assert parts(rate_source(spark, 1000)) == 1
    assert parts(rate_source(spark, 2 * 65536 + 1, micro_batch=True)) == min(3, cores)
    assert parts(rate_source(spark, 10**9)) == cores
