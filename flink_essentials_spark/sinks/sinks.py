"""Sinks (reference §2.2).

- text/CSV files (K1/K2) → DataFrame writers; single-file = coalesce(1)
  (the reference's sink-parallelism-1 behavior, BuiltIn.scala:116-123)
- StreamingFileSink + rolling policy (K3) → file sink + checkpoint;
  rolling = one file per micro-batch partition; exactly-once via the
  sink manifest + checkpoint (the guarantee BuiltIn.scala:69-71 asks for)
- print (K5) → console sink; executeAndCollect (K6) → memory sink
- addSink(fn) (K4) → foreachBatch

Every streaming query starts here, which sets up to three things for it
alone (``start()`` snapshots the session's conf into the query):

- State partitions sized to its per-batch volume: a stateful
  operator's partition count is fixed at the first batch, and each
  partition pays a state-store load and commit per micro-batch whatever
  it holds. The rows one micro-batch reads, summed over the plan's
  streaming scans, come from ``rate`` (``rowsPerSecond``, one second's
  rows), ``rate-micro-batch`` (``rowsPerBatch``) or parquet file replay
  (``maxFilesPerTrigger`` x the largest footer row count); the query
  then starts with ~64k rows per partition, clamped to [1,
  ``spark.sql.shuffle.partitions``]. Other sources (CSV/JSON files,
  sockets, Kafka) keep the session's count, and a restarted checkpoint
  keeps its own (Spark restores it from the offset log). Cap the count
  on the session, not around a sink call.
- Spark's ``FileSystem`` checkpoint manager when every file the query's
  manager writes is local: the checkpoint root (the sink's option, else
  ``spark.sql.streaming.checkpointLocation``, else Spark's temp dir) and,
  for ``to_files``, the output path with its ``_spark_metadata`` log. A
  path is local when its scheme, or ``fs.defaultFS``'s for a path
  without one, is ``file``. Spark's default ``FileContext`` manager
  forks a shell (``readlink`` twice per rename, ``chmod`` per create) on a
  host without Hadoop's native library, ~100 forks per micro-batch of
  offsets, commits and state deltas; both managers refuse to rename a
  temp file over an existing one and keep the ``.crc`` files, and the
  files they write are the same, so a checkpoint restarts under either.
  Other schemes (HDFS, S3) keep the default, whose atomic rename
  matters there; a manager set on the session is kept.
- No input-free micro-batches, where the caller says they emit nothing
  (``no_data_batches=False``): after each watermark advance Spark runs
  one more batch with no input, to evict state and emit what the new
  watermark closes, and each pays planning plus a state commit. A
  time-ordered replay that ends in two sentinel batches has all of that
  done by the second sentinel, a data batch.

A start also strips the per-key sources from the SparkContext's Hadoop
conf (``session.strip_conf_sources``): each micro-batch broadcasts ~26
copies of it, and GZIP-compressing every key's source list is most of
what a copy costs to serialize. The strip comes after the HDFS and
mapred classes have registered their default resources, because a
registration reloads every conf and records the sources again (the
``session`` module docstring). The start reads ``fs.defaultFS`` off the
session's SQL conf, else off that Hadoop conf, rather than build a
whole ``newHadoopConf()`` copy for one key.
"""

from __future__ import annotations

import os
import tempfile
from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from flink_essentials_spark.session import strip_conf_sources
from flink_essentials_spark.sources.streaming import stream_partitions

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_SESSION_CHECKPOINT = "spark.sql.streaming.checkpointLocation"
_FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"
_FS_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
_MAX_FOOTERS = 64  # the oldest files: the file source replays in mtime order


def _file_replay_rows(source) -> int | None:
    """Rows per micro-batch of a parquet file-stream scan, from footers."""
    import pyarrow.parquet as pq

    opts = {}
    it = source.options().iterator()
    while it.hasNext():
        kv = it.next()
        opts[kv._1().lower()] = kv._2()
    path = opts.get("path")
    if "parquet" not in source.className().lower() or not path or not os.path.isdir(path):
        return None
    with os.scandir(path) as entries:
        files = sorted(
            (e for e in entries if e.is_file() and not e.name.startswith(("_", "."))),
            key=lambda e: e.stat().st_mtime,
        )
    if not files:
        return None
    try:
        per_file = max(pq.ParquetFile(e.path).metadata.num_rows for e in files[:_MAX_FOOTERS])
    except (OSError, ValueError):  # a file still being written
        return None
    return per_file * min(int(opts.get("maxfilespertrigger", len(files))), len(files))


def _batch_rows(sdf: DataFrame) -> int | None:
    """Rows one micro-batch of ``sdf`` reads, summed over its streaming
    scans; None when any scan's volume is unknown."""
    total = 0
    leaves = sdf._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            continue
        kind = leaf.getClass().getSimpleName()
        rows = None
        if kind == "StreamingRelationV2":
            opts = leaf.extraOptions()  # case-insensitive
            if leaf.sourceName() == "rate":
                rows = int(opts.getOrDefault("rowsPerSecond", "1"))
            elif leaf.sourceName() == "rate-micro-batch" and opts.containsKey("rowsPerBatch"):
                rows = int(opts.get("rowsPerBatch"))
        elif kind == "StreamingRelation":
            rows = _file_replay_rows(leaf.dataSource())
        if rows is None:
            return None
        total += rows
    return total


def _checkpoint_manager(paths, default_fs: str) -> str | None:
    """Spark's FileSystem checkpoint manager when every path is on the
    local filesystem (a path without a scheme resolves against
    ``default_fs``); None keeps Spark's default."""
    default = urlparse(default_fs).scheme
    local = all((urlparse(p).scheme or default) == "file" for p in paths)
    return _FS_MANAGER if local else None


def _start(
    writer,
    sdf: DataFrame,
    checkpoint: str | None = None,
    output: str | None = None,
    *,
    no_data_batches: bool = True,
):
    """``writer.start()`` with ``sdf``'s state partitions, checkpoint
    manager and no-data batches chosen (module docstring) for this query
    only."""
    spark = sdf.sparkSession
    strip_conf_sources(spark)
    conf = spark.conf
    chosen = {} if no_data_batches else {_NO_DATA_BATCHES: "false"}
    rows = _batch_rows(sdf)
    if rows is not None:
        chosen[_SHUFFLE_PARTITIONS] = str(stream_partitions(rows, int(conf.get(_SHUFFLE_PARTITIONS))))
    if conf.get(_FILE_MANAGER, None) is None:
        # no root: Spark's temp dir, qualified against fs.defaultFS like
        # any path without a scheme
        paths = [checkpoint or conf.get(_SESSION_CHECKPOINT, None) or ""]
        if output:
            paths.append(output)
        # newHadoopConf's precedence: the session's key over the context's
        default_fs = conf.get("fs.defaultFS", None) or spark._jsc.hadoopConfiguration().get("fs.defaultFS")
        manager = _checkpoint_manager(paths, default_fs)
        if manager:
            chosen[_FILE_MANAGER] = manager
    prev = {key: conf.get(key, None) for key in chosen}
    for key, value in chosen.items():
        conf.set(key, value)
    try:
        return writer.start()
    finally:
        for key, value in prev.items():
            if value is None:
                conf.unset(key)
            else:
                conf.set(key, value)


def to_console(sdf: DataFrame, *, output_mode: str = "append", **options):
    return _start(
        sdf.writeStream.outputMode(output_mode).format("console").options(**options),
        sdf,
        options.get("checkpointLocation"),
    )


def to_memory(
    sdf: DataFrame,
    name: str,
    *,
    output_mode: str = "append",
    checkpoint: str | None = None,
    no_data_batches: bool = True,
):
    """executeAndCollect analog: results land in table ``name``."""
    w = sdf.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return _start(w, sdf, checkpoint, no_data_batches=no_data_batches)


def run_to_memory(
    spark: SparkSession,
    sdf: DataFrame,
    name: str,
    *,
    output_mode: str = "append",
    no_data_batches: bool = True,
) -> DataFrame:
    """Drive a streaming frame to completion synchronously (bounded
    sources / file replay) and return the materialized result table.

    State partitions are sized from the replay's per-batch volume
    (module docstring); ``no_data_batches=False`` skips Spark's
    input-free micro-batches, for a replay whose last data batch
    already evicts and emits everything. The checkpoint (offsets/commit
    logs + state-store deltas, fsynced every micro-batch) goes on fast
    scratch storage and is removed as soon as the query stops — a
    bounded replay never resumes, so the checkpoint's only job is to
    exist while the query runs (guide §6; FES_SCRATCH_DIR overrides the
    root)."""
    import shutil

    from flink_essentials_spark.scratch import scratch_dir

    ckpt = scratch_dir("fes_ckpt_")
    q = to_memory(sdf, name, output_mode=output_mode, checkpoint=ckpt, no_data_batches=no_data_batches)
    try:
        q.processAllAvailable()
        q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def to_files(
    sdf: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    checkpoint: str | None = None,
    output_mode: str = "append",
    **options,
):
    """Fault-tolerant rolling file sink (K3)."""
    ckpt = checkpoint or tempfile.mkdtemp(prefix="fes_ckpt_")
    return _start(
        sdf.writeStream.outputMode(output_mode)
        .format(fmt)
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .options(**options),
        sdf,
        ckpt,
        path,
    )


def for_each_batch(sdf: DataFrame, fn: Callable[[DataFrame, int], None], *, checkpoint: str | None = None):
    """addSink(fn) analog (K4) with exactly-once batch ids. State
    partitions are sized from the sources' per-batch volume and a local
    checkpoint runs on the FileSystem manager (module docstring);
    ``fn``'s batch frames run with the same count."""
    writer = sdf.writeStream.foreachBatch(fn)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return _start(writer, sdf, checkpoint)


def write_text(df: DataFrame, path: str, *, single_file: bool = False, mode: str = "overwrite"):
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).text(path)


def write_csv(df: DataFrame, path: str, *, single_file: bool = False, mode: str = "overwrite", **options):
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).options(**options).csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    *keys: str,
    path: str | None = None,
    sort: bool = True,
    mode: str = "overwrite",
) -> DataFrame:
    """Bucketed (and bucket-sorted) table layout — the co-located join
    strategy at 100 TB: two tables written with the SAME bucket count
    and keys join with NO shuffle exchange on either side (and with
    ``sort=True``, no sort either; plan-audited in tests/test_plans.py).
    Bucket pruning also serves point lookups on the bucket key.

    Parquet + metastore bucketing via ``bucketBy``/``sortBy``
    ``saveAsTable``; pass ``path`` to write an external table at a
    specific location. Returns the re-read table (reading through the
    catalog is what carries the bucket metadata into the join planner).
    """
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
    return df.sparkSession.table(table)


def write_partitioned(
    df: DataFrame, path: str, *keys: str, mode: str = "overwrite"
) -> DataFrame:
    """Hive-style partitioned parquet layout (``key=value`` directories)
    — the scan-elimination strategy at 100 TB: a filter on a partition
    key prunes to the matching directories at PLANNING time, so a query
    over one day/source/language reads that slice and nothing else
    (plan-audited in tests/test_plans.py: PartitionFilters in the scan,
    pruned partition count in the plan, zero non-matching files read).
    Complements write_bucketed: partition on low-cardinality
    scan-eliminating keys, bucket on high-cardinality join keys.

    Returns the re-read DataFrame (partition discovery runs on read).
    """
    df.write.format("parquet").mode(mode).partitionBy(*keys).save(path)
    return df.sparkSession.read.parquet(path)


def compact_files(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    out_path: str | None = None,
) -> dict:
    """Small-file compaction — the maintenance op every long-running
    100 TB ingest needs: streaming/micro-batch sinks leave thousands of
    KB-sized parquet files whose per-file open/footer cost dominates
    scans and whose count explodes driver memory on listing. Rewrites a
    parquet directory into ``ceil(total_bytes / target_bytes)`` files
    of ~``target_bytes`` each.

    Sizing comes from driver-side file metadata (os.stat over the
    listing — no Spark job); the rewrite itself is one distributed
    read→repartition→write. Content is preserved row-for-row (verified
    by tests via full-row hash), only the physical layout changes.
    In-place (``out_path=None``) writes to a temp sibling then swaps via
    two renames — crash-SAFE rather than atomic: a crash between the
    renames leaves the original intact under a unique
    ``<path>.precompact-*`` name (nothing is deleted until the swap
    completes), and the unique suffix means a retry never collides with
    a leftover from a previous crash.

    Hive-partitioned layouts (key=value subdirectories) are rejected
    with an actionable error: compacting one flattens the partition
    columns into the data files and destroys pruning — compact each
    partition directory individually instead.

    Returns {"files_before", "files_after", "bytes", "target_files"}.
    """
    import math
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    entries = [e for e in os.listdir(path) if not e.startswith(("_", "."))]
    part_dirs = [
        e for e in entries if "=" in e and os.path.isdir(os.path.join(path, e))
    ]
    if part_dirs:
        raise ValueError(
            f"{path} is hive-partitioned ({part_dirs[0]}, ...): compact each "
            "partition directory individually — compacting the root would "
            "flatten the partition columns and destroy pruning"
        )
    # size/count the SAME file set spark.read.parquet will ingest —
    # every non-hidden regular file, suffixed or not (a directory with
    # unsuffixed data files previously summed to total=0 → n_out=1 and
    # misleading stats)
    files = [
        p
        for f in entries
        if os.path.isfile(p := os.path.join(path, f))
    ]
    total = sum(os.stat(f).st_size for f in files)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    in_place = out_path is None
    dest = (
        tempfile.mkdtemp(prefix="compact_", dir=os.path.dirname(path.rstrip("/")))
        if in_place
        else out_path
    )
    # repartition(n) is a round-robin full shuffle: even output sizes,
    # which is the point of compaction (coalesce would skip the shuffle
    # but inherit whatever skew the input files have)
    df.repartition(n_out).write.mode("overwrite").parquet(dest)
    if in_place:
        old = path.rstrip("/") + ".precompact-" + _uuid.uuid4().hex[:8]
        os.rename(path, old)
        os.rename(dest, path)
        shutil.rmtree(old)
    out_dir = path if in_place else dest
    out_files = [
        f
        for f in os.listdir(out_dir)
        if not f.startswith(("_", "."))
        and os.path.isfile(os.path.join(out_dir, f))
    ]
    return {
        "files_before": len(files),
        "files_after": len(out_files),
        "bytes": total,
        "target_files": n_out,
    }


def upsert_parquet(
    spark, path: str, updates: DataFrame, keys: list[str]
) -> dict:
    """Keyed upsert (MERGE) into a plain-parquet directory — the
    dimension-refresh primitive when no table format (Iceberg/Delta)
    is available: rows whose key matches an update are replaced, new
    keys are appended.

    Parquet files are immutable, so this is a rewrite-merge: current
    left-anti updates (drops stale versions) ∪ updates, written to a
    temp sibling and swapped with the same crash-safe two-rename
    protocol as compact_files. At 100 TB, partition the layout on a
    key prefix and upsert only the affected partition directories —
    the full-directory rewrite here IS the per-partition unit of that
    plan.

    Contract: ``updates`` must be key-unique (pre-aggregate a CDC
    stream to latest-per-key first) — the updated/inserted split in
    the returned stats assumes one update row per key.

    Returns {"rows_before", "rows_updated", "rows_inserted",
    "rows_after"}.
    """
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    current = spark.read.parquet(path)
    upd_keys = updates.select(*keys).distinct()
    kept = current.join(upd_keys, keys, "left_anti")
    merged = kept.unionByName(updates.select(*current.columns))
    dest = tempfile.mkdtemp(
        prefix="upsert_", dir=os.path.dirname(path.rstrip("/"))
    )
    merged.write.mode("overwrite").parquet(dest)
    n_before = current.count()
    n_after = spark.read.parquet(dest).count()
    n_upd = updates.count()
    old = path.rstrip("/") + ".preupsert-" + _uuid.uuid4().hex[:8]
    os.rename(path, old)
    os.rename(dest, path)
    shutil.rmtree(old)
    return {
        "rows_before": n_before,
        "rows_updated": n_before + n_upd - n_after,
        "rows_inserted": n_after - n_before,
        "rows_after": n_after,
    }


def erase_keys(
    spark, path: str, keys_df: DataFrame, key_cols: list[str]
) -> dict:
    """Keyed erasure — the right-to-be-forgotten / takedown primitive:
    rewrite a parquet directory WITHOUT any row matching the given key
    set (left-anti join), using the same crash-safe two-rename swap as
    upsert_parquet. At 100 TB: partition the layout on (a prefix of)
    the erasure key and rewrite only affected partitions; with a table
    format, use its delete API — this is the plain-parquet unit both
    reduce to.

    Returns {"rows_before", "rows_erased", "rows_after"}.
    """
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    current = spark.read.parquet(path)
    kept = current.join(
        keys_df.select(*key_cols).distinct(), key_cols, "left_anti"
    )
    dest = tempfile.mkdtemp(prefix="erase_", dir=os.path.dirname(path.rstrip("/")))
    kept.write.mode("overwrite").parquet(dest)
    n_before = current.count()
    n_after = spark.read.parquet(dest).count()
    old = path.rstrip("/") + ".preerase-" + _uuid.uuid4().hex[:8]
    os.rename(path, old)
    os.rename(dest, path)
    shutil.rmtree(old)
    return {
        "rows_before": n_before,
        "rows_erased": n_before - n_after,
        "rows_after": n_after,
    }
