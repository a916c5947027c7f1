"""Small-file compaction — the 100 TB housekeeping operator.

Streaming sinks, per-partition writers, and incremental ingest all
fragment a table into many small files; at petabyte scale the task
scheduler and the object store both die by a thousand 2 MB cuts
(listing cost, per-file open overhead, tiny row groups that defeat
parquet statistics). Compaction rewrites a table into files near a
target size.

Policy encoded here:

* target file count = ceil(on-disk bytes / target_file_bytes),
  measured from the actual input files (not a row-count guess), and
  hit EXACTLY: coalesce when the scan yields at least that many
  partitions (pure narrow repack, no shuffle), else repartition —
  coalesce cannot split partitions, so without the fallback a scan
  that packs the fragments into few partitions would silently write
  oversized files;
* all filesystem work goes through the Hadoop FileSystem API of the
  path's own scheme, so local, HDFS, and s3a:// paths all work — not
  driver-local ``os`` calls;
* write-then-swap with crash recovery: output lands in a sibling
  ``._compact_tmp`` dir and replaces the input only after a
  successful write. A crash can strand ``._compact_tmp`` (garbage —
  removed on the next run) or ``._compact_old`` (either the table
  was already swapped in, so the backup is garbage, or the swap
  half-finished and the backup IS the table, so it is restored);
  :func:`_recover` handles both before compacting.
* partitioned layouts (``partitionBy`` writes) must
  be compacted per leaf directory — a root containing ``key=value``
  subdirectories is rejected rather than silently flattened.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

_TMP_SUFFIX = "._compact_tmp"
_OLD_SUFFIX = "._compact_old"


def _fs(spark: SparkSession, path: str):
    """(hadoop FileSystem for the path's scheme, hadoop Path)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def table_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet directory, via the
    path's own filesystem (local / HDFS / s3a)."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return 0, 0
    n, total = 0, 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.endswith(".parquet"):
            n += 1
            total += status.getLen()
    return n, total


def _has_partition_dirs(fs, jpath) -> bool:
    for status in fs.listStatus(jpath):
        if status.isDirectory() and "=" in status.getPath().getName():
            return True
    return False


def _recover(spark: SparkSession, path: str) -> None:
    """Heal leftovers of a crashed previous compaction (see module
    docstring): stale tmp is garbage; stale old is either garbage
    (table present) or the table itself (table missing → restore)."""
    fs, jpath = _fs(spark, path)
    _, jtmp = _fs(spark, path.rstrip("/") + _TMP_SUFFIX)
    _, jold = _fs(spark, path.rstrip("/") + _OLD_SUFFIX)
    if fs.exists(jtmp):
        fs.delete(jtmp, True)
    if fs.exists(jold):
        if fs.exists(jpath):
            fs.delete(jold, True)
        elif not fs.rename(jold, jpath):
            raise IOError(f"could not restore {path!r} from crashed-compaction backup")


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    shuffle: bool = False,
) -> int:
    """Rewrite the parquet directory at ``path`` into
    ceil(bytes / target_file_bytes) files. Returns the new file count.
    """
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    _recover(spark, path)
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory() and _has_partition_dirs(fs, jpath):
        raise ValueError(
            f"{path!r} holds a partitioned (key=value) layout; compact each "
            f"leaf partition directory instead — compacting the root would "
            f"flatten the layout and break partition pruning"
        )
    n_files, total_bytes = table_file_stats(spark, path)
    if n_files == 0:
        raise ValueError(f"no parquet files under {path!r}")
    n_target = max(1, math.ceil(total_bytes / target_file_bytes))
    if n_target >= n_files:
        return n_files  # already at or below target granularity

    df: DataFrame = spark.read.parquet(path)
    if shuffle or df.rdd.getNumPartitions() < n_target:
        # coalesce cannot SPLIT partitions: if the scan packed the
        # fragments into fewer partitions than the target, a shuffle
        # repartition is the only way to actually hit the byte target
        df = df.repartition(n_target)
    else:
        df = df.coalesce(n_target)
    tmp = path.rstrip("/") + _TMP_SUFFIX
    old = path.rstrip("/") + _OLD_SUFFIX
    df.write.mode("overwrite").parquet(tmp)
    _, jtmp = _fs(spark, tmp)
    _, jold = _fs(spark, old)
    if not fs.rename(jpath, jold):
        raise IOError(f"compaction swap failed: could not move {path!r} aside")
    if not fs.rename(jtmp, jpath):
        fs.rename(jold, jpath)  # roll back
        raise IOError(f"compaction swap failed: could not install {tmp!r}")
    fs.delete(jold, True)
    new_n, _ = table_file_stats(spark, path)
    return new_n
