"""Small-file compaction — the lake-maintenance job every streaming
sink eventually needs.

The ingest stream (``streaming/ingest_stream.py``) appends one-or-more
files per micro-batch per partition; after days of 30-second triggers
a date partition holds thousands of KB-sized files and every batch
scan pays per-file open/footer costs (and, on object stores, per-file
request latency) that dwarf the data read.  The reference never
addresses this (its lake just accumulates — ``spark_jobs/
spark_stream.py:170-176``); at 100 TB it is the difference between a
scan bound by bytes and one bound by file count.

Design:

* ``partition_file_stats`` — per-leaf-directory (file count, bytes)
  from the Hadoop FileSystem API: the measurement that decides WHAT
  to compact (driver-side metadata listing only — no data read; the
  listing is one RPC per directory, fine for daily-partitioned lakes;
  catalogs with millions of partitions would push this into a
  manifest table instead).
* ``compact_partition`` — rewrite ONE partition's files into
  ``ceil(bytes / target_file_bytes)`` outputs with ``coalesce``
  (narrow, no shuffle, no re-sort).
* Swap is write-to-temp then two renames (old → trash, new → live,
  then trash delete).  Each HDFS/posix rename is atomic but the pair
  is not one transaction: a reader listing the table in the gap can
  miss the partition, and a crash between the renames leaves the
  partition in the trash dir (recoverable by hand, nothing lost).
  That is the honest limit of compaction on a bare-directory lake —
  a table format with a metadata pointer (Iceberg/Delta-class) is
  the production answer when readers can't tolerate the gap; this
  operator keeps the engine dependency-free.

Only compact CLOSED partitions (e.g. yesterday's date once the
watermark has passed): compacting a partition the stream is still
appending to loses the append that lands between read and swap.

FileStreamSink lakes: a ``writeStream.format("parquet")`` sink keeps
a ``_spark_metadata`` transaction log at the table root, and batch
reads of the root treat that log as the AUTHORITATIVE file list —
not the directory listing.  Compaction renames files, so after a
swap a log-backed read either fails (FileNotFoundException) or, with
``ignoreMissingFiles``, silently drops the whole compacted partition
while never seeing the new files.  ``compact_partition`` therefore
probes for ``_spark_metadata`` (at the partition dir and its parents)
and refuses to run.  A streaming lake that needs per-partition
compaction is the cue to move to a table format with a real metadata
pointer (Iceberg/Delta-class).
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) for every visible data file directly under
    ``path`` (Spark's convention: names starting with ``_`` or ``.``
    are metadata — _SUCCESS, checksums — not data)."""
    fs, hpath = _fs(spark, path)
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            out.append((st.getPath().toString(), st.getLen()))
    return out


def find_sink_log(spark: SparkSession, path: str, max_levels: int = 3) -> str | None:
    """Path of a FileStreamSink ``_spark_metadata`` log governing
    ``path``, or None.  Probes the directory itself and up to
    ``max_levels`` parents: for ``table/ds=X`` the log lives at the
    table root one level up; deeper partition layouts put it higher."""
    fs, hpath = _fs(spark, path)
    cur = hpath
    for _ in range(max_levels + 1):
        if cur is None:
            break
        cand = spark._jvm.org.apache.hadoop.fs.Path(cur, "_spark_metadata")
        if fs.exists(cand):
            return cand.toString()
        cur = cur.getParent()
    return None


def partition_file_stats(
    spark: SparkSession, table_path: str
) -> list[dict]:
    """File count / byte totals per leaf partition directory of a
    Hive-layout table (one level of ``col=value`` dirs, or the table
    root itself when unpartitioned).  The output feeds the compaction
    decision: a partition whose MEAN file size sits under half the
    target is fragmented — the standard trigger."""
    fs, root = _fs(spark, table_path)
    leaves = [
        st.getPath().toString()
        for st in fs.listStatus(root)
        if st.isDirectory() and "=" in st.getPath().getName()
    ] or [table_path]
    stats = []
    for leaf in leaves:
        files = _list_data_files(spark, leaf)
        stats.append(
            {
                "partition": leaf.rsplit("/", 1)[-1],
                "path": leaf,
                "n_files": len(files),
                "bytes": sum(b for _, b in files),
            }
        )
    return stats


def compact_partition(
    spark: SparkSession,
    partition_path: str,
    schema: StructType,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> dict:
    """Rewrite one partition directory's files into
    ``ceil(bytes / target_file_bytes)`` files (at least 1).  Returns a
    before/after report.

    Reads the leaf directory directly (partition values live in the
    directory name, not the files, so the rewrite reproduces the file
    contents byte-for-byte up to row order) with ``schema``, the
    files' data columns, so no job infers them.  ``schema`` must be
    the one the partition was written with: a column it lacks is not
    rewritten, and one the files lack is rewritten as nulls; the lake's
    caller checks its files first (``ingest_stream.check_lake``).
    Refuses to run under a FileStreamSink ``_spark_metadata`` log —
    see the module docstring."""
    log = find_sink_log(spark, partition_path)
    if log is not None:
        raise RuntimeError(
            f"refusing to compact {partition_path}: a FileStreamSink log "
            f"at {log} is the authoritative file list for batch reads of "
            "this lake, and compaction's renames would make those reads "
            "fail or silently drop the partition. Move the lake to a "
            "table format before compacting it."
        )
    before = _list_data_files(spark, partition_path)
    bytes_before = sum(b for _, b in before)
    n_out = max(1, math.ceil(bytes_before / target_file_bytes))

    # narrow merge — no shuffle, no re-sort, just fewer files.
    df = spark.read.format(fmt).schema(schema).load(partition_path).coalesce(n_out)

    fs, live = _fs(spark, partition_path)
    parent = live.getParent()
    token = uuid.uuid4().hex[:8]
    tmp = spark._jvm.org.apache.hadoop.fs.Path(
        parent, f".compact_tmp_{token}"
    )
    trash = spark._jvm.org.apache.hadoop.fs.Path(
        parent, f".compact_trash_{token}"
    )
    df.write.format(fmt).mode("overwrite").save(tmp.toString())
    # two atomic renames; see module docstring for the gap contract
    if not fs.rename(live, trash):
        raise IOError(f"compaction swap failed renaming {live} aside")
    if not fs.rename(tmp, live):
        # roll back so the partition never stays missing
        fs.rename(trash, live)
        raise IOError(f"compaction swap failed installing {tmp}")
    fs.delete(trash, True)
    # drop cached file listings so open DataFrames over the table
    # re-list instead of failing on the replaced files
    spark.catalog.refreshByPath(parent.toString())
    spark.catalog.refreshByPath(partition_path)

    after = _list_data_files(spark, partition_path)
    return {
        "path": partition_path,
        "files_before": len(before),
        "bytes_before": bytes_before,
        "files_after": len(after),
        "bytes_after": sum(b for _, b in after),
    }
