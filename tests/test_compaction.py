"""Small-file compaction: stats-driven rewrite of one partition,
content-identical, other partitions untouched (sources/compaction.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.sources.compaction import (
    compact_partition,
    partition_file_stats,
)
from data_engineering_user_session_analysis_spark.sources.events import load_events


def _fragmented_lake(spark, sf_small, tmp_path) -> str:
    """A date-partitioned lake where every partition is shattered
    into many small files — the streaming-sink aftermath."""
    path = str(tmp_path / "lake")
    ev = load_events(spark, sf_small).withColumn("date", F.to_date("ts"))
    ev.repartition(20).write.partitionBy("date").mode("overwrite").parquet(path)
    return path


def test_stats_and_compact_roundtrip(spark, sf_small, tmp_path):
    lake = _fragmented_lake(spark, sf_small, tmp_path)
    stats = partition_file_stats(spark, lake)
    assert len(stats) > 1  # date-partitioned
    target = max(stats, key=lambda s: s["n_files"])
    assert target["n_files"] >= 10  # genuinely fragmented

    # materialize the before-content: the compaction swap replaces
    # files, so a lazy pre-swap DataFrame would re-read stale paths
    before_rows = sorted(map(tuple, spark.read.parquet(lake).collect()))
    other = [s for s in stats if s["path"] != target["path"]][0]
    other_files_before = {p for p, _ in _list(spark, other["path"])}

    # the fragmented lake's data columns are the events table's
    schema = load_events(spark, sf_small).schema
    report = compact_partition(spark, target["path"], schema, target_file_bytes=1 << 30)
    assert report["files_after"] == 1
    assert report["files_before"] == target["n_files"]

    # content identical (partition col comes from the dir name)
    after_rows = sorted(map(tuple, spark.read.parquet(lake).collect()))
    assert after_rows == before_rows
    # untouched partition keeps its exact files
    assert {p for p, _ in _list(spark, other["path"])} == other_files_before


def test_needs_compaction_signal(spark, sf_small, tmp_path):
    lake = _fragmented_lake(spark, sf_small, tmp_path)
    stats = partition_file_stats(spark, lake)
    s = max(stats, key=lambda s: s["n_files"])
    mean = s["bytes"] / s["n_files"]
    assert mean < (1 << 20)  # shattered: avg file well under 1 MB
    schema = load_events(spark, sf_small).schema
    compact_partition(spark, s["path"], schema, target_file_bytes=1 << 30)
    s2 = [x for x in partition_file_stats(spark, lake) if x["path"] == s["path"]][0]
    assert s2["n_files"] == 1
    assert s2["bytes"] > 0


def _list(spark, path):
    from data_engineering_user_session_analysis_spark.sources.compaction import _list_data_files

    return _list_data_files(spark, path)


def test_compact_refuses_then_retires_filestream_sink_log(spark, sf_small, tmp_path):
    """A lake built by writeStream carries a _spark_metadata log that
    batch root-reads treat as the authoritative file list; compaction
    must refuse (its renames would orphan the log), whether pointed at
    a partition under the log or at the table root that holds it —
    the silent-loss scenario."""
    import pytest

    from data_engineering_user_session_analysis_spark.sources.compaction import find_sink_log
    from pyspark.sql.types import StructType

    from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
        LAKE_SCHEMA,
        enrich_events,
        read_file_stream,
        write_lake_stream,
    )

    lake = str(tmp_path / "stream_lake")
    ckpt = str(tmp_path / "ckpt")
    # shatter the source into several files so availableNow runs
    # several micro-batches -> several files per lake partition
    src = str(tmp_path / "src")
    spark.read.parquet(os.path.join(sf_small, "events.parquet")).repartition(
        4
    ).write.parquet(src)
    stream = read_file_stream(spark, src, max_files_per_trigger=1)
    q = write_lake_stream(
        enrich_events(stream), lake, ckpt, partition_col="date", trigger_available_now=True
    )
    q.awaitTermination(120)
    assert find_sink_log(spark, lake) is not None
    target = max(partition_file_stats(spark, lake), key=lambda s: s["n_files"])

    data = StructType(LAKE_SCHEMA.fields[:-1])  # all but ``date``
    with pytest.raises(RuntimeError, match="_spark_metadata"):
        compact_partition(spark, target["path"], data, target_file_bytes=1 << 30)
    with pytest.raises(RuntimeError, match="_spark_metadata"):
        compact_partition(spark, lake, data, target_file_bytes=1 << 30)
