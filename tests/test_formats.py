"""Columnar lake I/O: round-trips for both columnar formats, plus the
scan-shape pins that matter at scale — ORC gets predicate pushdown +
column pruning and partition pruning exactly like parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.sources.events import load_events
from data_engineering_user_session_analysis_spark.sources.formats import (
    COLUMNAR_FORMATS,
    write_lake_table,
)

EVENT_SCHEMA = (
    "event_id long, user_id long, event_type string, value double, date string"
)


def _sample(spark, sf_small):
    ev = load_events(spark, sf_small).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
    )
    return ev.limit(500)


@pytest.mark.parametrize("fmt", COLUMNAR_FORMATS)
def test_lake_roundtrip_all_formats(spark, sf_small, tmp_path, fmt):
    df = _sample(spark, sf_small)
    path = str(tmp_path / fmt)
    write_lake_table(df, path, fmt=fmt)
    back = spark.read.format(fmt).schema(EVENT_SCHEMA).load(path)
    want = {tuple(r) for r in df.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == want, f"{fmt} roundtrip diverged"


def test_orc_pushdown_and_column_pruning(spark, sf_small, tmp_path):
    """The ORC scan must receive the filter (PushedFilters) and read
    only the projected columns — same scan shape as parquet."""
    df = _sample(spark, sf_small)
    path = str(tmp_path / "orc")
    write_lake_table(df, path, fmt="orc")
    q = (
        spark.read.format("orc").load(path)
        .filter(F.col("value") > 100)
        .select("event_id", "value")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,100.0)" in plan, plan
    assert "event_type" not in plan  # pruned from ReadSchema
    assert q.count() > 0


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_partition_pruning_carries_across_formats(spark, sf_small, tmp_path, fmt):
    """Hive-style date partitioning prunes to one partition's files
    for a date-filtered read in BOTH columnar formats."""
    df = _sample(spark, sf_small)
    path = str(tmp_path / f"{fmt}_part")
    write_lake_table(df, path, fmt=fmt, partition_by=("date",))
    one_day = df.select("date").distinct().limit(1).collect()[0].date
    q = spark.read.format(fmt).load(path).filter(F.col("date") == one_day)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(date" in plan, plan
    assert f"= {one_day})" in plan, plan
    assert q.count() == df.filter(F.col("date") == one_day).count()


def test_schema_evolution_null_extends_old_files(spark, sf_small, tmp_path):
    """Lake schema evolution: a column added mid-stream must not
    break reads of the mixed lake.  The engine stance: read with an
    EXPLICIT superset schema (deterministic; old files null-extend),
    with option("mergeSchema") pinned as the equivalent discovery
    path — relying on Spark's default single-footer schema pick is a
    silent-column-loss hazard on mixed lakes."""
    path = str(tmp_path / "evolving")
    base = _sample(spark, sf_small).select("event_id", "user_id", "value")
    base.limit(100).write.parquet(path)  # v1 writer
    base.limit(50).withColumn(
        "quality", F.lit(0.5)
    ).write.mode("append").parquet(path)  # v2 writer adds a column

    superset = "event_id long, user_id long, value double, quality double"
    df = spark.read.schema(superset).parquet(path)
    assert df.count() == 150
    assert df.filter(F.col("quality").isNull()).count() == 100
    assert df.filter(F.col("quality") == 0.5).count() == 50

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"event_id", "user_id", "value", "quality"}
    assert merged.count() == 150
