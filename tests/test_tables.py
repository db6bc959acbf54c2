"""Fixture tables are read with the schema of their own footer.

``sources/tables.footer_schema`` reads a parquet footer on the driver
and maps it to the ``StructType`` Spark would infer, so ``load_table``
and ``load_events`` declare it and no Spark job reads the footer.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_engineering_user_session_analysis_spark.plans.audit import jobs_of
from data_engineering_user_session_analysis_spark.sources.events import load_events
from data_engineering_user_session_analysis_spark.sources.tables import (
    footer_schema,
    load_table,
)
from tests.conftest import SF_ORACLE, SF_SMALL
from tests.test_gen_testdata import TABLES


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_ORACLE], ids=os.path.basename)
@pytest.mark.parametrize("name", TABLES)
def test_footer_schema_equals_inferred_schema(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    assert footer_schema(spark, path) == spark.read.parquet(path).schema


def test_loaders_launch_no_job(spark, sf_small):
    with jobs_of(spark, "test_loaders_launch_no_job") as jobs:
        frames = [load_table(spark, sf_small, n) for n in TABLES]
        frames.append(load_events(spark, sf_small))
        for df in frames:
            df.schema  # analyzed, not run
    assert jobs == []


def test_nanos_events_load_as_the_inferred_read_does(spark, sf_small, tmp_path):
    """An events fixture whose ``ts`` is TIMESTAMP(NANOS) loads with the
    same schema and rows as the inferred ``nanosAsLong`` read followed
    by ``div 1000``, and needs no ``nanosAsLong`` conf to do so."""
    table = pq.read_table(os.path.join(sf_small, "events.parquet"))
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))
    # one sub-microsecond offset, so the truncation is exercised
    ns = pc.add(table.column("ts").cast(pa.int64()), 999)
    table = table.set_column(i, "ts", ns.cast(pa.timestamp("ns")))
    pq.write_table(table, str(tmp_path / "events.parquet"))
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type.unit == "ns"

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        inferred = spark.read.parquet(str(tmp_path / "events.parquet"))
        assert dict(inferred.dtypes)["ts"] == "bigint"
        want = inferred.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        want_schema, want_rows = want.schema, sorted(want.collect())
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")

    got = load_events(spark, str(tmp_path))
    assert got.schema == want_schema
    assert sorted(got.collect()) == want_rows
    # nanos truncate to the microsecond fixture they were made from
    micros = load_events(spark, sf_small).withColumn("ts", F.col("ts").cast("timestamp"))
    assert sorted(micros.collect()) == want_rows
