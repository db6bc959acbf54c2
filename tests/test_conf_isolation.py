"""Every registry query must be self-sufficient on a fresh session:
no query may depend on a runtime conf that some *other* query's
loader happened to set earlier (the bug class: a loader that read
raw nanos parquet and only worked if ``load_events`` had set
``nanosAsLong`` first).

Simulated here by unsetting the legacy-nanos conf before each
invocation — the conf-sensitive part of a cold session."""

from __future__ import annotations

import pytest

from data_engineering_user_session_analysis_spark.queries import QUERIES

_SLOW = {"streaming_session_rollup", "streaming_hourly_counts"}


@pytest.mark.parametrize("name", sorted(set(QUERIES) - _SLOW))
def test_query_survives_cold_conf(name, spark, sf_small):
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    df = QUERIES[name](spark, sf_small)
    assert df.columns, name  # analyzable
    df.limit(1).collect()  # executable


def test_loaders_leave_session_conf_as_found(spark, sf_small):
    """``load_events`` and ``read_file_stream`` read their schemas on
    the driver and write no session conf: neither the time zone nor the
    legacy-nanos reading changes under them."""
    import os

    from data_engineering_user_session_analysis_spark.sources.events import load_events
    from data_engineering_user_session_analysis_spark.streaming.ingest_stream import (
        read_file_stream,
    )

    keys = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
    tz = spark.conf.get(keys[0])
    spark.conf.set(keys[0], "Asia/Tokyo")
    spark.conf.unset(keys[1])
    try:
        before = {k: spark.conf.get(k) for k in keys}
        load_events(spark, sf_small)
        read_file_stream(spark, os.path.join(sf_small, "events.parquet"))
        assert {k: spark.conf.get(k) for k in keys} == before
    finally:
        spark.conf.set(keys[0], tz)
