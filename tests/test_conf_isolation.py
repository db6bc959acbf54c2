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
