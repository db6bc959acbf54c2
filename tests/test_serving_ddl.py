"""DDL side channel: schema-derived serving DDL (reference S9)."""

from __future__ import annotations

from data_engineering_user_session_analysis_spark.operators.sessionize import session_rollup_full, sessionize
from data_engineering_user_session_analysis_spark.sources.events import load_events
from data_engineering_user_session_analysis_spark.sources.serving_ddl import apply_ddl, ddl_for_schema


def test_ddl_from_session_rollup_schema(spark, sf_small):
    full = session_rollup_full(
        sessionize(load_events(spark, sf_small), order_cols=("event_id",))
    )
    ddl = ddl_for_schema(
        "user_session", full.schema, primary_key="session_id", drop_first=True
    )
    assert "DROP TABLE IF EXISTS user_session;" in ddl
    assert "session_id TEXT NOT NULL PRIMARY KEY" in ddl
    # Fixtures may carry TIMESTAMP (LTZ → TIMESTAMPTZ) or TIMESTAMP_NTZ
    # (→ TIMESTAMP) timestamps; the map must cover both.
    assert (
        "session_start_time TIMESTAMPTZ" in ddl
        or "session_start_time TIMESTAMP" in ddl
    )
    assert "session_duration_seconds BIGINT" in ddl
    assert "session_duration_minutes DOUBLE PRECISION" in ddl
    assert "number_of_events BIGINT" in ddl
    assert "events_json TEXT" in ddl


def test_apply_ddl_gated_without_driver():
    # psycopg2 absent in this container: must return False, not raise
    assert apply_ddl("dbname=x", "SELECT 1") is False


def test_apply_ddl_jdbc_live_roundtrip(spark, sf_small, tmp_path):
    """S9 executed for REAL: schema-derived DDL runs over JDBC
    (embedded Derby), then the serving write appends into the
    pre-created table — the reference's create-then-stream flow."""
    from pyspark.sql import functions as F

    from data_engineering_user_session_analysis_spark.sources.jdbc import read_jdbc, write_jdbc
    from data_engineering_user_session_analysis_spark.sources.serving_ddl import apply_ddl_jdbc

    url = f"jdbc:derby:{tmp_path}/ddl_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    agg = (
        load_events(spark, sf_small)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    ddl = ddl_for_schema(
        "user_totals", agg.schema, primary_key="user_id", dialect="derby"
    )
    assert "TEXT" not in ddl and "TIMESTAMPTZ" not in ddl  # derby dialect
    assert apply_ddl_jdbc(spark, url, ddl) is True
    # idempotent re-run (already-exists tolerated)
    assert apply_ddl_jdbc(spark, url, ddl) is True
    write_jdbc(agg, url, "user_totals", mode="append", properties=props)
    back = read_jdbc(spark, url, "user_totals", properties=props)
    assert back.count() == agg.count()
    assert agg.exceptAll(back).count() == 0
