"""Stateful streaming sessionization — the capability the reference's
committed checkpoint proves (SURVEY.md §2.9 ST3-ST5: 10-minute
watermark, per-user session state with event lists, 200-partition
stateful shuffle).

Spark-native design: ``withWatermark`` + ``session_window`` gap
windows — no custom state management (``applyInPandasWithState`` is
reserved as the escape hatch but not needed; the built-in operator
gets RocksDB state, watermark eviction, and AQE-sized stateful
shuffle for free).  The aggregation schema mirrors the batch
``session_rollup`` so streaming and batch answers are directly
comparable (tested: streaming result == batch gap-sessionization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_engineering_user_session_analysis_spark.operators.sessionize import epoch_seconds


def session_window_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_type_col: str = "event_type",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-user gap-session aggregate over an (unbounded) stream.

    Watermark bounds state (late events beyond it are dropped —
    reference ST5) and lets append mode emit a session once it can
    no longer grow.  Works identically on a batch DataFrame (Spark
    supports session_window in batch), which is how the DuckDB
    oracle checks it.
    """
    order = F.struct(F.col(ts_col), F.col(tiebreak_col))
    win = F.session_window(F.col(ts_col), gap)
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.col(user_col), win).agg(
        F.min(ts_col).alias("session_start_time"),
        F.max(ts_col).alias("session_end_time"),
        (epoch_seconds(F.max(ts_col)) - epoch_seconds(F.min(ts_col))).alias(
            "session_duration_seconds"
        ),
        F.count("*").alias("number_of_events"),
        F.max(F.when(F.col(event_type_col) == "purchase", 1).otherwise(0)).alias(
            "is_purchase"
        ),
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("session_value"),
        F.min_by(event_type_col, order).alias("first_event_type"),
        F.max_by(event_type_col, order).alias("last_event_type"),
    ).select(
        user_col,
        "session_start_time",
        "session_end_time",
        "session_duration_seconds",
        "number_of_events",
        "is_purchase",
        "session_value",
        "first_event_type",
        "last_event_type",
    )


def write_memory_sink(
    result: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    available_now: bool = True,
) -> StreamingQuery:
    """Memory sink for tests and the oracle path: drives the stream
    to completion synchronously with availableNow + a blocking
    processAllAvailable at the call site."""
    writer = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_jdbc(
    result: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str],
    checkpoint_path: str,
) -> StreamingQuery:
    """Micro-batch JDBC sink (reference S6, done right: the reference's
    ``write_to_postgres`` callback is dead code pointing at
    ``localhost`` — ``spark_jobs/spark_stream.py:135-151``).  Append
    per epoch; executors open one connection per partition."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.jdbc(url=url, table=table, mode="append", properties=properties)

    return (
        result.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .start()
    )


def foreach_batch_upsert_parquet(
    out_dir: str,
    key_cols: tuple[str, ...] = ("event_id",),
    partition_col: str = "date",
):
    """Idempotent micro-batch sink without a database: TRUE key-level
    upsert (the parquet stand-in for a JDBC ``MERGE``).

    Per epoch: read the already-committed rows of the partitions this
    batch touches, drop the ones whose key the batch re-delivers
    (batch wins), union the survivors with the batch, and dynamic-
    partition-overwrite exactly those partitions.  Replaying an epoch
    converges (checkpoint recovery, reference S6 semantics done
    right), and — unlike round 1's partition-level overwrite — a batch
    carrying only PART of a partition's rows upserts those rows
    without deleting the partition's previously committed remainder.

    Scale notes: the touched-partition list is collected to the
    driver, but it is bounded by partitions-per-batch (a handful of
    dates), not data size; the read side prunes to those partitions;
    ``localCheckpoint`` materializes the merged rows so the write does
    not overwrite a path its own plan is reading."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.utils import AnalysisException

        spark = batch_df.sparkSession
        merged = batch_df
        try:
            existing = spark.read.parquet(out_dir)
        except AnalysisException:
            existing = None  # first epoch: nothing committed yet
        if existing is not None:
            touched = [
                r[0]
                for r in batch_df.select(partition_col).distinct().collect()
            ]
            keep = (
                existing.filter(F.col(partition_col).isin(touched))
                .join(
                    batch_df.select(*key_cols).distinct(),
                    list(key_cols),
                    "left_anti",
                )
                .select(*batch_df.columns)
            )
            merged = batch_df.unionByName(keep).localCheckpoint(eager=True)
        # dynamic overwrite as a writer option: it replaces only the
        # partitions this batch touches, and leaves the session's
        # partitionOverwriteMode (which every later overwrite in the
        # session obeys) as it was
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(out_dir)

    return _write
