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

from data_engineering_user_session_analysis_spark.operators.sessionize import (
    GAP_SECONDS,
    ROLLUP_COLS,
    session_aggregates,
)

# ``session_rollup``'s columns less ``distinct_event_types``: streaming
# aggregation has no distinct aggregates
_WINDOW_COLS = tuple(c for c in ROLLUP_COLS if c != "distinct_event_types")


def session_window_rollup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Per-user gap-session aggregate over an (unbounded) stream:
    ``session_window`` with the ``GAP_SECONDS`` gap, aggregated with
    ``sessionize.session_aggregates``.

    Watermark bounds state (late events beyond it are dropped —
    reference ST5) and lets append mode emit a session once it can
    no longer grow.  Works identically on a batch DataFrame (Spark
    supports session_window in batch), which is how the DuckDB
    oracle checks it.
    """
    win = F.session_window(F.col("ts"), f"{GAP_SECONDS} seconds")
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.col("user_id"), win)
        .agg(*session_aggregates(*_WINDOW_COLS))
        .select("user_id", *_WINDOW_COLS)
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
