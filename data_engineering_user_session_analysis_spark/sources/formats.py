"""Columnar lake writes: one write API over the two columnar formats
Spark ships built-in (parquet, ORC).

The reference's lake is parquet-only (``spark_jobs/spark_stream.py:
170-176``); a production pipeline also meets ORC lakes (Hive
ecosystems).  Both go through the same DataFrameWriter surface, so
partitioned layout, Hive-style partition pruning, predicate pushdown
and column pruning come for free — pinned in tests/test_formats.py.
Lake reads go through ``streaming/ingest_stream.read_lake``.

Scale notes: parquet and ORC are columnar, compressed, splittable,
with pushdown into the scan (the ORC reader is vectorized like
parquet's).  Row formats (JSON, CSV) are not analytics storage and
are rejected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: formats safe for analytics storage (columnar, pushdown-capable)
COLUMNAR_FORMATS = ("parquet", "orc")


def write_lake_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Write a table in a columnar format with optional Hive-style
    partitioning (directory layout identical across formats, so the
    partition-pruning story carries over)."""
    if fmt not in COLUMNAR_FORMATS:
        raise ValueError(
            f"lake format must be columnar {COLUMNAR_FORMATS}, got {fmt!r}"
        )
    writer = df.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)
