"""SparkSession factory with scale-aware defaults.

The reference pins a 1-core/512m standalone cluster and default 200
shuffle partitions (reference ``spark_jobs/spark_stream.py:16-17``,
checkpoint conf ``tmp/offsets/0``).  Here the knobs are centralized and
environment-driven: local[N] for tests, AQE + adaptive coalesce +
skew-join for the 1000-executor posture, Arrow for the pandas-UDF
extension operators.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else half of
    the host's physical RAM (at least 1g), so the default heap always
    fits the machine it runs on."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1024, phys // 2 // 2**20)}m"


# Tuned for correctness-at-small-SF *and* sane scale-out defaults.
# At 100 TB these are overridden by cluster conf (shuffle partitions
# sized to ~128 MB post-shuffle blocks); AQE re-coalesces at runtime
# either way, so the static number only seeds the initial plan.
_DEFAULTS: dict[str, str] = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    # keep catalog artifacts out of the repo/cwd
    "spark.sql.warehouse.dir": os.path.join(
        tempfile.gettempdir(), "data_engineering_user_session_analysis_spark_warehouse"
    ),
    "spark.driver.memory": driver_memory(),
    # Streaming state store: RocksDB scales to 100T-row session state
    # where the default HDFS-backed store (reference checkpoint conf)
    # keeps everything on-heap.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}


def get_spark(app_name: str = "data_engineering_user_session_analysis_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the session. ``overrides`` win over defaults.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(
        os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    ).appName(app_name)
    conf = {**_DEFAULTS, **{str(k): str(v) for k, v in overrides.items()}}
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
