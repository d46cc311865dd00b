"""SparkSession factory tuned for this engine.

Local test profile uses local[N]; the same settings (AQE, shuffle partitions
sized to cores, Arrow) are the ones you'd set on a real cluster, where
shuffle.partitions scales with executor cores and maxPartitionBytes bounds
scan task size at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "btrdb_server_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Session-wide parquet codec. It does NOT govern the points plane:
        # PointStore writes its version and compaction files with zstd-1
        # through store._WRITE_TUNING, a per-write option that overrides
        # this setting. This codec applies to every other parquet write
        # (rollup levels, tombstones, index stores, exports);
        # SPARK_GRAFT_PARQUET_CODEC overrides the snappy default.
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_PARQUET_CODEC", "snappy"),
        )
        # Testdata parquet carries TIMESTAMP(NANOS); read as raw int64 ns —
        # the engine's native time type (never TimestampType: µs would lose ns).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder.getOrCreate()
