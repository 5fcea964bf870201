"""SparkSession construction tuned for this engine.

The reference pins shuffle.partitions=4 and UTC session time
(heatmap_stream.py:41-47) because its streaming micro-batches are tiny. Our
engine targets large batch scans too, so we size shuffle parallelism to the
machine and rely on AQE (on by default in Spark 4) to coalesce or split at
runtime; on a real cluster these would be set per-deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def spark_cpus() -> int:
    """The effective Spark core count: ``$SPARK_GRAFT_CPUS`` if set, else
    the host's CPU count. A malformed value fails naming the variable."""
    raw = os.getenv("SPARK_GRAFT_CPUS", "").strip()
    if not raw:
        return os.cpu_count() or 4
    if not (raw.isdecimal() and int(raw) >= 1):
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def get_spark(app_name: str = "mobility-heatmap-engine", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = spark_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.getenv("SPARK_DRIVER_MEMORY", "8g"))
    )
    return builder.getOrCreate()
