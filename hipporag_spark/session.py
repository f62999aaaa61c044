"""Spark session factory.

Local sandbox runs use ``local[N]``; on a real cluster the same engine code
is shipped with ``spark-submit --py-files hipporag_spark.zip`` and the
builder is a no-op (it picks up the session created by spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "hipporag-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    Arrow is enabled because every numeric kernel (PPR supersteps, KNN
    block matmul, MinHash) crosses the Python boundary via pandas/Arrow
    UDFs, never per-row Python.  AQE is enabled so skewed shuffles
    (hub-identifier fact edges) are split at runtime; PPR's hub sums need
    no more than Spark's map-side combine.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or int(
        os.environ.get("HIPPORAG_SHUFFLE_PARTITIONS", str(DEFAULT_SHUFFLE_PARTITIONS))
    )
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("HIPPORAG_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # event-time ops (events.py) convert TIMESTAMP_NTZ columns via the
        # session zone; pin UTC so wall-clock arithmetic is host-independent
        .config("spark.sql.session.timeZone", "UTC")
    )
    active = SparkSession.getActiveSession()
    if active is None:
        b = b.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
