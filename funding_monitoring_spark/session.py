"""SparkSession factory.

Settings chosen for correctness-parity with the reference and for scale:

- UTC session timezone: the reference stores naive-UTC timestamps
  (``datetime.utcnow()`` at reference scripts/lending_data_etl.py:53);
  Spark timestamps are session-tz-relative, so pin UTC.
- AQE on: runtime coalescing + skew-join handling — the 100 TB story
  (skewed symbol keys) is handled by AQE + explicit salting helpers.
- Arrow on: every Python-boundary exchange (pandas UDFs in the
  extension operators, toPandas in tests) is columnar-batched.
- local[N] with N shuffle partitions, N = ``SPARK_GRAFT_CPUS`` or, when
  unset, the CPUs this process may run on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
DEFAULT_SHUFFLE_PARTITIONS = CPUS


def get_spark(
    app_name: str = "funding_monitoring_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    local[N] for tests/bench; on a real cluster the master comes from
    spark-submit and this factory only applies the engine confs.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{CPUS}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
