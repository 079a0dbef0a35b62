"""SparkSession factory tuned for the engine.

Local-mode defaults are sized by env vars the driver sets:
``SPARK_GRAFT_CPUS`` (default: all cores). At cluster scale the same
builder args apply; only master/memory change.

Key choices (scale rationale):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting —
  the mechanism that keeps the same plans healthy at 100 TB.
- ``spark.sql.shuffle.partitions`` ~= cores locally; on a real cluster this
  is superseded by AQE's coalescing from a high initial value.
- UTC session timezone: parity with the DuckDB oracle (UTC-naive timestamps).
- Arrow enabled: vectorized Pandas-UDF exchange for the few Python-side ops.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``): with it on,
  every ``functions`` call and ``Column`` method walks the Python stack
  and makes extra py4j round trips, which roughly doubles the time to
  build a query's Column trees. The trade: an execution error no longer
  names the Python line that built the failing expression; its error
  class and message are unchanged. It is a static SQL conf, so only
  ``get_spark`` sets it (``configure_existing`` cannot).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cdc-spark-engine",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        n = len(os.sched_getaffinity(0))
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else n

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a session we didn't build.

    The driver hands ``entry``/``queries`` an already-built session; static
    confs (master, memory) can't change, but SQL confs can.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # testdata events.parquet stores TIMESTAMP(NANOS); Spark only reads it
    # as a long (sources.tables.load_table converts to micros timestamp).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # tz-less parquet TIMESTAMP(MICROS) must read as LTZ, not NTZ: the whole
    # operator surface (casts to double, window ranges, date arithmetic) and
    # the DuckDB oracle parity assume epoch-based LTZ under the UTC session
    # timezone. Same raw micros either way — only the Spark-side type changes.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark
