"""SparkSession construction with scale-oriented defaults.

The engine never *requires* these settings — every operator works on a
vanilla session (the correctness driver supplies its own) — but tests and
bench use this builder so local runs exercise the same AQE/shuffle
configuration we would deploy on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the cores this process may
    run on (its CPU affinity, not the machine's core count)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "trignis-spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    - AQE on: runtime coalescing + skew-join handling stand in for the
      hand-tuning a 1000-executor cluster would otherwise need.
    - shuffle.partitions sized to the local core count; on a real
      cluster this is overridden (or left to AQE's initialPartitionNum).
    - UTC session timezone so timestamp semantics match the DuckDB
      oracle and are cluster-location independent.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
