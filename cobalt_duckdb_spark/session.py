"""SparkSession factory with scale-aware defaults.

The reference holds its whole corpus in one in-memory pandas frame
(``/root/reference/model/search/vector.py:134-135``); here every default is
chosen so the same logical plans survive a 1000-executor / 100 TB deployment:
AQE for runtime re-planning (partition coalescing + skew-join handling),
Arrow for every Python<->JVM crossing, and shuffle parallelism sized to the
local core count rather than Spark's legacy 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else this host's core count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "cobalt-duckdb-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Settings rationale:
    - ``spark.sql.adaptive.enabled``: runtime shuffle-partition coalescing and
      skew-join splitting; mandatory at 100 TB where static planning misses.
    - ``spark.sql.execution.arrow.pyspark.enabled``: Arrow-batched transfer for
      ``pandas_udf`` / ``toPandas`` — the vectorized Python path.
    - ``spark.sql.shuffle.partitions``: sized to cores locally; a real cluster
      deployment overrides this (or leaves AQE's coalescing to fix it).
    - ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics so
      results match the DuckDB oracle regardless of host TZ.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
