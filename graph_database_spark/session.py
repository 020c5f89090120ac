"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to a single Neo4j instance over
per-row HTTP (src/main.js:6,210-239) — there is nothing to tune there.
Here every knob serves the 100 TB design goal: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the few pandas-UDF
operators, deterministic session timezone so timestamp results are
engine-portable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Driver heap default: half the host's physical RAM, capped at 16g.
    local[N] runs executors inside the driver JVM, so its heap is the
    engine's whole working memory; it must never exceed the host's RAM."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, ram // 2 // 2**30))}g"


def get_spark(
    app_name: str = "graph-database-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster callers pass their own master / leave it to
    spark-submit; every config here is cluster-safe.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local[N] runs everything in one JVM whose default 1g heap is far
        # below the host's RAM; only effective before JVM start.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()))
        # Keep catalog-table storage out of the working directory (bucketed
        # tables use explicit paths; this catches any default-path write).
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"))
        # Adaptive execution: runtime shuffle-partition coalescing and
        # skew-join splitting — the first line of defense at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for the (rare) pandas-UDF operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamps regardless of host timezone so results
        # are comparable across engines (DuckDB oracle is TZ-naive).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
