"""Partitioned parquet sink — the layout that makes 100 TB readable.

``write_partitioned`` lays data out as ``path/col=value/..`` so any
downstream filter on the partition column prunes whole directories at
planning time (PartitionFilters in the scan, zero I/O for excluded
partitions). Choose LOW-cardinality columns (date, source, language);
partitioning by a high-cardinality key creates a small-file explosion —
that's what bucketing (sources/bucketed.py) is for.

On the local filesystem a stratum-heavy write is bound by file count,
not bytes. Without the native libhadoop, ``RawLocalFileSystem`` sets
permissions by forking ``chmod`` once per data file, per ``.crc`` file
and per directory. One such call costs ~1.5 ms (measured through
py4j on a 4-vCPU host, local[4], less the py4j round trip), whatever
the file's size. Writing the 500-row sf0.001 corpus into its 99
(lang, source) stratum files took 1.68 s from one task (~17 ms a file)
and 0.87 s from four hash-partitioned tasks (median of 7 each).
So spread the rows over the cores before writing: partition them by
the partition columns into a pinned number of partitions (curate.py
does), or AQE may coalesce the whole write into one task that creates
every file in turn.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(df: DataFrame, path: str, partition_by: list[str]) -> None:
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Plain read — partition columns come back as directory-derived
    columns; filters on them prune at planning time."""
    return spark.read.parquet(path)
