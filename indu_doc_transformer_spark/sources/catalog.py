"""Table read/write layer.

Targets an Iceberg catalog in production (``writeTo(...).append()`` —
the Iceberg runtime jar is not in this sandbox), falling back to plain
parquet directories with dynamic partition overwrite, which preserves
the two properties the pipeline needs from Iceberg here:
column-pruned/predicate-pushed scans and idempotent partition-level
rewrites."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

USE_ICEBERG = bool(os.environ.get("SPARK_GRAFT_ICEBERG"))


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    if USE_ICEBERG:
        w = df.writeTo(path)
        if mode == "overwrite":
            if partition_by:
                from pyspark.sql import functions as F

                # partition spec rides the table DDL on (re)create;
                # append inherits it from the existing table
                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            w.createOrReplace()
        else:
            w.append()
        return
    w = df.write.mode(mode).option("partitionOverwriteMode", "dynamic")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    if USE_ICEBERG:
        return spark.read.format("iceberg").load(path)
    return spark.read.parquet(path)


def table_exists(spark: SparkSession, path: str) -> bool:
    if USE_ICEBERG:
        return spark.catalog.tableExists(path)
    return path_exists(spark, path)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists on its Hadoop filesystem (no Spark job)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(jsc).exists(p)
