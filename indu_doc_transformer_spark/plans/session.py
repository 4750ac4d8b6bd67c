"""SparkSession factory with scale-appropriate defaults.

Tuned for the extraction workload: Arrow-batched pandas UDFs over
binary html blobs, AQE for runtime re-planning and skew-join defusal,
shuffle partition count sized for the local harness but meant to be
overridden (spark.sql.shuffle.partitions=auto via AQE coalescing on a
real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# One Arrow batch of html blobs must fit executor memory: with ~4 KiB
# synthetic docs 2048/batch is ~8 MiB; real web pages average ~100 KiB,
# so production configs should drop this to ~256.
ARROW_BATCH = 2048

# Spark lower()/upper() on non-ASCII text follow the JVM default locale
# (under tr_TR, 'I' lowers to dotless 'ı'); the Python kernels' str.lower
# and the DuckDB oracles are locale-free, so the locale is pinned.
JVM_LOCALE = "-Duser.language=en -Duser.country=US"


def get_spark(
    master: str | None = None,
    app_name: str = "indu-doc-transformer-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # local[N] -> N; cluster masters get a larger default and rely
        # on AQE coalescing
        if master.startswith("local["):
            n = master[len("local[") : -1]
            shuffle_partitions = 32 if n == "*" else max(8, int(n))
        else:
            shuffle_partitions = 400

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory size instead of maximizing task count:
        # without this, AQE keeps hundreds of sub-millisecond tasks per
        # stage and scheduling overhead dominates multi-stage plans
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # guide §9/§3.1: allow shuffled-hash join when the planner's
        # size conditions hold (build side fits a per-partition hash
        # map AND is much smaller) instead of always sort-merge — the
        # minhash band self-join measured 2.16s -> 1.67s warm at sf1.0
        # (skips the 200k-row broadcast build). Size-gated by the
        # planner, so huge-at-scale sides still get sort-merge's
        # graceful spill; AQE skew splitting covers SHJ too.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode runs driver AND all executor tasks in ONE JVM: at
        # 32 concurrent tasks + localCheckpoint storage the old 8g heap
        # sat in GC during the heavy stages (measured 2-4x rep-to-rep
        # variance on the assembly finishers at sf1.0); 16g removes the
        # thrash. Still env-overridable for smaller harnesses; cluster
        # deployments size executors separately (guide §5).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", JVM_LOCALE)
        .config("spark.executor.extraJavaOptions", JVM_LOCALE)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
