"""End-to-end extraction pipeline orchestration.

Stage 1 (extract): documents -> salted mapInPandas kernel -> nested
extraction table, written bucket-partitioned (one file per bucket per
chunk) with a completed-bucket registry (kill-and-restart resumes
idempotently). The resume grain (``num_buckets``, what the registry
records) is separate from the work grain (buckets per chunk and kernel
tasks per chunk), which comes from the input's size estimate and the
session (plans.checkpoint.work_grain).

Stage 2 (assemble): read extraction output back (explicit
materialization barrier: at 100 TB the extraction output is a real
Iceberg table, and assembly is a separate, restartable job), derive the
normalized rows and run the relational assembly. Its fourteen outputs
(the ten entity tables, per-partition metrics, extracted text, spans
and the run metadata) read only the extraction output and the
assembly's checkpoints, never each other, so they are written as one
concurrent wave of Spark jobs: one driver thread per output, whose
stages share the cores under the default FIFO scheduler.

The flagship query and benchmarks drive these two stages.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .config import (
    DEFAULT_ASPECTS,
    PAGE_SETUPS,
    AspectsConfig,
    page_setups_from_json,
    page_setups_to_json,
)
from .operators import assembly as asm_op
from .operators import extraction as ex
from .plans.cache import temp_caches
from .plans.checkpoint import input_bytes, run_checkpointed, work_grain
from .sources.catalog import read_table, write_table

ENTITY_TABLES = [
    "xtargets",
    "xtarget_aspects",
    "aspects",
    "connections",
    "links",
    "pins",
    "attributes",
    "object_attributes",
    "lineage",
    "errors",
]


def run_extraction(
    docs: DataFrame,
    out_dir: str,
    num_buckets: int = 32,
    chunk_size: int | None = None,
    control=None,
    on_chunk=None,
    page_setups_json: str | None = None,
) -> dict:
    """Stage 1 with checkpoint/resume. Extraction output keeps the
    bucket column for partition pruning downstream. ``control`` is a
    plans.checkpoint.ProcessingControl for cooperative stop (a stopped
    run resumes from the bucket registry); ``on_chunk`` is a progress
    callback (idx, n_chunks, buckets); ``page_setups_json`` overrides
    the built-in page setups (CLI -e/--extraction-settings).

    ``num_buckets`` is the resume grain; the work grain is separate.
    ``chunk_size=None`` derives the buckets per chunk from the input's
    size estimate: all buckets in one chunk when the input fits in one
    wave of ``defaultParallelism`` tasks of
    ``spark.sql.files.maxPartitionBytes`` each, else chunks of 8
    buckets. The kernel stage of every chunk runs in a multiple of
    ``defaultParallelism`` tasks of at most that many input bytes. The
    estimate is the size of the scanned source (see
    ``plans.checkpoint.input_bytes``): a filtered or limited input
    should pass ``chunk_size`` itself. The returned stats carry the
    chosen ``chunk_size`` and ``kernel_partitions``."""

    from pyspark.sql import Observation

    spark = docs.sparkSession
    sql_conf = spark._jsparkSession.sessionState().conf()
    chunk_size, kernel_partitions = work_grain(
        input_bytes(docs),
        sql_conf.filesMaxPartitionBytes(),
        spark.sparkContext.defaultParallelism,
        num_buckets,
        chunk_size,
        unknown_bytes=sql_conf.defaultSizeInBytes(),
    )
    observations: list[Observation] = []

    def process(chunk: DataFrame) -> DataFrame:
        pruned = chunk.select("url", "warc_ts", "html", "lang", "bucket")
        # the kernel is salted on (bucket, url): hashing on bucket alone
        # would leave some of the chunk's tasks with several buckets.
        # run_checkpointed rebalances the output on bucket for the write.
        pruned = pruned.repartition(kernel_partitions, F.col("bucket"), F.col("url"))
        extracted = pruned.mapInPandas(
            ex.make_extract_batches(page_setups_json),
            schema=ex.EXTRACTION_SCHEMA + ", bucket int",
        ).withColumn(
            # the kernel's task id restarts at 0 in every chunk; chunk c
            # (buckets c * chunk_size ..) gets ids from c * kernel_partitions
            "partition_id",
            F.expr(
                f"partition_id + {kernel_partitions}"
                f" * cast(bucket div {chunk_size} as int)"
            ),
        )
        # E3 job-level progress/counters: observed metrics ride the
        # write action, no extra pass (plugin.py:176-187 analog)
        obs = Observation(f"extract_chunk_{len(observations)}")
        observations.append(obs)
        return extracted.observe(
            obs,
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size("rows")).alias("rows"),
            F.sum(
                F.size(F.filter("errors", lambda e: e["severity"] == "FAULT"))
            ).alias("faults"),
        )

    stats = run_checkpointed(
        docs, out_dir, process, num_buckets, chunk_size,
        control=control, on_chunk=on_chunk,
    )
    # an interrupted chunk's observation never resolves — only read
    # observations for chunks that ran to completion
    stats["observed"] = [o.get for o in observations[: stats["processed_chunks"]]]
    stats["chunk_size"] = chunk_size
    stats["kernel_partitions"] = kernel_partitions
    return stats


def run_metadata(
    spark: SparkSession,
    config: AspectsConfig = DEFAULT_ASPECTS,
    page_setups: dict = PAGE_SETUPS,
) -> DataFrame:
    """One-row schema-contract table persisted alongside the entity
    tables (reference analog: exporters/db_builder/db.py:159-161 and
    the metadata insert at db.py:413-416, which stores
    ``configs.get_db_representation()``). A warehouse consumer can
    reconstruct the AspectsConfig and per-page-type setups that
    produced a run from the output alone — the entity schemas are
    config-dependent (aspect columns), so the output is not
    self-describing without this."""
    import datetime

    values = {
        "aspects_config": config.to_json_str(),
        "page_setups": page_setups_to_json(page_setups),
        "entity_tables": ",".join(ENTITY_TABLES),
        "spark_version": spark.version,
        "app_id": spark.sparkContext.applicationId,
        "created_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(),
    }
    # literal columns on the JVM: no Python worker for a one-row table
    return spark.range(1, numPartitions=1).select(
        *[F.lit(v).alias(k) for k, v in values.items()]
    )


def run_assembly(
    spark: SparkSession,
    out_dir: str,
    config: AspectsConfig = DEFAULT_ASPECTS,
    page_setups: dict = PAGE_SETUPS,
) -> None:
    """Stage 2: entity tables from the persisted extraction output.

    ``assemble`` runs first (its checkpoints are eager). Then the ten
    entity tables, ``metrics_partitions``, ``extracted_text``, ``spans``
    and ``metadata`` are written at the same time, one thread per
    output, each calling the module-level ``write_table``. The threads
    inherit the caller's local properties (job group, description), so
    cancelling the caller's job group cancels the wave. Every write
    finishes before this returns or raises; a failure is re-raised
    after the others finish, the first in output order. ``assemble``'s
    ``conn_all``, ``xall`` and ``distinct_tags`` caches are released once
    the wave is over; only its requests checkpoint stays with the
    session."""
    extracted = read_table(spark, os.path.join(out_dir, "extracted"))
    rows = ex.rows_table(extracted)
    with temp_caches() as cache:
        tables = asm_op.assemble(rows, config, cache=cache)
        outputs = {name: tables[name] for name in ENTITY_TABLES}
        # extraction-stage error channel joins the assembly one
        outputs["errors"] = tables["errors"].unionByName(ex.errors_table(extracted))
        # per-partition counter metrics (north rule)
        outputs["metrics_partitions"] = ex.partition_metrics(extracted)
        outputs["extracted_text"] = extracted.select("url", "page_type", "extracted_text")
        outputs["spans"] = ex.spans_table(extracted)
        # run-metadata: the config contract that produced this output
        outputs["metadata"] = run_metadata(spark, config, page_setups)
        with ThreadPoolExecutor(max_workers=len(outputs)) as pool:
            # one wrapper per thread: each gets its own copy of the
            # caller's local properties
            writes = [
                pool.submit(
                    inheritable_thread_target(spark)(write_table),
                    df,
                    os.path.join(out_dir, name),
                )
                for name, df in outputs.items()
            ]
        for w in writes:
            w.result()


def run_full(
    docs: DataFrame,
    out_dir: str,
    num_buckets: int = 32,
    config: AspectsConfig = DEFAULT_ASPECTS,
    control=None,
    on_chunk=None,
    page_setups_json: str | None = None,
    chunk_size: int | None = None,
) -> dict:
    """Both stages. A stop request during extraction skips assembly
    (the registry keeps the completed buckets; rerun to finish).
    ``num_buckets`` is the resume grain; ``chunk_size=None`` derives
    the work grain from the input and the session (see
    ``run_extraction``)."""
    stats = run_extraction(
        docs, out_dir, num_buckets, chunk_size,
        control=control, on_chunk=on_chunk, page_setups_json=page_setups_json,
    )
    if stats.get("stopped"):
        return stats
    setups = (
        PAGE_SETUPS
        if page_setups_json is None
        else page_setups_from_json(page_setups_json)
    )
    run_assembly(docs.sparkSession, out_dir, config, setups)
    return stats
