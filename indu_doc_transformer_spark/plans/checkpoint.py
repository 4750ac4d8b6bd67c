"""Checkpoint/resume: completed-bucket registry for idempotent restart.

North rule: 'checkpoints completed partitions so a killed run resumes
idempotently at 10^12-document scale'. Scheme (SURVEY.md 4.2):

- the url space is bucketized by pmod(xxhash64(url), num_buckets);
- buckets are processed in chunks; each chunk's output is rebalanced
  on ``bucket`` and lands in bucket-partitioned storage with dynamic
  partition overwrite, so every bucket holds one file per chunk (AQE
  still splits a bucket larger than the advisory partition size);
  then the chunk's bucket ids are appended to a registry table;
- restart filters the input against the registry (here a simple
  NOT IN over the tiny registry), so completed buckets are never
  recomputed and a half-written chunk is rewritten idempotently
  (partition overwrite, deterministic GUIDs downstream).

The resume grain and the work grain are separate. ``num_buckets`` is
the resume grain: the unit the registry records. How many buckets one
chunk carries, and how many tasks one chunk's work runs in, is the
work grain; ``work_grain`` derives both from the input's size estimate
and the session, so an input that fits in one wave of tasks runs as one
chunk of one task per core, and a larger one as chunks of 8 buckets,
each run in byte-sized tasks.

The registry is tiny (num_buckets rows) — reading it to the driver is
deliberate, not a scale problem. Its rows are built from literals on
the JVM, so marking a chunk starts no Python worker.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import path_exists


class ProcessingControl:
    """Cooperative cancellation + processing state, the Spark recast of
    the reference's plugin stop-request surface and event state machine
    (/root/reference/src/indu_doc/plugins/plugin.py:131-142
    stop_processing; plugins/events.py:13-158 states).

    ``stop()`` is safe from any thread (a signal handler, a UI): it
    flips the flag AND cancels the run's Spark job group, so an
    in-flight chunk's tasks are interrupted rather than run to
    completion. ``run_checkpointed`` checks the flag between chunks and
    treats a cancelled in-flight chunk as a clean stop — the chunk is
    NOT marked complete, and because chunk output lands via dynamic
    partition overwrite with deterministic GUIDs downstream, a later
    run rewrites the half-written chunk idempotently and resumes from
    the registry. States: idle -> running -> stopped | done | error.
    """

    def __init__(self, spark: SparkSession, group: str = "indu-doc-pipeline"):
        self.spark = spark
        self.group = group
        self.state = "idle"
        self._stop = threading.Event()

    def stop(self) -> None:
        self._stop.set()
        try:
            self.spark.sparkContext.cancelJobGroup(self.group)
        except Exception:
            pass  # context already stopped: flag alone suffices

    @property
    def stopped(self) -> bool:
        return self._stop.is_set()


class BucketRegistry:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def completed(self) -> set[int]:
        """Registered bucket ids; empty only when no registry exists yet.
        A registry that exists but cannot be read raises, rather than
        restarting the run from zero."""
        if not path_exists(self.spark, self.path):
            return set()
        rows = self.spark.read.schema("bucket int").parquet(self.path).collect()
        return {r.bucket for r in rows}

    def frame(self, buckets: list[int]) -> DataFrame:
        """One ``bucket int`` row per id, from literals on the JVM."""
        return self.spark.range(1, numPartitions=1).select(
            F.explode(F.array(*[F.lit(int(b)) for b in buckets])).alias("bucket")
        )

    def mark(self, buckets: list[int]) -> None:
        self.frame(buckets).write.mode("append").parquet(self.path)


def bucket_col(num_buckets: int):
    return F.pmod(F.xxhash64(F.col("url")), F.lit(num_buckets)).cast("int")


# buckets per chunk for an input larger than one wave of tasks, or
# with no size estimate
MULTI_CHUNK = 8


def work_grain(
    size_bytes: int,
    target_bytes: int,
    cores: int,
    num_buckets: int,
    chunk_size: int | None = None,
    *,
    unknown_bytes: int,
) -> tuple[int, int]:
    """(buckets per chunk, tasks per chunk) for ``size_bytes`` of input
    split into ``num_buckets`` buckets, with ``target_bytes`` of input
    per task on ``cores`` task slots.

    An input that fits in one wave (``cores`` tasks of ``target_bytes``)
    is one chunk of all buckets; a larger one runs in chunks of
    ``MULTI_CHUNK`` buckets. An explicit ``chunk_size`` is honoured. A
    chunk runs in the fewest tasks of at most ``target_bytes`` each,
    rounded up to a multiple of ``cores`` (so no core idles for a
    wave). An estimate of ``unknown_bytes`` (the session's
    spark.sql.defaultSizeInBytes) or more means the size is unknown:
    chunks of ``MULTI_CHUNK`` buckets, one task per core."""
    unknown = size_bytes >= unknown_bytes
    if chunk_size is None:
        one_wave = not unknown and size_bytes <= cores * target_bytes
        chunk_size = num_buckets if one_wave else MULTI_CHUNK
    chunk_size = min(max(1, chunk_size), num_buckets)
    if unknown:
        return chunk_size, cores
    tasks = _ceil_div(size_bytes * chunk_size, num_buckets * target_bytes)
    return chunk_size, cores * max(1, _ceil_div(tasks, cores))


def _ceil_div(a: int, b: int) -> int:
    return -(-a // b)


def input_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of the source ``df`` scans: the sum over
    its plan's leaves (file bytes for a parquet/Iceberg scan). No Spark
    job runs. The leaves, not the root, because a projection scales an
    estimate by default column widths, which would turn the
    Long.MaxValue of an unsized leaf into a finite-looking number. A
    filter, limit or sample above the scan is not counted: such an
    input is sized as its whole source, so a caller that narrows a
    large table should pass ``chunk_size`` itself."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size())
    )


def run_checkpointed(
    docs: DataFrame,
    out_dir: str,
    process,
    num_buckets: int = 32,
    chunk_size: int = 8,
    control: ProcessingControl | None = None,
    on_chunk=None,
) -> dict:
    """Run ``process(chunk_df) -> DataFrame`` over bucket chunks with
    resume. Returns {'processed_chunks': n, 'skipped_buckets': m,
    'stopped': bool}.

    ``control`` enables cooperative stop (see ProcessingControl): each
    chunk's jobs run under the control's job group with task
    interruption on cancel; a stop request lands either between chunks
    (flag check) or mid-chunk (cancelled write raises, caught here) —
    in both cases the interrupted chunk is NOT registered and the
    restart redoes it idempotently. ``on_chunk(idx, n_chunks, todo)``
    is called before each chunk starts (CLI progress display)."""
    spark = docs.sparkSession
    registry = BucketRegistry(spark, os.path.join(out_dir, "_registry"))
    done = registry.completed()
    skipped = len(done)

    docs = docs.withColumn("bucket", bucket_col(num_buckets))
    chunks = [
        list(range(start, min(start + chunk_size, num_buckets)))
        for start in range(0, num_buckets, chunk_size)
    ]
    processed = 0
    stopped = False
    if control is not None:
        control.state = "running"
    try:
        for idx, chunk in enumerate(chunks):
            todo = [b for b in chunk if b not in done]
            if not todo:
                continue
            if control is not None and control.stopped:
                stopped = True
                break
            if on_chunk is not None:
                on_chunk(idx, len(chunks), todo)
            if control is not None:
                spark.sparkContext.setJobGroup(
                    control.group,
                    f"extract chunk {idx + 1}/{len(chunks)}",
                    interruptOnCancel=True,
                )
            try:
                sub = docs.where(F.col("bucket").isin(todo))
                out = process(sub).hint("rebalance", "bucket")
                (
                    out.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("bucket")
                    .parquet(os.path.join(out_dir, "extracted"))
                )
            except Exception:
                if control is not None and control.stopped:
                    # cancelled mid-chunk: half-written partitions are
                    # rewritten idempotently on resume; do NOT register
                    stopped = True
                    break
                if control is not None:
                    control.state = "error"
                raise
            registry.mark(todo)
            done.update(todo)
            processed += 1
    finally:
        if control is not None:
            # clear the per-thread job group so later jobs on this
            # thread aren't cancellable via this control
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            if control.state == "running":
                control.state = "stopped" if stopped else "done"
    return {
        "processed_chunks": processed,
        "skipped_buckets": skipped,
        "stopped": stopped,
    }
