"""Structured Streaming extraction: incremental processing with its own
checkpointing (the alternative resume path to plans/checkpoint.py).

The reference is a batch system with incremental flavor (SURVEY.md
2.9); the streaming recast reads the documents table as a file stream,
deduplicates by url within a watermark on warc_ts (late-data handling
the reference lacks), runs the same Arrow kernel, and writes with
Trigger.AvailableNow — a killed run resumes from the stream checkpoint
with exactly-once file-sink semantics."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators import extraction as ex
from ..sources.corpus import CORPUS_SCHEMA


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
    await_termination: bool = True,
):
    """Incremental extraction over a growing documents directory."""
    src = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )
    deduped = src.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )
    extracted = ex.extract(deduped)
    q = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    gap_seconds: int = 300,
    watermark: str = "10 minutes",
):
    """Custom stateful streaming operator (SURVEY 2.9 / T7-W2 as a
    stream): per-user sessionization with ``applyInPandasWithState``.

    Sessions closed by a later in-stream event are emitted immediately
    (in-batch gap detection); the trailing open session per user lives
    in the state store with an event-time timeout and flushes when the
    watermark passes ``last event + gap``. Returns rows
    (user_id, session_start_us, session_end_us, n_events)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_type = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start_us", LongType()),
            StructField("session_end_us", LongType()),
            StructField("n_events", IntegerType()),
        ]
    )
    state_type = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", IntegerType()),
        ]
    )
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdfs, state: GroupState):
        user_id = key[0]
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start_us": [start_us],
                    "session_end_us": [last_us],
                    "n_events": [n],
                }
            )
            return
        ts_us = []
        for pdf in pdfs:
            ts_us.extend(int(t.value) // 1000 for t in pdf["ts"])
        ts_us.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = None
            n = 0
        closed = []
        for t in ts_us:
            if start_us is None:
                start_us = last_us = t
                n = 1
            elif t - last_us > gap_us:
                closed.append((start_us, last_us, n))
                start_us = last_us = t
                n = 1
            else:
                last_us = t
                n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start_us": [c[0] for c in closed],
                    "session_end_us": [c[1] for c in closed],
                    "n_events": [c[2] for c in closed],
                }
            )

    schema = spark.read.parquet(input_dir).schema
    src = spark.readStream.schema(schema).parquet(input_dir)
    # parquet may carry TIMESTAMP_NTZ; watermarks need TimestampType
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        src.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_type, state_type, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_metrics(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
):
    """Windowed per-page-type counts with late-data handling — the
    streaming analog of the per-partition counter metrics."""
    src = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)
    extracted = ex.extract(src)
    agg = (
        extracted.withWatermark("warc_ts", "30 minutes")
        .groupBy(F.window("warc_ts", window), "page_type")
        .agg(F.count("*").alias("docs"), F.sum(F.size("rows")).alias("rows"))
    )
    return agg
