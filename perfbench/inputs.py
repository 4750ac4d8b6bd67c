"""Seeded inputs for the benchmark workloads.

Every input derives from the ``--seed`` argument alone: the same seed
gives byte-identical parquet. Inputs are staged with pyarrow before any
Spark session exists, so no generation work lands in a timed region.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from indu_doc_transformer_spark.sources.corpus import generate_doc

# the sf0.1 documents test table (5,000 rows), kept in the checkout
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "documents.parquet")
# replica r's ids live in [r * REPLICA_STRIDE, (r + 1) * REPLICA_STRIDE)
REPLICA_STRIDE = 1_000_000

CORPUS_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def corpus_docs(seed: int, n_docs: int) -> list[dict]:
    """``sources.corpus`` documents: all 12 page variants, Zipf hosts."""
    return [generate_doc(i, f"perfbench-{seed}") for i in range(n_docs)]


def replicated_documents(seed: int, replicas: int) -> pa.Table:
    """The documents table replicated ``replicas`` times with distinct
    ids, as ``scripts/curation_scale_probe.py`` replicates it (replica r
    adds ``r * REPLICA_STRIDE``). Each replica also adds a seed-derived
    shift, so the seed picks which copies of a text fall in the
    benchmark set ``doc_id % 10 == 0``. Replicas share their texts, so
    dedup and decontamination drop a real share."""
    base = pq.read_table(DOCUMENTS).replace_schema_metadata(None)
    top = pc.max(base["doc_id"]).as_py()
    rng = random.Random(f"perfbench-curate-{seed}")
    parts = []
    for r in range(replicas):
        shift = r * REPLICA_STRIDE + rng.randrange(REPLICA_STRIDE - top)
        ids = pc.add(base["doc_id"], pa.scalar(shift, pa.int64()))
        parts.append(base.set_column(0, "doc_id", ids))
    return pa.concat_tables(parts)


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Stage ``table`` as a directory of ``files`` parquet files (the
    layout a Spark write leaves, so scans split across cores)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(files):
        lo, hi = f * n // files, (f + 1) * n // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{f:05d}.parquet"))
