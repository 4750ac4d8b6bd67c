"""The vectorized extraction operator: documents table -> structured
per-url extraction output.

One Arrow-batched ``mapInPandas`` pass per partition runs the pure
kernel (kernels/layout.extract_document) over each document and emits
a nested row per url: page_type, footer, extracted_text (byte-stable
golden), structural spans, normalized region rows, and the per-page
error channel. Everything downstream (entity assembly, metrics) is
pure DataFrame algebra on this output.

Scale design (north rule):
- Zipfian host/domain skew is defused by hash-partitioning on the full
  url before the kernel stage: ``salt_by_url`` repartitions on url
  (``extract(num_partitions=n)``), and ``pipeline.run_extraction``
  repartitions each chunk on (bucket, url) into its work-grain tasks.
- the kernel never fails a task: per-document faults become error rows
  (reference E2 pattern, table_extractor.py:203-215).
- input column pruning: only (url, warc_ts, html, lang) are read, so
  Parquet/Iceberg scans skip ``text`` entirely.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXTRACTION_SCHEMA = (
    "url string, warc_ts timestamp, lang string, page_no int, page_type string, "
    "footer struct<project_name:string, product_name:string, tags:array<string>>, "
    "extracted_text string, "
    "spans array<struct<region:string, kind:string, row_idx:int, loc:array<double>, text:string>>, "
    "rows array<struct<row_idx:int, cols:map<string,string>, loc:array<double>, loc_repr:string>>, "
    "errors array<struct<severity:string, message:string>>, "
    "partition_id int"
)


def make_extract_batches(page_setups_json: str | None = None):
    """Kernel factory: ``page_setups_json`` (config.page_setups_to_json
    form, the CLI's -e/--extraction-settings payload) overrides the
    built-in PAGE_SETUPS; the closure ships the JSON string and each
    worker parses it once. None keeps the built-ins with zero parse
    cost."""

    def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the worker: keeps the closure tiny for pickling
        from pyspark import TaskContext

        from ..kernels.layout import extract_document

        if page_setups_json is None:
            kernel = extract_document
        else:
            from ..config import page_setups_from_json

            setups = page_setups_from_json(page_setups_json)

            def kernel(html):
                return extract_document(html, setups)

        tc = TaskContext.get()
        pid = tc.partitionId() if tc else -1

        for pdf in batches:
            n = len(pdf)
            out = {
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "lang": pdf["lang"],
                "page_no": [1] * n,
                "page_type": [],
                "footer": [],
                "extracted_text": [],
                "spans": [],
                "rows": [],
                "errors": [],
                "partition_id": [pid] * n,
            }
            if "bucket" in pdf.columns:  # checkpointed pipeline passthrough
                out["bucket"] = pdf["bucket"]
            for html in pdf["html"]:
                r = kernel(html)
                out["page_type"].append(r["page_type"])
                out["footer"].append(r["footer"])
                out["extracted_text"].append(r["extracted_text"])
                out["spans"].append(
                    [
                        (s["region"], s["kind"], s["row_idx"], s["loc"], s["text"])
                        for s in r["spans"]
                    ]
                )
                out["rows"].append(
                    [
                        (row["row_idx"], row["cols"], row["loc"], row["loc_repr"])
                        for row in r["rows"]
                    ]
                )
                out["errors"].append([(sev, msg) for sev, msg in r["errors"]])
            yield pd.DataFrame(out)

    return extract_batches


def salt_by_url(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit url-hash salting + repartition (north rule): hash-
    partition on the full url so a hot host cannot stall a partition.

    Deliberately NOT repartition(n, pmod(xxhash64(url), n)): feeding n
    distinct salt values into n hash partitions collides (balls-into-
    bins — some partitions get 3 salts, some 0). Hashing the url itself
    gives each of the many distinct urls an independent partition draw,
    which is statistically uniform regardless of the host distribution.
    """
    return df.repartition(num_partitions, F.col("url"))


def extract(
    docs: DataFrame,
    num_partitions: int | None = None,
    page_setups_json: str | None = None,
) -> DataFrame:
    """documents (url, warc_ts, html, lang, ...) -> extraction output.
    ``page_setups_json`` overrides the built-in page setups (CLI -e)."""
    cols = ["url", "warc_ts", "html", "lang"]
    pruned = docs.select(*cols)
    if num_partitions:
        pruned = salt_by_url(pruned, num_partitions)
    return pruned.mapInPandas(
        make_extract_batches(page_setups_json), schema=EXTRACTION_SCHEMA
    )


# ------------------------------------------------------------------
# Derived flat views (pure relational; Catalyst prunes the nested
# columns it does not need)
# ------------------------------------------------------------------


def rows_table(extracted: DataFrame) -> DataFrame:
    """Normalized per-row table: (url, page_no, page_type, footer_tags,
    row_idx, cols, loc, loc_repr)."""
    return (
        extracted.where(F.size("rows") > 0)
        .select(
            "url",
            "page_no",
            "page_type",
            F.col("footer.tags").alias("footer_tags"),
            F.explode("rows").alias("r"),
        )
        .select(
            "url",
            "page_no",
            "page_type",
            "footer_tags",
            F.col("r.row_idx").alias("row_idx"),
            F.col("r.cols").alias("cols"),
            F.col("r.loc").alias("loc"),
            F.col("r.loc_repr").alias("loc_repr"),
        )
    )


def errors_table(extracted: DataFrame) -> DataFrame:
    """Metrics/errors side channel (E1): (url, page_no, severity, message)."""
    return (
        extracted.where(F.size("errors") > 0)
        .select("url", "page_no", F.explode("errors").alias("e"))
        .select(
            "url",
            "page_no",
            F.col("e.severity").alias("severity"),
            F.col("e.message").alias("message"),
        )
    )


def spans_table(extracted: DataFrame) -> DataFrame:
    """Structural spans per url."""
    return (
        extracted.where(F.size("spans") > 0)
        .select("url", "page_type", F.explode("spans").alias("s"))
        .select(
            "url",
            "page_type",
            F.col("s.region").alias("region"),
            F.col("s.kind").alias("kind"),
            F.col("s.row_idx").alias("row_idx"),
            F.col("s.loc").alias("loc"),
            F.col("s.text").alias("text"),
        )
    )


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition counter metrics (north rule): docs, rows, faults.
    One row per kernel task: ``pipeline.run_extraction`` numbers the
    tasks of chunk c from c * (kernel tasks per chunk), so the ids of a
    run with several chunks do not collide."""
    return extracted.groupBy("partition_id").agg(
        F.count("*").alias("docs"),
        F.sum(F.size("rows")).alias("rows"),
        F.sum(
            F.size(F.filter("errors", lambda e: e["severity"] == "FAULT"))
        ).alias("faults"),
        F.sum(F.when(F.col("page_type").isNull(), 1).otherwise(0)).alias("unclassified"),
    )


def extract_from_warc(
    spark,
    path: str,
    page_setups_json: str | None = None,
    max_concurrent_files: int | None = None,
) -> DataFrame:
    """Fused WARC-ingest + extraction: one mapInPandas pass streams
    each archive's records (sources.warc streaming walker) and runs the
    extraction kernel on every page IN the same Python worker — the
    raw html bytes NEVER cross the Arrow/JVM boundary, only the small
    structured extraction rows do.

    Why: the chained form (read_warc -> extract) ships every decoded
    page through Arrow twice (worker -> JVM -> worker). Measured at
    local[32]: ingest-only delivery runs at ~78k docs/s vs ~443k for
    the bare walker (the ship IS the ingest ceiling), and fusing wins
    ~8% end-to-end on a realistic 24k-page corpus where extraction
    compute dominates — more when pages are large relative to kernel
    cost. Use the chained form when the documents table must be
    materialized anyway (the warehouse layout); use this when crawl
    archives feed extraction directly. Parity with the chained form is
    test-pinned."""
    from ..sources.warc import _file_source, _is_local, warc_frames

    kernel = make_extract_batches(page_setups_json)
    src = _file_source(spark, path, _is_local(path), max_concurrent_files)
    # the kernel reads url/warc_ts/html/lang only: the frames' warc_file
    # column stays in the worker, like the html
    return src.mapInPandas(
        lambda batches: kernel(warc_frames(batches)), schema=EXTRACTION_SCHEMA
    )


def extract_from_warc_indexed(
    spark,
    index: DataFrame,
    warc_root: str | None = None,
    records_per_split: int = 10_000,
    num_partitions: int | None = None,
    page_setups_json: str | None = None,
) -> DataFrame:
    """Fused CDX-indexed ingest + extraction: the giant-archive escape
    hatch (sources/warc.read_warc_indexed task layout) composed with
    the fused-kernel rule of extract_from_warc — record ranges of ONE
    pathological archive split across tasks, html never crossing the
    Arrow/JVM boundary. Parity with read_warc_indexed -> extract is
    test-pinned."""
    from ..sources.warc import _split_index, index_frames

    kernel = make_extract_batches(page_setups_json)
    idx = _split_index(spark, index, warc_root, records_per_split, num_partitions)
    return idx.mapInPandas(
        lambda batches: kernel(index_frames(batches)), schema=EXTRACTION_SCHEMA
    )
