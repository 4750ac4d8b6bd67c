"""The benchmark workloads: staged inputs, warm-up, the timed iteration,
output checks against the repo's oracles, and the per-layer metrics of a
traced iteration.

Every layer metric is reported on every workload; a layer a workload
bypasses reports 0 there.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from indu_doc_transformer_spark import pipeline
from indu_doc_transformer_spark.kernels.assemble import assemble_documents
from indu_doc_transformer_spark.kernels.layout import extract_document
from indu_doc_transformer_spark.operators import assembly, curation, decontam
from indu_doc_transformer_spark.operators import extraction as ex
from indu_doc_transformer_spark.operators import textstats
from indu_doc_transformer_spark.plans import checkpoint
from indu_doc_transformer_spark.sources import catalog
from perfbench import inputs

CATALOG_TABLES = pipeline.ENTITY_TABLES + [
    "metrics_partitions",
    "extracted_text",
    "spans",
    "metadata",
]
# run-specific metadata columns, left out of the cross-run digest
_VOLATILE = {"metadata": ("app_id", "created_utc")}


class CheckFailed(Exception):
    """An output differs from its oracle or from the checked run."""


def table_rows(path: str, columns=None) -> list[dict]:
    return pq.read_table(path, columns=columns).to_pylist()


def table_digest(path: str, drop=()) -> tuple[int, int]:
    """(row count, order-insensitive sum of row hashes mod 2**64)."""
    total = 0
    rows = table_rows(path)
    for row in rows:
        for c in drop:
            row.pop(c, None)
        blob = json.dumps(row, sort_keys=True, default=str).encode("utf-8")
        total += int.from_bytes(hashlib.md5(blob).digest()[:8], "big")
    return len(rows), total % 2**64


def _expect_equal(name: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{name}: output differs from its oracle")


def kernel_probe(htmls: list[bytes], passes: int = 5) -> tuple[float, float]:
    """Single-process kernel rates outside Spark: (extract_document
    docs/s, parse_blocks bytes/s), each the median of ``passes``."""
    from indu_doc_transformer_spark.kernels.html import parse_blocks

    doc_t, parse_t = [], []
    for _ in range(passes):
        t = time.perf_counter()
        for h in htmls:
            extract_document(h)
        doc_t.append(time.perf_counter() - t)
        t = time.perf_counter()
        for h in htmls:
            parse_blocks(h)
        parse_t.append(time.perf_counter() - t)
    nbytes = sum(len(h) for h in htmls)
    return len(htmls) / statistics.median(doc_t), nbytes / statistics.median(parse_t)


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and data files under ``path`` (Spark's marker files skipped)."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            nbytes += os.path.getsize(os.path.join(d, f))
            nfiles += 1
    return nbytes, nfiles


class Pipeline:
    """``pipeline.run_full`` over a parquet corpus of ~2 KiB synthetic
    pages with all 12 variants and Zipf hosts: extraction, the checkpoint
    registry, assembly and the ~15 catalog writes."""

    name = "pipeline"
    # --trace 0 measures one iteration, the first after set-up; the
    # traced iteration takes that place
    untraced_before_trace = False

    def __init__(self, seed: int, work: str, n_docs: int = 2000, warm_docs: int = 64):
        self.seed = seed
        self.work = work
        self.n_docs = n_docs
        self.warm_docs = warm_docs
        self.corpus = os.path.join(work, "corpus")
        self.warm_corpus = os.path.join(work, "warm_corpus")
        self._docs: list[dict] = []
        self._expected: dict | None = None
        self.requests = []

    def stage(self) -> None:
        self._docs = inputs.corpus_docs(self.seed, self.n_docs)
        files = 2 * (os.cpu_count() or 1)
        inputs.write_parquet(_corpus_table(self._docs), self.corpus, files)
        # a disjoint seed: warm-up never sees the measured pages
        warm = inputs.corpus_docs(-1 - self.seed, self.warm_docs)
        inputs.write_parquet(_corpus_table(warm), self.warm_corpus, 4)

    def warm(self, spark) -> None:
        """Python workers through the extraction kernel (the eager rows
        checkpoint inside ``assemble``), the janino codegen of the nine
        assembly request branches (compiled once per JVM) and two
        finishers."""
        docs = catalog.read_table(spark, self.warm_corpus)
        tables = assembly.assemble(ex.rows_table(ex.extract(docs)))
        tables["xtargets"].count()
        tables["connections"].count()
        spark.catalog.clearCache()

    def iterate(self, spark, out: str) -> dict:
        docs = catalog.read_table(spark, self.corpus)
        return pipeline.run_full(docs, out)

    # -- checks ------------------------------------------------------------

    def _oracle(self) -> dict:
        """The God-factory oracle (``kernels.assemble.assemble_documents``)
        over the same pages, plus the kernel's per-url text, errors and
        counters."""
        asm = assemble_documents(self._docs)
        texts, ext_errors = {}, []
        n_rows = n_faults = n_spans = 0
        for d in self._docs:
            r = extract_document(d["html"])
            texts[d["url"]] = (r["page_type"], r["extracted_text"])
            ext_errors += [(d["url"], 1, sev, msg) for sev, msg in r["errors"]]
            n_faults += sum(sev == "FAULT" for sev, _ in r["errors"])
            n_spans += len(r["spans"])
            n_rows += len(r["rows"])
        return {
            "extracted_text": texts,
            "counters": (len(self._docs), n_rows, n_faults),
            "spans": n_spans,
            "xtargets": {(x["guid"], x["tag"], x["target_type"]) for x in asm.xtargets.values()},
            "xtarget_aspects": asm.xtarget_aspects(),
            "aspects": {(a["guid"], a["separator"], a["value"]) for a in asm.aspects.values()},
            "connections": {
                (c["guid"], c["src_guid"], c["dst_guid"], c["through_guid"])
                for c in asm.connections.values()
            },
            "links": {
                (l["guid"], l["name"], l["connection_guid"], l["src_pin_name"], l["dest_pin_name"])
                for l in asm.links.values()
            },
            "pins": {
                (p["guid"], p["name"], p["role"], p["child_guid"], p["link_guid"])
                for p in asm.pins.values()
            },
            "attributes": {
                (a["guid"], a["name"], a["type"], a["value_json"])
                for a in asm.attributes.values()
            },
            "object_attributes": asm.object_attrs,
            "lineage": asm.lineage,
            "errors": sorted(asm.errors + ext_errors),
        }

    # written table -> (columns compared, as a set or a sorted list)
    _ENTITY_COLUMNS = {
        "xtargets": ("guid", "tag", "target_type"),
        "xtarget_aspects": ("xtarget_guid", "aspect_guid", "sort_order"),
        "aspects": ("guid", "separator", "value"),
        "connections": ("guid", "src_guid", "dst_guid", "through_guid"),
        "links": ("guid", "name", "connection_guid", "src_pin_name", "dest_pin_name"),
        "pins": ("guid", "name", "role", "child_guid", "link_guid"),
        "attributes": ("guid", "name", "type", "value_json"),
        "object_attributes": ("object_guid", "attribute_guid"),
        "lineage": ("url", "page_no", "object_guid", "object_type"),
        "errors": ("url", "page_no", "severity", "message"),
    }

    def check(self, out: str) -> dict:
        """Every written table against the oracle; returns the per-table
        (rows, digest) the timed runs must repeat."""
        if self._expected is None:
            self._expected = self._oracle()
        want = self._expected
        got_text = {
            r["url"]: (r["page_type"], r["extracted_text"])
            for r in table_rows(os.path.join(out, "extracted_text"))
        }
        _expect_equal("extracted_text", got_text, want["extracted_text"])
        for table, cols in self._ENTITY_COLUMNS.items():
            rows = table_rows(os.path.join(out, table), list(cols))
            tuples = [tuple(r[c] for c in cols) for r in rows]
            got = sorted(tuples) if table == "errors" else set(tuples)
            if table != "errors" and len(got) != len(tuples):
                raise CheckFailed(f"{table}: duplicate rows")
            _expect_equal(table, got, want[table])
        metrics = table_rows(os.path.join(out, "metrics_partitions"))
        counters = tuple(sum(r[k] or 0 for r in metrics) for k in ("docs", "rows", "faults"))
        _expect_equal("metrics_partitions", counters, want["counters"])
        _expect_equal(
            "spans", pq.read_table(os.path.join(out, "spans")).num_rows, want["spans"]
        )
        return {
            t: table_digest(os.path.join(out, t), _VOLATILE.get(t, ()))
            for t in CATALOG_TABLES
        }

    # -- tracing -------------------------------------------------------------

    def wrap(self, tracer) -> None:
        tracer.wrap(pipeline, "run_full", "pipeline.run_full")
        tracer.wrap(pipeline, "run_extraction", "pipeline.run_extraction")
        tracer.wrap(pipeline, "run_assembly", "pipeline.run_assembly")
        tracer.wrap(pipeline, "write_table", _write_span)
        tracer.wrap(checkpoint.BucketRegistry, "completed", "checkpoint.completed")
        tracer.wrap(checkpoint.BucketRegistry, "mark", "checkpoint.mark")
        tracer.wrap(ex, "rows_table", "extraction.rows_table")
        tracer.wrap(assembly, "assemble", "assembly.assemble")
        finish = assembly.Assembler.finish
        requests = self.requests

        def keep_requests(asm, reqs, *args, **kwargs):
            requests.append(reqs)
            return finish(asm, reqs, *args, **kwargs)

        tracer.patch(assembly.Assembler, "finish", keep_requests)

    def traced_alone(self, spark, tracer) -> None:
        pass

    def kernel_pages(self, n: int = 200) -> list[bytes]:
        rng = random.Random(f"perfbench-probe-{self.seed}")
        return [d["html"] for d in rng.sample(self._docs, min(n, len(self._docs)))]

    def layer_metrics(self, tracer, sm, out: str, stats: dict) -> dict:
        m = {}
        ext = tracer.named("pipeline.run_extraction")[0]
        et = sm.totals(ext, inclusive=False)
        m["extraction.wall_s"] = ext.duration
        for k in (
            "executor_run_s", "executor_cpu_s", "python_run_s", "python_start_s",
            "python_bytes_sent", "python_bytes_received",
        ):
            m[f"extraction.{k}"] = et[k]
        observed = stats.get("observed") or []
        docs = sum(o["docs"] for o in observed)
        m["extraction.faults_per_doc"] = sum(o["faults"] for o in observed) / docs
        reg = tracer.named("checkpoint.completed") + tracer.named("checkpoint.mark")
        m["checkpoint.chunks"] = stats["processed_chunks"]
        m["checkpoint.registry_s"] = sum(s.duration for s in reg)
        m["checkpoint.jobs"] = sum(len(sm.jobs(s)) for s in reg)
        asm = tracer.named("assembly.assemble")[0]
        m["assembly.assemble_s"] = asm.duration
        m["assembly.driver_s"] = asm.duration - sm.job_wall(asm)
        m["assembly.py4j_calls"] = asm.py4j_calls
        for s in tracer.spans:
            if s.name.startswith("catalog.write_table."):
                m[s.name + "_s"] = s.duration
        m["catalog.bytes_written"], m["catalog.files_written"] = dir_bytes_files(out)
        return m

    def live_metrics(self) -> dict:
        """Counts that need the session, taken after the traced run."""
        return {"assembly.request_rows": self.requests[-1].count()}


def _corpus_table(docs: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(docs, schema=inputs.CORPUS_ARROW_SCHEMA)


def _write_span(df, path, *args, **kwargs) -> str:
    return "catalog.write_table." + os.path.basename(path.rstrip("/"))


class Curate:
    """The curation funnel of ``scripts/run_curation.py`` over the sf0.1
    documents table replicated with seed-derived distinct ids:
    ``curation.curate`` -> flags write -> survivors join +
    ``textstats.pii_redact`` write -> ``funnel_stats`` write. No
    extraction, checkpoint or assembly."""

    name = "curate"
    # --trace 0 reports the median of several iterations, so the traced
    # iteration follows an untraced one and is as warm as that median
    untraced_before_trace = True

    def __init__(self, seed: int, work: str, replicas: int = 4):
        self.seed = seed
        self.work = work
        self.replicas = replicas
        self.n_docs = 0
        self.docs = os.path.join(work, "documents")
        self.warm_docs_path = os.path.join(work, "warm_documents")
        self._expected: list[tuple] = []

    def stage(self) -> None:
        docs = inputs.replicated_documents(self.seed, self.replicas)
        self.n_docs = docs.num_rows
        files = 2 * (os.cpu_count() or 1)
        inputs.write_parquet(docs, self.docs, files)
        # other ids: warm-up never runs the measured table
        warm = inputs.replicated_documents(-1 - self.seed, 1)
        inputs.write_parquet(warm, self.warm_docs_path, files)
        # before the session starts, so DuckDB never runs between the
        # measured iterations
        self._expected = self._oracle()

    def warm(self, spark) -> None:
        """The whole funnel on one replica under other ids: once for the
        Python workers of both Arrow gram kernels and the codegen of
        every plan, then twice more: each run of the funnel is faster
        than the one before for the first five or so, whatever the
        table, and the median must not sit on that slope."""
        for i in range(3):
            self._funnel(spark, self.warm_docs_path, os.path.join(self.work, f"warm_out{i}"))

    def iterate(self, spark, out: str) -> dict:
        return self._funnel(spark, self.docs, out)

    @staticmethod
    def split(docs):
        from pyspark.sql import functions as F

        return docs.where(F.col("doc_id") % 10 != 0), docs.where(F.col("doc_id") % 10 == 0)

    def _funnel(self, spark, src: str, out: str) -> dict:
        from pyspark.sql import functions as F

        train, bench = self.split(catalog.read_table(spark, src))
        flags = curation.curate(train, bench)
        catalog.write_table(flags, os.path.join(out, "flags"))
        flags_w = catalog.read_table(spark, os.path.join(out, "flags"))
        survivors = train.join(
            flags_w.where(F.col("keep") == 1).select(F.col("id").alias("doc_id")),
            "doc_id",
        ).withColumn("text", textstats.pii_redact(F.col("text")))
        catalog.write_table(survivors, os.path.join(out, "curated"))
        catalog.write_table(curation.funnel_stats(flags_w), os.path.join(out, "funnel"))
        return {}

    # -- checks ------------------------------------------------------------

    def _oracle(self) -> list[tuple]:
        """``q_curation_funnel``'s DuckDB SQL over the same documents."""
        import duckdb

        import __spark_entry__

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb')}'")
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.docs, '*.parquet')}')"
            )
            rows = con.execute(__spark_entry__.oracle_sql()["q_curation_funnel"]).fetchall()
        finally:
            con.close()
        return sorted(tuple(int(v) for v in r) for r in rows)

    def check(self, out: str) -> dict:
        want = self._expected
        cols = ("id", "dedup_keep", "gopher_keep", "rep_keep", "decon_keep", "keep")
        flags = sorted(
            tuple(r[c] for c in cols) for r in table_rows(os.path.join(out, "flags"))
        )
        _expect_equal("flags", flags, want)
        kept = sorted(r[0] for r in want if r[5] == 1)
        curated = sorted(r["doc_id"] for r in table_rows(os.path.join(out, "curated"), ["doc_id"]))
        _expect_equal("curated", curated, kept)
        funnel = table_rows(os.path.join(out, "funnel"))
        expected_funnel = [
            {
                "total": len(want),
                "drop_dedup": sum(1 - r[1] for r in want),
                "drop_gopher": sum(1 - r[2] for r in want),
                "drop_repetition": sum(1 - r[3] for r in want),
                "drop_decontam": sum(1 - r[4] for r in want),
                "kept": len(kept),
            }
        ]
        _expect_equal("funnel", funnel, expected_funnel)
        return {t: table_digest(os.path.join(out, t)) for t in ("flags", "curated", "funnel")}

    # -- tracing -------------------------------------------------------------

    def wrap(self, tracer) -> None:
        tracer.wrap(catalog, "write_table", _write_span)
        tracer.wrap(curation, "curate", "curation.curate")
        tracer.wrap(curation, "funnel_stats", "curation.funnel_stats")

    def kernel_pages(self, n: int = 200) -> list[bytes]:
        return []

    def live_metrics(self) -> dict:
        return {}

    def traced_alone(self, spark, tracer) -> None:
        """Each curation operator executed alone (noop sink)."""
        train, bench = self.split(catalog.read_table(spark, self.docs))
        with tracer.span("textstats.top_ngram_stats"):
            _run(textstats.top_ngram_stats(train, "doc_id", "text"))
        with tracer.span("decontam.ngram_contamination"):
            _run(decontam.ngram_contamination(train, bench, "doc_id", "text", n=4))

    def layer_metrics(self, tracer, sm, out: str, stats: dict) -> dict:
        m = {}
        for table, metric in (
            ("flags", "flags_write_s"),
            ("curated", "survivors_write_s"),
            ("funnel", "funnel_write_s"),
        ):
            m[f"curation.{metric}"] = tracer.named(f"catalog.write_table.{table}")[0].duration
        funnel = table_rows(os.path.join(out, "funnel"))[0]
        m["curation.kept_frac"] = funnel["kept"] / funnel["total"]
        m["textstats.top_ngram_stats_s"] = tracer.named("textstats.top_ngram_stats")[0].duration
        m["decontam.ngram_contamination_s"] = tracer.named("decontam.ngram_contamination")[0].duration
        m["catalog.bytes_written"], m["catalog.files_written"] = dir_bytes_files(out)
        return m


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


WORKLOADS = {w.name: w for w in (Pipeline, Curate)}
