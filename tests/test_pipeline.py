"""Pipeline orchestration: end-to-end outputs + idempotent resume."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from indu_doc_transformer_spark import pipeline
from indu_doc_transformer_spark.operators import extraction as ex
from indu_doc_transformer_spark.plans.checkpoint import BucketRegistry, run_checkpointed
from indu_doc_transformer_spark.sources.corpus import corpus_df

N = 80


def test_full_pipeline_outputs(spark, tmp_path):
    out = str(tmp_path / "out")
    docs = corpus_df(spark, N, partitions=4)
    stats = pipeline.run_full(docs, out, num_buckets=8)
    assert stats["processed_chunks"] > 0

    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    assert extracted.count() == N
    # bucket partitioning present for pruning
    assert "bucket" in extracted.columns

    for t in pipeline.ENTITY_TABLES:
        df = spark.read.parquet(os.path.join(out, t))
        assert df.count() >= 0
    xt = spark.read.parquet(os.path.join(out, "xtargets"))
    assert xt.count() > 20
    et = spark.read.parquet(os.path.join(out, "extracted_text"))
    assert et.count() == N
    pm = spark.read.parquet(os.path.join(out, "metrics_partitions"))
    assert pm.agg(F.sum("docs")).first()[0] == N
    # E3 observed job-level counters cover every processed doc
    assert sum(m["docs"] for m in stats["observed"]) == N


def test_extracted_layout_one_file_per_bucket(spark, tmp_path):
    """Each chunk writes one file into each of its buckets, however many
    kernel tasks the chunk ran in."""
    out = str(tmp_path / "out")
    docs = corpus_df(spark, N, partitions=4)
    pipeline.run_full(docs, out, num_buckets=8, chunk_size=2)
    extracted = os.path.join(out, "extracted")
    bucket_dirs = [d for d in os.listdir(extracted) if d.startswith("bucket=")]
    assert len(bucket_dirs) == 8
    for d in bucket_dirs:
        files = os.listdir(os.path.join(extracted, d))
        data = [f for f in files if not f.startswith((".", "_"))]
        assert len(data) == 1, (d, files)
    pm = spark.read.parquet(os.path.join(out, "metrics_partitions"))
    assert pm.agg(F.sum("docs")).first()[0] == N


def _parquet_docs(spark, path, n=N):
    """A file-backed documents input (one file), so it has a size estimate."""
    corpus_df(spark, n, partitions=4).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def _assert_same_rows(a, b):
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_derived_grain_small_input_one_chunk(spark, tmp_path):
    """Default arguments on a small file-backed input: one chunk, one
    registry mark for all buckets, one kernel task per core, and the
    same tables as a one-bucket-per-chunk run."""
    from unittest.mock import patch

    from indu_doc_transformer_spark.plans.checkpoint import ProcessingControl

    docs = _parquet_docs(spark, str(tmp_path / "docs"))
    cores = spark.sparkContext.defaultParallelism
    out = str(tmp_path / "derived")
    tracker = spark.sparkContext.statusTracker()
    marks = []
    real_mark = BucketRegistry.mark

    def mark(self, buckets):
        marks.append(sorted(buckets))
        real_mark(self, buckets)

    # the control's job group tags the extraction jobs only
    control = ProcessingControl(spark, group="test-derived-grain")
    with patch.object(BucketRegistry, "mark", mark):
        stats = pipeline.run_full(docs, out, num_buckets=8, control=control)
    assert stats["chunk_size"] == 8 and stats["kernel_partitions"] == cores
    assert stats["processed_chunks"] == 1
    assert marks == [list(range(8))]
    # the input scan and the write run one task each here, so the
    # widest extraction stage is the kernel stage. A long session's
    # status store evicts skipped stages first: those read as None.
    stages = [
        tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup("test-derived-grain")
        for sid in tracker.getJobInfo(jid).stageIds
    ]
    stage_tasks = [s.numTasks for s in stages if s is not None]
    assert max(stage_tasks) == cores, stage_tasks
    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    pids = {r.partition_id for r in extracted.select("partition_id").distinct().collect()}
    assert pids == set(range(cores))

    ref = str(tmp_path / "one_bucket_chunks")
    ref_stats = pipeline.run_full(docs, ref, num_buckets=8, chunk_size=1)
    assert ref_stats["processed_chunks"] == 8
    for t in pipeline.ENTITY_TABLES + ["extracted_text"]:
        _assert_same_rows(
            spark.read.parquet(os.path.join(out, t)),
            spark.read.parquet(os.path.join(ref, t)),
        )


def test_multi_chunk_partition_metrics_one_row_per_kernel_task(spark, tmp_path):
    """Several chunks: ``partition_id`` numbers the kernel tasks of the
    whole run, so ``metrics_partitions`` has one row per task of every
    chunk, and its sums equal the extraction output's."""
    out = str(tmp_path / "out")
    stats = pipeline.run_extraction(corpus_df(spark, N), out, num_buckets=8, chunk_size=2)
    chunk_size, tasks = stats["chunk_size"], stats["kernel_partitions"]
    assert (stats["processed_chunks"], chunk_size) == (4, 2)
    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    by_pid = {}
    for r in extracted.select("partition_id", "bucket").collect():
        by_pid.setdefault(r.partition_id, set()).add(r.bucket // chunk_size)
    # every id belongs to one chunk, and chunk c owns ids c*tasks ..
    assert all(chunks == {pid // tasks} for pid, chunks in by_pid.items())
    assert len(by_pid) == stats["processed_chunks"] * tasks

    metrics = ex.partition_metrics(extracted).collect()
    assert sorted(r.partition_id for r in metrics) == sorted(by_pid)
    want = extracted.agg(
        F.count("*"),
        F.sum(F.size("rows")),
        F.sum(F.size(F.filter("errors", lambda e: e["severity"] == "FAULT"))),
    ).first()
    got = tuple(sum(r[k] for r in metrics) for k in ("docs", "rows", "faults"))
    assert got == tuple(want) and got[0] == N


@pytest.fixture(scope="module")
def extracted_out(spark, tmp_path_factory):
    """One extraction output that the wave tests assemble repeatedly."""
    out = str(tmp_path_factory.mktemp("wave") / "out")
    pipeline.run_extraction(corpus_df(spark, 40, partitions=4), out, num_buckets=4)
    return out


WAVE_TABLES = pipeline.ENTITY_TABLES + [
    "metrics_partitions", "extracted_text", "spans", "metadata",
]


def _wait_for_listeners(spark):
    """Job start/end events reach the status tracker asynchronously."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_run_assembly_wave_failure_waits_for_every_write(spark, extracted_out, monkeypatch):
    """A failing write is re-raised only after every other write of the
    wave has finished; no job is left running."""
    write = pipeline.write_table
    seen = []

    class Boom(Exception):
        pass

    def failing_write(df, path, *args, **kwargs):
        seen.append(os.path.basename(path))
        if os.path.basename(path) == "links":
            raise Boom(path)
        return write(df, path, *args, **kwargs)

    monkeypatch.setattr(pipeline, "write_table", failing_write)
    for t in WAVE_TABLES:
        # a table left by another test would hide a missing write
        shutil.rmtree(os.path.join(extracted_out, t), ignore_errors=True)
    with pytest.raises(Boom):
        pipeline.run_assembly(spark, extracted_out)
    _wait_for_listeners(spark)
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert sorted(seen) == sorted(WAVE_TABLES)
    for t in WAVE_TABLES:
        path = os.path.join(extracted_out, t)
        assert os.path.exists(os.path.join(path, "_SUCCESS")) == (t != "links"), t


def test_run_assembly_wave_inherits_job_group(spark, extracted_out, monkeypatch):
    """Every job of the write wave runs in the caller's job group, at
    least one per output: cancelling that group cancels the wave."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    assemble = pipeline.asm_op.assemble
    before_wave = {}

    def assemble_then_count(*args, **kwargs):
        tables = assemble(*args, **kwargs)
        _wait_for_listeners(spark)
        before_wave["jobs"] = set(tracker.getJobIdsForGroup("g"))
        return tables

    monkeypatch.setattr(pipeline.asm_op, "assemble", assemble_then_count)
    _wait_for_listeners(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "run_assembly write wave")
    try:
        pipeline.run_assembly(spark, extracted_out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    _wait_for_listeners(spark)
    wave = set(tracker.getJobIdsForGroup("g")) - before_wave["jobs"]
    assert len(wave) >= len(WAVE_TABLES)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    for t in WAVE_TABLES:
        assert os.path.exists(os.path.join(extracted_out, t, "_SUCCESS")), t


def test_run_assembly_releases_session_state(spark, extracted_out, monkeypatch):
    """run_assembly releases assemble's conn_all/xall/distinct_tags
    caches once the wave is written: the only persistent RDD a call
    leaves is the requests checkpoint ``finish`` received (still
    readable), and the CacheManager is empty again."""
    from indu_doc_transformer_spark.plans.cache import release_local_checkpoint

    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    finish = pipeline.asm_op.Assembler.finish
    requests = []

    def keep_requests(asm, reqs, *args, **kwargs):
        requests.append(reqs)
        return finish(asm, reqs, *args, **kwargs)

    monkeypatch.setattr(pipeline.asm_op.Assembler, "finish", keep_requests)
    spark.catalog.clearCache()
    for _ in range(2):
        before = set(jsc.getPersistentRDDs().keySet())
        pipeline.run_assembly(spark, extracted_out)
        # other tests' RDDs may be unpersisted by the ContextCleaner at
        # any time, so only the ids the call adds are checked
        reqs_id = requests[-1]._jdf.queryExecution().analyzed().rdd().id()
        assert set(jsc.getPersistentRDDs().keySet()) - before == {reqs_id}
        assert cache_manager.isEmpty()
        assert requests[-1].count() > 0
        release_local_checkpoint(requests[-1])
    for t in WAVE_TABLES:
        assert os.path.exists(os.path.join(extracted_out, t, "_SUCCESS")), t


def test_run_metadata_reconstructs_config(spark, tmp_path):
    """Run-metadata table (reference db.py:159-161,413-416): one row
    persisted with the assembly output from which the exact
    AspectsConfig and page setups can be reconstructed."""
    from indu_doc_transformer_spark.config import (
        DEFAULT_ASPECTS,
        PAGE_SETUPS,
        AspectsConfig,
        page_setups_from_json,
    )

    out = str(tmp_path / "out")
    docs = corpus_df(spark, 20, partitions=2)
    pipeline.run_full(docs, out, num_buckets=4)
    meta = spark.read.parquet(os.path.join(out, "metadata")).collect()
    assert len(meta) == 1
    row = meta[0]
    assert AspectsConfig.from_json_str(row.aspects_config) == DEFAULT_ASPECTS
    assert page_setups_from_json(row.page_setups) == PAGE_SETUPS
    assert row.entity_tables.split(",") == pipeline.ENTITY_TABLES
    assert row.spark_version == spark.version and row.app_id


def test_entity_tables_roundtrip_equality(spark, tmp_path):
    """S8/§5.3: written entity tables read back equal to the in-memory
    assembly result (the reference's DB save/load self-check,
    manager.py:505-531)."""
    from indu_doc_transformer_spark.operators import assembly as asm_op

    docs = corpus_df(spark, 60, partitions=4)
    tables = asm_op.assemble(ex.rows_table(ex.extract(docs, 4)))
    for name in ("xtargets", "connections", "links", "pins", "attributes"):
        p = str(tmp_path / name)
        tables[name].write.parquet(p)
        back = spark.read.parquet(p)
        orig = {tuple(r) for r in tables[name].collect()}
        assert {tuple(r) for r in back.collect()} == orig


def test_kill_and_resume_is_idempotent(spark, tmp_path):
    """Kill after the first chunk; restart; outputs equal an
    uninterrupted run with zero duplicate/lost urls (north rule)."""
    out_a = str(tmp_path / "interrupted")
    out_b = str(tmp_path / "clean")
    docs = corpus_df(spark, N, partitions=4)

    class Boom(Exception):
        pass

    calls = {"n": 0}

    def process(chunk):
        calls["n"] += 1
        if calls["n"] == 2:
            raise Boom()
        return chunk.select("url", "bucket")

    with pytest.raises(Boom):
        run_checkpointed(docs, out_a, process, num_buckets=8, chunk_size=2)
    done_after_kill = BucketRegistry(spark, os.path.join(out_a, "_registry")).completed()
    assert 0 < len(done_after_kill) < 8

    # restart (no Boom): only remaining buckets processed
    def process_ok(chunk):
        return chunk.select("url", "bucket")

    stats = run_checkpointed(docs, out_a, process_ok, num_buckets=8, chunk_size=2)
    assert stats["skipped_buckets"] == len(done_after_kill)

    run_checkpointed(docs, out_b, process_ok, num_buckets=8, chunk_size=2)

    a = {r.url for r in spark.read.parquet(os.path.join(out_a, "extracted")).collect()}
    b = {r.url for r in spark.read.parquet(os.path.join(out_b, "extracted")).collect()}
    assert a == b
    assert len(a) == N  # zero lost
    cnt = spark.read.parquet(os.path.join(out_a, "extracted")).count()
    assert cnt == N  # zero duplicated


def _stop_and_resume(spark, tmp_path, docs, num_buckets, chunk_size=None):
    """Cooperative stop (ProcessingControl — reference
    plugin.py:131-142 stop_processing recast): a stop requested while
    chunk 1 runs is honored at the next chunk boundary; the interrupted
    run's registry keeps whole completed chunks only, and rerunning the
    same pipeline resumes and produces output identical to an
    uninterrupted default run."""
    from indu_doc_transformer_spark.plans.checkpoint import ProcessingControl

    a = str(tmp_path / "a")
    pipeline.run_full(docs, a, num_buckets=num_buckets)

    b = str(tmp_path / "b")
    control = ProcessingControl(spark, group="test-stop")

    def on_chunk(idx, n_chunks, buckets):
        if idx == 1:  # deterministic: flag flips while chunk 1 runs
            control.stop()

    stats = pipeline.run_full(
        docs, b, num_buckets=num_buckets, chunk_size=chunk_size,
        control=control, on_chunk=on_chunk,
    )
    assert stats["stopped"] and control.state == "stopped"
    n_chunks = -(-num_buckets // stats["chunk_size"])
    assert 0 < stats["processed_chunks"] < n_chunks
    done = BucketRegistry(spark, os.path.join(b, "_registry")).completed()
    # whole chunks only, in chunk order
    assert done == set(range(stats["chunk_size"] * stats["processed_chunks"]))
    # assembly must NOT have run on the partial extraction
    assert not os.path.exists(os.path.join(b, "xtargets"))

    resumed = pipeline.run_full(docs, b, num_buckets=num_buckets, chunk_size=chunk_size)
    assert not resumed["stopped"] and resumed["skipped_buckets"] == len(done)
    for t in pipeline.ENTITY_TABLES + ["extracted_text"]:
        _assert_same_rows(
            spark.read.parquet(os.path.join(a, t)),
            spark.read.parquet(os.path.join(b, t)),
        )


def test_stop_between_chunks_and_resume(spark, tmp_path):
    """Explicit grain: chunks of 2 of 8 buckets on an unsized input."""
    _stop_and_resume(spark, tmp_path, corpus_df(spark, N, partitions=4), 8, 2)


def test_stop_between_derived_chunks_and_resume(spark, tmp_path):
    """Derived grain: a per-task target of a quarter of the input per
    wave makes the file-backed input larger than one wave, so its 24
    buckets run in three chunks of 8."""
    from indu_doc_transformer_spark.plans.checkpoint import input_bytes

    docs = _parquet_docs(spark, str(tmp_path / "docs"))
    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, f"{input_bytes(docs) // (4 * cores)}b")
    try:
        _stop_and_resume(spark, tmp_path, docs, 24)
    finally:
        spark.conf.set(key, old)


def test_cancel_mid_chunk_resumes_idempotently(spark, tmp_path):
    """stop() DURING a chunk's job cancels the job group (interrupt),
    the chunk is not registered, and a rerun rewrites its half-written
    partitions idempotently (dynamic partition overwrite) — final
    output equals a never-interrupted run."""
    import threading
    import time

    from pyspark.sql import functions as F

    from indu_doc_transformer_spark.plans.checkpoint import (
        ProcessingControl,
        run_checkpointed,
    )

    docs = corpus_df(spark, 48, partitions=4).select("url")

    def make_process(sleep_s):
        def process(chunk):
            def kern(batches):
                import hashlib
                import time as _t

                for pdf in batches:
                    _t.sleep(sleep_s)
                    pdf = pdf.copy()
                    pdf["digest"] = [
                        hashlib.md5(u.encode()).hexdigest() for u in pdf["url"]
                    ]
                    yield pdf[["url", "digest", "bucket"]]

            return chunk.mapInPandas(
                kern, schema="url string, digest string, bucket int"
            )

        return process

    a = str(tmp_path / "a")
    run_checkpointed(docs, a, make_process(0.0), num_buckets=4, chunk_size=1)

    b = str(tmp_path / "b")
    control = ProcessingControl(spark, group="test-cancel")
    fired = []

    def on_chunk(idx, n_chunks, buckets):
        if idx == 1 and not fired:
            fired.append(1)
            t = threading.Timer(0.7, control.stop)  # lands mid-job: the
            t.start()  # slow kernel holds chunk 1's job >= 1.5s

    stats = run_checkpointed(
        docs, b, make_process(1.5), num_buckets=4, chunk_size=1,
        control=control, on_chunk=on_chunk,
    )
    assert stats["stopped"]
    done = BucketRegistry(spark, os.path.join(b, "_registry")).completed()
    assert len(done) < 4, "cancelled chunk must not be registered"

    resumed = run_checkpointed(
        docs, b, make_process(0.0), num_buckets=4, chunk_size=1
    )
    assert not resumed["stopped"]
    key = lambda out: sorted(
        (r.url, r.digest)
        for r in spark.read.parquet(os.path.join(out, "extracted")).collect()
    )
    assert key(a) == key(b)


def test_cli_end_to_end(spark, tmp_path, capsys):
    """CLI parity (reference cli.py:135-217 / tests/test_cli.py
    spirit): synth corpus in, entity tables + stats block + JSON export
    out; -c and -e accept the reference-shaped config files and drive
    the run."""
    import glob
    import json

    from indu_doc_transformer_spark.__main__ import main
    from indu_doc_transformer_spark.config import (
        PAGE_SETUPS,
        AspectsConfig,
        page_setups_to_json,
    )

    # reference-shaped aspects config (config.json:1-16 layout)
    cfg = tmp_path / "aspects.json"
    cfg.write_text(json.dumps({"aspects": [
        {"Separator": "=", "Aspect": "Function"},
        {"Separator": "+", "Aspect": "Location"},
        {"Separator": "-", "Aspect": "Product"},
    ]}))
    setups = tmp_path / "setups.json"
    setups.write_text(page_setups_to_json(PAGE_SETUPS))

    out, exp = str(tmp_path / "out"), str(tmp_path / "exp")
    rc = main([
        "synth:60", "-o", out, "-c", str(cfg), "-e", str(setups),
        "--export", exp, "--no-progress", "--buckets", "4",
    ], spark=spark)
    captured = capsys.readouterr().out
    assert rc == 0, captured
    assert "Processing Statistics:" in captured
    # synth input has no size estimate: one chunk of the 4 buckets, one
    # kernel task per core
    cores = spark.sparkContext.defaultParallelism
    assert (f"Extraction: 1 chunk(s) run, 4 bucket(s) per chunk, "
            f"{cores} kernel task(s) per chunk") in captured
    assert "Xtargets:" in captured
    assert "Processing completed successfully!" in captured
    assert "Data exported to:" in captured
    # the -c config is recorded in run metadata (it drove assembly)
    meta = spark.read.parquet(os.path.join(out, "metadata")).collect()[0]
    assert AspectsConfig.from_json_str(meta.aspects_config) == \
        AspectsConfig.from_json_str(cfg.read_text())
    # exported entity JSON is real spark json output
    assert glob.glob(exp + "/xtargets/part-*")
    # bad input -> error path, exit 1
    assert main(["/nonexistent/nowhere.parquet", "-o", str(tmp_path / "o2"),
                 "--no-progress"], spark=spark) == 1


def test_custom_extraction_settings_missing_type_is_error_row(spark):
    """User-supplied -e settings that omit a classified page type must
    produce per-doc FAULT rows (the E2 rule), not a task-killing
    KeyError; docs of the remaining types extract normally."""
    import json

    from indu_doc_transformer_spark.config import (PAGE_SETUPS,
                                                   page_setups_to_json)

    docs = corpus_df(spark, 40, partitions=2)
    full = ex.extract(docs)
    types = {r.page_type for r in full.select("page_type").distinct().collect()
             if r.page_type}
    assert len(types) >= 2
    dropped = sorted(types)[0]
    setups = {k: v for k, v in PAGE_SETUPS.items() if k != dropped}
    out = ex.extract(docs, page_setups_json=page_setups_to_json(setups))
    rows = out.select("url", "page_type", "errors", "rows").collect()
    assert len(rows) == 40  # no task failures, every doc produced a row
    hit = [r for r in rows if r.page_type == dropped]
    assert hit, "corpus must contain the dropped type"
    for r in hit:
        assert any("No page setup" in e.message for e in r.errors), r
        assert r.rows == []
    ok = [r for r in rows if r.page_type in types and r.page_type != dropped]
    assert any(r.rows for r in ok)  # other types unaffected


def test_cli_input_routing(spark, monkeypatch):
    """A parquet path that merely CONTAINS '.warc' must route to the
    table reader, not the archive parser; real .warc/.warc.gz paths and
    globs route to the WARC reader."""
    from unittest.mock import MagicMock

    from indu_doc_transformer_spark import __main__ as cli
    from indu_doc_transformer_spark.sources import catalog, warc

    calls = []
    monkeypatch.setattr(warc, "read_warc", lambda s, p: calls.append(("warc", p)))
    monkeypatch.setattr(catalog, "read_table", lambda s, p: calls.append(("table", p)))
    for spec, want in [
        ("/d/crawl.warc_extracted.parquet", "table"),
        ("/d/x.warc.gz", "warc"),
        ("/d/x.warc", "warc"),
        ("/d/crawl/*.warc.gz", "warc"),
        ("/d/docs_parquet", "table"),
    ]:
        calls.clear()
        cli.load_input(MagicMock(), spec)
        assert calls and calls[0][0] == want, (spec, calls)
