"""Tests of the benchmark's own parts: the event-log fold and span join
on a canned log, the py4j counter, and a tiny smoke run of every
workload (traced, so every layer metric is exercised).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j.java_gateway import GatewayClient

from perfbench import hostspeed, run
from perfbench.eventlog import fold, read_events
from perfbench.spans import SpanMetrics, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
CANNED = os.path.join(HERE, "testdata", "eventlog.jsonl")
TINY = {
    "pipeline": {"n_docs": 60, "warm_docs": 12},
    "curate": {"replicas": 1},
}


class FakeContext:
    """setJobDescription makes a py4j call, as the real one does."""

    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        GatewayClient.send_command(None, "setJobDescription")
        self.descriptions.append(value)


@pytest.fixture
def fake_py4j(monkeypatch):
    monkeypatch.setattr(GatewayClient, "send_command", lambda client, command: "ok")


def test_fold_canned_event_log():
    jobs = fold(read_events(CANNED))
    assert sorted(jobs) == [0, 1]
    j = jobs[0]
    assert j.description == "perfbench:2:pipeline.run_extraction"
    assert (j.submit_ms, j.end_ms) == (1000, 1800)
    t = j.totals
    assert (t["tasks"], t["tasks_failed"]) == (3, 1)
    assert t["executor_run_s"] == pytest.approx(0.65)
    assert t["executor_cpu_s"] == pytest.approx(0.35)
    assert t["gc_s"] == pytest.approx(0.01)
    assert t["spill_bytes"] == 12
    assert (t["shuffle_read_bytes"], t["shuffle_write_bytes"]) == (300, 300)
    assert t["peak_exec_mem_bytes"] == 2000
    # typed by the plan (ms), by an adaptive metric update (ns), and
    # untyped (the metric's documented type)
    assert t["python_run_s"] == pytest.approx(0.3)
    assert t["python_start_s"] == pytest.approx(0.002)
    assert t["python_bytes_received"] == 512
    assert t["python_bytes_sent"] == 4096
    assert j.stage_ms == {0: 500, 1: 200}
    assert j.task_ms == {0: [400, 100], 1: [150]}
    # stage 1 ran for job 0; job 1 only ran stage 2
    assert jobs[1].description is None
    assert jobs[1].totals["tasks"] == 1 and list(jobs[1].task_ms) == [2]


def test_spans_join_event_log(fake_py4j):
    sc = FakeContext()
    tracer = Tracer(sc)
    tracer.install()
    try:
        with tracer.span("pipeline") as root:
            GatewayClient.send_command(None, "a")
            with tracer.span("pipeline.run_extraction") as ext:
                for _ in range(3):
                    GatewayClient.send_command(None, "b")
    finally:
        tracer.uninstall()
    assert sc.descriptions == [
        "perfbench:1:pipeline",
        "perfbench:2:pipeline.run_extraction",
        "perfbench:1:pipeline",
        None,
    ]
    # the tracer's own setJobDescription calls are not counted
    assert (root.py4j_calls, ext.py4j_calls) == (1, 3)
    # span times on the canned log's clock (epoch seconds)
    root.start, root.end = 0.5, 3.0
    ext.start, ext.end = 0.9, 1.9
    sm = SpanMetrics(tracer, fold(read_events(CANNED)))
    assert sm.totals(root)["tasks"] == 3
    assert sm.totals(root, inclusive=False)["tasks"] == 0
    assert sm.job_wall(ext) == pytest.approx(0.8)
    assert sm.stages(root) == 2
    assert sm.task_skew(root) == pytest.approx(400 / 250)
    assert tracer.self_time(root) == pytest.approx(2.5 - 1.0)


def test_self_time_merges_overlapping_children():
    tracer = Tracer(FakeContext())
    from perfbench.spans import Span

    tracer.spans = [
        Span(1, "root", None, 0.0, 10.0),
        Span(2, "a", 1, 1.0, 3.0),
        Span(3, "b", 1, 2.0, 5.0),
        Span(4, "c", 1, 7.0, 8.0),
        Span(5, "d", 4, 7.0, 7.5),
    ]
    assert tracer.self_time(tracer.spans[0]) == pytest.approx(10 - 4 - 1)


def test_host_speed_factor(tmp_path):
    path = tmp_path / "hostspeed.txt"
    ref = hostspeed.REFERENCE_CHUNK_S
    # twenty loops at reference speed but for one stalled and one fast
    # loop, then ten at half speed; the guest is busy 40 ticks a loop,
    # of which the host steals 10 from t=2.5 on; the last line is still
    # being written
    cpu = [ref] * 20 + [2 * ref] * 10
    cpu[3], cpu[7] = 100 * ref, ref / 2
    steal = [max(0, 10 * (i - 25)) for i in range(30)]
    lines = [
        f"{i * 0.1:.6f} {c:.9f} {40 * i - s} {s}" for i, (c, s) in enumerate(zip(cpu, steal))
    ]
    path.write_text("\n".join(lines) + "\n3.000000 0.00")
    speed = hostspeed.HostSpeed(str(path))
    speed.stop()
    assert len(speed._samples) == 30
    # the slowest and fastest tenth are left out
    assert speed.factor(0.0, 0.95) == pytest.approx(1.0)
    assert speed.factor(0.0, 1.95) == pytest.approx(1.0)
    assert speed.factor(2.0, 2.45) == pytest.approx(0.5)
    # a quarter of the CPU time demanded from 2.5 to 2.9 was stolen
    assert speed.factor(2.5, 2.9) == pytest.approx(0.5 * 0.75)
    # no loop started inside: the nearest one
    assert speed.factor(2.42, 2.43) == pytest.approx(0.5)


def test_host_speed_probe_stops(tmp_path):
    with hostspeed.HostSpeed(str(tmp_path / "hostspeed.txt")) as speed:
        proc = speed._proc
        assert speed.factor(0.0, float("inf")) > 0
    assert proc.returncode is not None


def _per_layer_names():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


@pytest.mark.parametrize("workload", ["pipeline", "curate"])
def test_tiny_traced_smoke(workload):
    result = run.run(workload, 7, 0, True, sizes=TINY[workload])
    assert result["correct"] and result["failed"] == 0
    # curate's traced iteration follows an untraced one
    assert result["attempted"] == 2 + (workload == "curate")
    assert list(result["metrics"]) == _per_layer_names()
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0
    if workload == "pipeline":
        assert m["checkpoint.chunks"] == 4
        assert m["assembly.py4j_calls"] > 0 and m["assembly.request_rows"] > 0
        assert m["kernels.extract_document.docs_per_s"] > 0
        assert m["catalog.write_table.xtargets_s"] > 0
    else:
        assert 0 < m["curation.kept_frac"] < 1
        assert m["textstats.top_ngram_stats_s"] > 0
        assert m["assembly.assemble_s"] == 0


def test_corrupted_output_counts_as_failed(monkeypatch):
    """One altered extracted_text row fails the run's check."""
    from perfbench import workloads

    iterate = workloads.Pipeline.iterate

    def corrupting(self, spark, out):
        stats = iterate(self, spark, out)
        path = os.path.join(out, "extracted_text")
        table = pq.read_table(path)
        rows = table.to_pylist()
        rows[0]["extracted_text"] += " (altered)"
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=table.schema),
            os.path.join(path, "part-0.parquet"),
        )
        return stats

    monkeypatch.setattr(workloads.Pipeline, "iterate", corrupting)
    result = run.run("pipeline", 7, 0, False, sizes=TINY["pipeline"])
    assert (result["attempted"], result["failed"], result["correct"]) == (1, 1, False)
