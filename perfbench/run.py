"""Paper-path benchmark: ``pipeline.run_full`` and the curation funnel,
driven through the library's public entry points on a
``local[<cores>]`` session built as ``scripts/run_pipeline.py`` builds
it, with every output checked against the repo's oracles.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics (docs_per_s, setup_s), timed in reference seconds
(see perfbench/hostspeed.py); ``--trace 1`` runs a
traced and an untraced iteration and reports the per-layer metrics (see
perfbench/README.md), writing the spans to
``.perfbench-work/trace-<workload>-<seed>.json``.

Everything the run writes stays under ``.perfbench-work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _import_library():
    """Import the package from this checkout only; exit non-zero without it."""
    sys.path.insert(0, ROOT)
    try:
        import indu_doc_transformer_spark as pkg
    except ImportError as e:
        sys.exit(f"perfbench: the library is not in {ROOT}: {e}")
    if not os.path.realpath(pkg.__file__).startswith(os.path.realpath(ROOT) + os.sep):
        sys.exit(f"perfbench: imported {pkg.__file__}, not the checkout's package")


def _isolate(work: str) -> None:
    """Point every temp/scratch location of Spark, the JVM, the Python
    workers and DuckDB inside the work dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = tmp


def _tree_rss(pid: int) -> int:
    """Resident bytes of every descendant of ``pid`` (the driver JVM and
    its Python workers), not counting ``pid`` itself."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total = 0
    todo = list(children.get(pid, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak RSS of the process tree, sampled from a thread every
    ``interval`` s while the ``with`` block runs."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, _tree_rss(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _start_spark(workload: str, trace_dir: str | None):
    from indu_doc_transformer_spark.plans.session import get_spark

    conf = {"spark.sql.files.maxPartitionBytes": "12m"}
    if trace_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + trace_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(master=f"local[{cores}]", app_name=f"perfbench-{workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Counts attempted and failed iterations; every iteration's output is
    checked against the oracle and must repeat the first one's digests."""

    def __init__(self, workload, spark, work: str):
        self.w = workload
        self.spark = spark
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.reference = None

    def iteration(self, keep: bool = False):
        """One timed iteration. Returns (wall seconds, monotonic start,
        monotonic end, stats, out dir), or None when it raised."""
        out = os.path.join(self.work, f"out{self.attempted}")
        self.attempted += 1
        t = time.monotonic()
        try:
            stats = self.w.iterate(self.spark, out)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        end = time.monotonic()
        _log(f"iteration {self.attempted}: {end - t:.2f}s wall")
        try:
            digests = self.w.check(out)
            if self.reference is None:
                self.reference = digests
            elif digests != self.reference:
                bad = sorted(k for k in digests if digests[k] != self.reference.get(k))
                raise RuntimeError(f"output differs from the checked run: {bad}")
        except Exception:
            traceback.print_exc()
            self.failed += 1
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        return end - t, t, end, stats, out


def _measure(runner: Runner, speed, seconds: float) -> dict:
    """Iterate until ``seconds`` of iterations are measured, and at least
    three times unless one iteration alone outlasts that window. The
    iteration time is the lower median of the wall times (the second
    fastest of three and of four alike, so one iteration more or less in
    the window does not move it along the JVM's warm-up), converted to
    reference seconds with the host's speed over the whole window."""
    walls, start, end = [], None, None
    while runner.failed < 3 and (
        not walls or sum(walls) < seconds or (len(walls) < 3 and walls[0] < seconds)
    ):
        r = runner.iteration()
        if r is not None:
            walls.append(r[0])
            start = r[1] if start is None else start
            end = r[2]
    if not walls:
        raise RuntimeError("every iteration failed")
    factor = speed.factor(start, end)
    _log(f"measured {len(walls)} iterations, host speed {factor:.3f}")
    return {"docs_per_s": runner.w.n_docs / (statistics.median_low(walls) * factor)}


def _trace(runner: Runner, speed, spark) -> dict:
    """A traced iteration, then an untraced one to compare it with. The
    traced one runs in the warm state the ``--trace 0`` figure measures,
    with the workload's layer wrappers and job descriptions: first after
    set-up for a workload measured by its first iteration (pipeline),
    after one untraced iteration for one measured by the median of
    several (curate)."""
    from perfbench.spans import Tracer

    w = runner.w
    tracer = Tracer(spark.sparkContext)
    with RssSampler() as rss:
        if w.untraced_before_trace and runner.iteration() is None:
            raise RuntimeError("a trace iteration failed")
        tracer.install()
        w.wrap(tracer)
        try:
            with tracer.span(w.name) as root:
                traced = runner.iteration(keep=True)
            w.traced_alone(spark, tracer)
        finally:
            tracer.uninstall()
        untraced = runner.iteration()
    if not (traced and untraced):
        raise RuntimeError("a trace iteration failed")
    return {
        "tracer": tracer,
        "root": root,
        # reference seconds: the host may change speed between the two
        "times": tuple(r[0] * speed.factor(r[1], r[2]) for r in (traced, untraced)),
        "speed": speed.factor(traced[1], traced[2]),
        "stats": traced[3],
        "out": traced[4],
        "live": w.live_metrics(),
        "peak_rss_mb": rss.peak / 2**20,
    }


def _layer_metrics(w, traced: dict, trace_dir: str, seed: int, spec: dict) -> dict:
    """Every per-layer metric from the spans, the folded event log and
    the single-process kernel probe."""
    from perfbench.eventlog import fold, read_events
    from perfbench.spans import SPARK_TOTALS, SpanMetrics
    from perfbench.workloads import kernel_probe

    (log,) = glob.glob(os.path.join(trace_dir, "*"))
    tracer, root = traced["tracer"], traced["root"]
    sm = SpanMetrics(tracer, fold(read_events(log)))
    m = {name: 0 for name in spec}
    m.update(w.layer_metrics(tracer, sm, traced["out"], traced["stats"]))
    m.update(traced["live"])
    pages = w.kernel_pages()
    if pages:
        docs_per_s, bytes_per_s = kernel_probe(pages)
        m["kernels.extract_document.docs_per_s"] = docs_per_s
        m["kernels.parse_blocks.bytes_per_s"] = bytes_per_s
        m["extraction.worker_overhead_s"] = (
            m["extraction.executor_run_s"] - w.n_docs / docs_per_s
        )
    totals = sm.totals(root)
    for k in SPARK_TOTALS:
        m[f"spark.{k}"] = totals[k]
    m["spark.jobs"] = len(sm.jobs(root))
    m["spark.stages"] = sm.stages(root)
    m["spark.task_skew"] = sm.task_skew(root)
    with_spans, without = traced["times"]
    m["trace.overhead_frac"] = with_spans / without - 1
    m["process.peak_rss_mb"] = traced["peak_rss_mb"]
    m["host.speed"] = traced["speed"]
    m["trace.root_self_s"] = tracer.self_time(root)
    sm.dump(os.path.join(WORK, f"trace-{w.name}-{seed}.json"))
    unknown = set(m) - set(spec)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {k: {"value": m[k], "unit": spec[k]} for k in spec}


def _spec() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def run(
    workload: str,
    seed: int,
    seconds: float,
    trace: bool,
    sizes: dict | None = None,
) -> dict:
    """One benchmark run; returns the result object."""
    end_to_end, per_layer = _spec()
    _import_library()
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _isolate(work)
        from perfbench.hostspeed import HostSpeed
        from perfbench.workloads import WORKLOADS

        w = WORKLOADS[workload](seed, work, **(sizes or {}))
        w.stage()
        _log(f"staged {w.n_docs} {workload} documents")
        trace_dir = os.path.join(work, "eventlog") if trace else None
        if trace_dir:
            os.makedirs(trace_dir)
        with HostSpeed(os.path.join(work, "hostspeed.txt")) as speed:
            t = time.monotonic()
            spark = _start_spark(workload, trace_dir)
            try:
                w.warm(spark)
                # start every measurement from a compacted heap: the heap
                # the warm-up happened to grow otherwise varies run to run
                spark.sparkContext._jvm.System.gc()
                end = time.monotonic()
                factor = speed.factor(t, end)
                setup_s = (end - t) * factor
                _log(f"set up in {end - t:.2f}s wall, host speed {factor:.3f}")
                runner = Runner(w, spark, work)
                if trace:
                    traced = _trace(runner, speed, spark)
                else:
                    values = _measure(runner, speed, seconds)
                    values["setup_s"] = setup_s
            finally:
                _stop_spark(spark)
        if trace:
            metrics = _layer_metrics(w, traced, trace_dir, seed, per_layer)
        else:
            metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}
        return {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
