"""Spans around the calls into each layer's public functions.

The tracer wraps module attributes from the outside (the library itself
is unchanged): each wrapped call opens a span, tags every Spark job it
starts with ``setJobDescription("perfbench:<span id>:<name>")`` and
counts the py4j round trips made while it is the innermost open span.
After the run, ``span_totals`` joins the folded event log to the spans
through those job descriptions.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.java_gateway import GatewayClient

DESC_PREFIX = "perfbench:"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans opened from one driver thread; py4j calls from any thread
    (the assembly builds its branch plans on a thread pool) count toward
    the innermost open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._muted = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def _describe(self, span: Span | None) -> None:
        self._muted.on = True
        try:
            self.sc.setJobDescription(
                None if span is None else f"{DESC_PREFIX}{span.span_id}:{span.name}"
            )
        finally:
            self._muted.on = False

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans) + 1, name, parent, time.time())
        with self._lock:
            self.spans.append(s)
            self._stack.append(s)
        self._describe(s)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self._stack.pop()
                top = self._stack[-1] if self._stack else None
            self._describe(top)

    def _count_py4j(self) -> None:
        if getattr(self._muted, "on", False):
            return
        with self._lock:
            if self._stack:
                self._stack[-1].py4j_calls += 1

    # -- module-attribute wrappers --------------------------------------

    def wrap(self, owner, attr: str, name) -> None:
        """Replace ``owner.attr`` with a spanned call. ``name`` is the span
        name, or a function of the call's arguments returning it."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                return original(*args, **kwargs)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until ``uninstall``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        original = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kwargs):
            tracer._count_py4j()
            return original(client, *args, **kwargs)

        self.patch(GatewayClient, "send_command", send_command)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, value = self._patches.pop()
            setattr(owner, attr, value)

    # -- results ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.span_id]

    def descendants(self, span: Span) -> list[Span]:
        out = []
        todo = [span]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(kids)
        return out

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        return span.duration - _union(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end
        )


def _union(intervals, lo: float, hi: float) -> float:
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def span_of(job) -> int | None:
    d = job.description or ""
    if not d.startswith(DESC_PREFIX):
        return None
    return int(d[len(DESC_PREFIX) :].split(":", 1)[0])


SPARK_TOTALS = (
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "peak_exec_mem_bytes",
)


class SpanMetrics:
    """Event-log jobs joined to spans."""

    def __init__(self, tracer: Tracer, jobs: dict):
        self.tracer = tracer
        self.jobs_by_span: dict[int, list] = {}
        for job in jobs.values():
            sid = span_of(job)
            if sid is not None:
                self.jobs_by_span.setdefault(sid, []).append(job)

    def jobs(self, span: Span, inclusive: bool = True) -> list:
        ids = [span.span_id]
        if inclusive:
            ids += [s.span_id for s in self.tracer.descendants(span)]
        return [j for i in ids for j in self.jobs_by_span.get(i, [])]

    def totals(self, span: Span, inclusive: bool = True) -> Counter:
        out = Counter()
        for job in self.jobs(span, inclusive):
            for k, v in job.totals.items():
                if k == "peak_exec_mem_bytes":
                    out[k] = max(out[k], v)
                else:
                    out[k] += v
        return out

    def job_wall(self, span: Span) -> float:
        """Wall time covered by the span's jobs (submit to end)."""
        return _union(
            [
                (j.submit_ms / 1e3, (j.end_ms or j.submit_ms) / 1e3)
                for j in self.jobs(span)
            ],
            span.start,
            span.end,
        )

    def task_skew(self, span: Span) -> float:
        """max / median task time in the span's longest stage."""
        best = None
        for job in self.jobs(span):
            for stage, wall in job.stage_ms.items():
                tasks = job.task_ms.get(stage)
                if tasks and (best is None or wall > best[0]):
                    best = (wall, tasks)
        if best is None:
            return 0.0
        med = statistics.median(best[1])
        return max(best[1]) / med if med else 0.0

    def stages(self, span: Span) -> int:
        return sum(len(j.stage_ms) for j in self.jobs(span))

    def dump(self, path: str) -> None:
        """Spans with parent, start, end, self time, py4j calls and their
        own (self) Spark totals, as JSON."""
        out = []
        for s in self.tracer.spans:
            out.append(
                {
                    "span_id": s.span_id,
                    "name": s.name,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "duration_s": s.duration,
                    "self_s": self.tracer.self_time(s),
                    "py4j_calls": s.py4j_calls,
                    "jobs": len(self.jobs(s, inclusive=False)),
                    "spark_self": dict(self.totals(s, inclusive=False)),
                }
            )
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1)
