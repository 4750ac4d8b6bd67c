"""Host CPU speed, sampled beside the measured work.

The benchmark's machines are virtual CPUs on shared hosts, whose speed
swings by a third or more over tens of seconds as other tenants load the
host: a fixed single-threaded loop takes 0.18 s in one minute and 0.30 s
in the next. Every timing the benchmark reports is therefore also
expressed in reference seconds: wall time scaled by the host's speed
while that time passed, relative to a reference machine.

The host slows the guest in two ways, and the speed is the product of
both. Its cores run slower (other tenants on sibling hyperthreads and
shared caches): the probe, a separate process that never holds the
driver's GIL, runs a fixed pure-Python loop once every ``PERIOD_S`` and
records the loop's CPU time against ``REFERENCE_CHUNK_S``. CPU time, not
wall time: the probe shares the guest's CPUs with the measured work, so
its wall time would measure the benchmark's own scheduling. And it
withholds the virtual CPUs altogether (steal time): the probe also
records the guest's busy and stolen CPU time from ``/proc/stat``, and
the share of demanded CPU time the host stole is taken off the speed.
At about 3 ms a period the probe takes ~1% of a 4-core machine.

    python3 -m perfbench.hostspeed     # prints the loop's CPU time on this host
"""

from __future__ import annotations

import itertools
import os
import statistics
import subprocess
import sys
import time

# median CPU time of one ``_loop(LOOP_N)`` on an idle 4-vCPU Xeon VM
# (Python 3.11): a reference second is one second of that machine's work
REFERENCE_CHUNK_S = 0.0033
LOOP_N = 25_000
PERIOD_S = 0.1


def _loop(n: int) -> int:
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return x


def _busy_steal() -> tuple[int, int]:
    """The guest's busy and stolen CPU time so far, in clock ticks."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def _sample_forever(path: str, parent: int) -> None:
    """Append ``<monotonic start> <loop cpu seconds> <busy ticks> <steal
    ticks>`` per loop until the parent process is gone. Successive loops run on each of the
    process's CPUs in turn: the host moves each virtual CPU between
    faster and slower cores every few seconds, and the measured work
    runs on all of them."""
    cpus = sorted(os.sched_getaffinity(0))
    with open(path, "w", encoding="ascii") as f:
        for i in itertools.count():
            if os.getppid() != parent:
                break
            os.sched_setaffinity(0, {cpus[i % len(cpus)]})
            t = time.monotonic()
            busy, steal = _busy_steal()
            c = time.thread_time()
            _loop(LOOP_N)
            f.write(f"{t:.6f} {time.thread_time() - c:.9f} {busy} {steal}\n")
            f.flush()
            time.sleep(max(0.0, PERIOD_S - (time.monotonic() - t)))


class HostSpeed:
    """Runs the probe process while the ``with`` block runs; afterwards
    ``factor(t0, t1)`` is the host's speed over that monotonic interval
    relative to the reference (above 1: faster)."""

    def __init__(self, path: str):
        self.path = path
        self._proc: subprocess.Popen | None = None
        self._samples: list[tuple[float, ...]] = []

    def __enter__(self):
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.hostspeed", self.path, str(os.getpid())],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            stdin=subprocess.DEVNULL,
        )
        # the first sample lands before any measured interval starts
        while not self._read():
            if self._proc.poll() is not None:
                raise RuntimeError("the host-speed probe exited")
            time.sleep(0.01)
        return self

    def __exit__(self, *exc):
        self.stop()

    def stop(self) -> None:
        if self._proc is not None:
            self._proc.terminate()
            self._proc.wait(timeout=30)
            self._proc = None
        self._read()

    def _read(self) -> list[tuple[float, ...]]:
        try:
            with open(self.path, encoding="ascii") as f:
                # the probe may be writing the last line
                lines = f.read().split("\n")[:-1]
        except FileNotFoundError:
            return []
        self._samples = [tuple(map(float, ln.split())) for ln in lines]
        return self._samples

    def factor(self, t0: float, t1: float) -> float:
        """The host's speed over [t0, t1]: reference CPU time over the
        mean probe CPU time of the loops that started in it (the nearest
        one if none did), the slowest and fastest tenth left out, times
        the share of the guest's demanded CPU time not stolen between the
        samples around it."""
        samples = self._read() if self._proc is not None else self._samples
        inside = sorted(s[1] for s in samples if t0 <= s[0] <= t1)
        if not inside:
            inside = [min(samples, key=lambda s: abs(s[0] - t0))[1]]
        cut = len(inside) // 10
        speed = REFERENCE_CHUNK_S / statistics.mean(inside[cut : len(inside) - cut])
        first = max((s for s in samples if s[0] <= t0), default=samples[0], key=lambda s: s[0])
        last = min((s for s in samples if s[0] >= t1), default=samples[-1], key=lambda s: s[0])
        busy, steal = last[2] - first[2], last[3] - first[3]
        return speed * (1 - steal / (busy + steal)) if busy + steal > 0 else speed


if __name__ == "__main__":
    if len(sys.argv) == 3:
        _sample_forever(sys.argv[1], int(sys.argv[2]))
    else:
        runs = []
        for _ in range(50):
            c = time.thread_time()
            _loop(LOOP_N)
            runs.append(time.thread_time() - c)
            time.sleep(PERIOD_S)
        print(f"median loop CPU time {statistics.median(runs):.6f} s")
