"""Shared pieces of the workloads: the per-run record, percentiles,
the output-check tally and the on-disk and memory probes."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Run:
    """What one workload run measured, before it becomes metrics."""
    setup_s: list[float] = field(default_factory=list)
    write_s: list[float] = field(default_factory=list)
    # CPU seconds of the same operations (see ``cpu_s``)
    setup_cpu_s: list[float] = field(default_factory=list)
    write_cpu_s: list[float] = field(default_factory=list)
    # open-loop requests: latency from due time in seconds, None = failed
    request_s: list[float | None] = field(default_factory=list)
    storage_bytes: int = 0
    input_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    incorrect: int = 0
    notes: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def op(self, ok: bool, note: str | None = None, wrong: bool = False) -> bool:
        """Count one attempted operation or output check."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.incorrect += int(wrong)
            if note and len(self.notes) < 50:
                self.notes.append(note)
        return ok

    def check(self, ok: bool, note: str) -> bool:
        """An output check: a mismatch is a failure and an incorrect output."""
        return self.op(ok, note, wrong=not ok)


@contextlib.contextmanager
def measured(wall_s: list[float], cpu: list[float]):
    """Append the block's wall seconds to ``wall_s`` and its CPU seconds
    (``cpu_s``) to ``cpu``, if it completes."""
    c0, t0 = cpu_s(), time.perf_counter()
    yield
    wall_s.append(time.perf_counter() - t0)
    cpu.append(cpu_s() - c0)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(values: list[float | None], cap: float) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    A failed request (None) counts as missing any limit: it sorts above
    every latency and, if the percentile lands on it, reads as ``cap``.
    Returns ``(value, percentile, samples)``; with fewer than eleven
    samples the maximum is returned as the 100th percentile.
    """
    xs = sorted(math.inf if v is None else v for v in values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0.0, 0
    if n < 11:
        k, pct = n - 1, 100.0
    else:
        k = n - 11                    # ten samples lie beyond xs[k]
        pct = 100.0 * (k + 1) / n
    v = xs[k]
    return (cap if math.isinf(v) else v), round(pct, 1), n


def disk_bytes(root: str) -> int:
    """Bytes on disk under ``root``; hardlinked files counted once."""
    seen, total = set(), 0
    for d, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(d, f))
            if (st.st_dev, st.st_ino) in seen:
                continue
            seen.add((st.st_dev, st.st_ino))
            total += st.st_size
    return total


def _children(pid: int) -> list[int]:
    out = []
    for t in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:                  # ended between listing and reading
        return 0
    return sum(int(x) for x in fields[11:15])


def cpu_s() -> float:
    """CPU seconds used so far by this process, the driver JVM and the
    JVM's descendants (the Python workers, whose ended children count
    through their parent). Unlike wall time, it does not stretch when
    other tenants of the host take the cores."""
    from pyspark import SparkContext
    todo, ticks = [SparkContext._gateway.proc.pid], _cpu_ticks(os.getpid())
    while todo:
        pid = todo.pop()
        ticks += _cpu_ticks(pid)
        todo += _children(pid)
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident set, from ``/proc``: the driver JVM's plus this
    driver process's high-water marks; and, apart, the Python workers'
    (the JVM's descendants alive at the end, whose number varies)."""
    driver = _hwm_kb(jvm_pid) + _hwm_kb(os.getpid())
    todo, workers = _children(jvm_pid), 0
    while todo:
        pid = todo.pop()
        workers += _hwm_kb(pid)
        todo += _children(pid)
    return driver / 1024.0, workers / 1024.0


class Clock:
    """Seconds since the workload's loop started."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t0
