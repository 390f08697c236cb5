"""Process-tree CPU and memory from ``/proc``, and the run's sample statistics.

The tree is this process plus every descendant: the JVM that PySpark
launches and the Python workers it forks. CPU is utime+stime+cutime+cstime,
so the time of workers that have exited and been reaped stays counted.
"""

from __future__ import annotations

import math
import os
import statistics
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """``(ppid, cpu_ticks, rss_pages, start_ticks)`` of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17, start=22, rss=24
    return int(fields[1]), sum(int(x) for x in fields[11:15]), int(fields[21]), int(fields[19])


def tree(root: int | None = None) -> dict:
    """``{pid: (cpu_ticks, rss_pages, start_ticks)}`` for ``root`` and its
    descendants."""
    root = root or os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict = {}
    for pid, (ppid, *_) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """Process-tree CPU, with the JVM's JIT compiler threads apart.

    In a fresh JVM the JIT compilers used more than half of the JVM's CPU
    over the first ops, by an amount that differs from run to run; a
    long-lived JVM amortizes it. Compiler threads come and go, so each
    one's last reading is kept after it exits.
    """

    def __init__(self):
        self._jit: dict = {}

    def read(self) -> tuple:
        """``(tree CPU s, JIT compiler CPU s)`` so far."""
        procs = tree()
        for pid in procs:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/stat") as f:
                        raw = f.read()
                except OSError:
                    continue
                if raw[raw.index("(") + 1 :].startswith(_JIT_THREADS):
                    fields = raw[raw.rindex(")") + 2 :].split()
                    self._jit[(pid, tid)] = int(fields[11]) + int(fields[12])
        return sum(c for c, _, _ in procs.values()) / _TICK, sum(self._jit.values()) / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    """Process-tree RSS, skipping processes younger than a second: a child
    just forked to run a command reports its parent's pages as its own."""
    with open("/proc/uptime") as f:
        now = float(f.read().split()[0]) * _TICK
    return sum(r for _, r, start in tree(root).values() if now - start >= _TICK) * _PAGE / 2**20


class RssSampler:
    """Background thread recording the peak process-tree RSS."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------------ stats


def tail(samples: list, min_beyond: int = 10):
    """Highest percentile with at least ``min_beyond`` samples above it.

    Returns ``(percentile, value, n)``; ``(None, None, n)`` when there are
    too few samples for any percentile to have that many beyond it. The
    value is the sample at rank ``n - min_beyond`` (1-based) of the sorted
    samples, so exactly ``min_beyond`` samples lie beyond it.
    """
    n = len(samples)
    if n <= min_beyond:
        return None, None, n
    k = n - min_beyond  # 1-based rank of the reported sample
    return 100.0 * k / n, sorted(samples)[k - 1], n


def median(values: list) -> float:
    return statistics.median(values) if values else math.nan
