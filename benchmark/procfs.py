"""Process-tree accounting read straight from /proc (psutil is not a
dependency), plus the fixed no-Spark CPU probe.

The Spark process tree is every descendant of the benchmark's own
driver process: the JVM that PySpark launches, the pyspark daemon and
its forked Python workers.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> List[str]:
    """Fields of /proc/<pid>/stat after the ``(comm)`` field, so field
    N of proc(5) is element N - 3."""
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    return s[s.rindex(")") + 2:].split()


def descendants(root: int) -> Dict[int, List[str]]:
    """{pid: stat fields} of every live descendant of ``root``."""
    kids: Dict[int, list] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            rest = _stat_fields(d)
        except OSError:  # exited while we listed /proc
            continue
        kids.setdefault(int(rest[1]), []).append((int(d), rest))
    out: Dict[int, List[str]] = {}
    stack = [root]
    while stack:
        for pid, rest in kids.get(stack.pop(), ()):
            out[pid] = rest
            stack.append(pid)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live descendants of ``root``,
    including their reaped children (utime, stime, cutime, cstime)."""
    ticks = sum(int(r[11]) + int(r[12]) + int(r[13]) + int(r[14])
                for r in descendants(root).values())
    return ticks / _CLK_TCK


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class PeakRss:
    """Background sampler of the peak resident set (``VmHWM``) of the
    JVM and of the Python workers under ``root``. ``VmHWM`` is a
    per-process high-water mark, so sampling only has to see each
    process once before it exits."""

    def __init__(self, root: int, period_s: float = 0.5) -> None:
        self.root = root
        self.period_s = period_s
        self.jvm_mb = 0.0
        self.py_worker_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        for pid in descendants(self.root):
            try:
                comm = _comm(pid)
                hwm = _vm_hwm_mb(pid)
            except OSError:
                continue
            if comm == "java":
                self.jvm_mb = max(self.jvm_mb, hwm)
            elif comm.startswith("python"):
                self.py_worker_mb = max(self.py_worker_mb, hwm)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_probe(seconds: float = 0.3) -> float:
    """Fixed pure-Python integer loop, in million iterations per
    second: box evidence only, never a gate."""
    n = 0
    x = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for i in range(10000):
            x = (x * 31 + i) & 0xFFFFFFFF
        n += 10000
    return n / (time.perf_counter() - t0) / 1e6
