"""Host-noise and memory probes read from /proc.

Every timed segment records the hypervisor-steal share of host CPU over
exactly its own window (the same /proc/stat method as ``bench.py``), so a
record taken on a contended host says so. ``RssSampler`` tracks the peak
resident memory of the Spark JVM and of its largest Python worker.
"""

from __future__ import annotations

import os
import threading
import time


def proc_stat() -> tuple[int, int]:
    """(total_jiffies, steal_jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), steal


class Segment:
    """Wall time and steal%% of one timed window: ``with Segment() as s: ...``."""

    def __enter__(self):
        self._stat = proc_stat()
        self._t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.monotonic() - self._t0
        total, steal = proc_stat()
        d_total = max(total - self._stat[0], 1)
        self.steal_pct = 100.0 * (steal - self._stat[1]) / d_total
        return False


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, own + reaped children) of ``pid`` and
    every live descendant; a worker that exits moves its time into its
    parent's reaped-children counters, so the total is conserved."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / tick


class RssSampler(threading.Thread):
    """Polls the JVM's descendants for Python workers and keeps the largest
    peak (VmHWM) seen; the JVM's own VmHWM is read at the end."""

    def __init__(self, jvm_pid: int, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.worker_peak_kb = 0
        self.jvm_peak_kb = 0
        self._halt = threading.Event()

    def _sample(self) -> None:
        self.jvm_peak_kb = max(self.jvm_peak_kb,
                               _status_kb(self.jvm_pid, "VmHWM"))
        for p in descendants(self.jvm_pid):
            if _comm(p).startswith("python"):
                self.worker_peak_kb = max(self.worker_peak_kb,
                                          _status_kb(p, "VmHWM"))

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.period_s)

    def finish(self) -> float:
        """Stop polling; return JVM peak + largest Python worker peak, MB."""
        self._sample()
        self._halt.set()
        self.join()
        return (self.jvm_peak_kb + self.worker_peak_kb) / 1024.0
