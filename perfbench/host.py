"""Host-noise probes: memory bandwidth, CPU steal/iowait, process-tree RSS.

Recorded around every workload run so that an outlier run explains
itself in the artifact (a stalled host shows a low memcpy probe or a
high steal share rather than a mysteriously slow engine).
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def memcpy_gbps(n_bytes: int = 64 << 20, reps: int = 3) -> float:
    """Single-thread copy bandwidth right now, GB/s (best of ``reps``)."""
    src = np.ones(n_bytes, dtype=np.uint8)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return n_bytes / best / 1e9


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def loadavg() -> float:
    """One-minute load average: runnable tasks on the whole host, so
    other tenants' work shows here even when this process tree is idle."""
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_iowait(before: list[int], after: list[int]) -> dict:
    """Shares of all CPU time between two cpu_times() readings."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {"iowait_frac": d[4] / total,
            "steal_frac": (d[7] if len(d) > 7 else 0) / total}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> tuple[int, int]:
    """-> (JVM bytes, all other bytes) resident in the process tree."""
    jvm = other = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                is_jvm = f.read().strip() == "java"
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:  # exited while sampling
            continue
        if is_jvm:
            jvm += rss
        else:
            other += rss
    return jvm, other


class RssSampler:
    """Samples the RSS of this process and all its descendants (JVM,
    Python daemon and workers) on a background thread, as
    ``(unix time ms, JVM bytes, other bytes)``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.samples: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.time() * 1e3, *tree_rss_bytes(pid)))
            self._stop.wait(self.interval_s)

    def peak_during(self, start_ms: float, end_ms: float) -> tuple[int, int]:
        """Largest (JVM, other) sample inside the interval, else the last
        one before it."""
        inside = [s for s in self.samples if start_ms <= s[0] <= end_ms]
        if not inside:
            inside = [s for s in self.samples if s[0] < start_ms][-1:]
        return (max((s[1] for s in inside), default=0),
                max((s[2] for s in inside), default=0))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
