"""CPU time and resident memory of a process tree, read from /proc.

The tree is this driver process, the JVM it launches and the Python
workers the JVM forks. Spark's own ``executorCpuTime`` leaves the Python
workers out, and they do most of the work, so the benchmark reads the
kernel's accounting directly.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def host_cpu() -> list[int]:
    """The host's cumulative CPU ticks by state (the ``cpu`` line of
    /proc/stat: user nice system idle iowait irq softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU ticks between two ``host_cpu`` readings
    that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def cpu_seconds(root: int) -> dict[int, float]:
    """pid -> user+sys CPU seconds, including reaped children's, for the
    tree under ``root``."""
    out = {}
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            out[pid] = sum(int(x) for x in f[11:15]) / _TICK
    return out


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree spent between two ``cpu_seconds`` snapshots.
    A process born in between counts from zero."""
    return sum(max(0.0, t - before.get(pid, 0.0)) for pid, t in after.items())


def memory_bytes(root: int, min_age_s: float = 0.5) -> int:
    """Summed RSS of the tree's processes older than ``min_age_s``: a
    process the JVM is still spawning shares the JVM's whole address space
    for a few milliseconds, and counting it would double the JVM. (RSS, not
    PSS: reading a process's PSS walks its page tables under its memory-map
    lock, which slowed the JVM measurably when sampled every 0.2 s.)"""
    with open("/proc/uptime") as fh:
        now = float(fh.read().split()[0])
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        # fields 22 and 24 of stat(5): start time in clock ticks after
        # boot, resident pages
        if f is not None and now - int(f[19]) / _TICK >= min_age_s:
            total += int(f[21]) * _PAGE
    return total


class PeakRss:
    """Background sampler of the tree's ``memory_bytes``; ``peak`` is the
    largest sample seen between ``start`` and ``stop``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, memory_bytes(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, memory_bytes(self.root))
        return self.peak
