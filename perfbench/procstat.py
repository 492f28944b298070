"""CPU, memory and host-noise readings of a process tree from ``/proc``.

The tree is the benchmark's own process, the Spark JVM it launches and
the Python workers the JVM forks. CPU of a tree member counts
``utime+stime`` of every live process plus ``cutime+cstime``, the CPU
of children it has already reaped, so workers that exited during a
measurement still count.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields restart after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """user+sys CPU of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE
    return total


def host_stamp() -> dict:
    """1-minute load average and cumulative steal seconds of the host."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"load1": load1, "steal_s": int(cpu[8]) / _TICK}


class PeakRss:
    """Samples the tree's summed RSS on a thread; ``peak`` is the max.

    Use as a context manager; the thread is joined on exit."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root, self.period_s, self.peak = root, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
