"""CPU time and resident memory of this process's descendants, from /proc.

The descendants are the Spark JVM (started through spark-submit)
and the Python daemon and workers it forks. The benchmark's own process
is excluded: it only submits jobs and waits.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat(pid: int) -> tuple[str, int, int, int] | None:
    """(comm, ppid, cpu ticks incl. reaped children, rss pages), or None
    when the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17,
    # rss is field 24
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15])
    return comm, ppid, cpu, int(fields[21])


def descendants(root: int | None = None) -> dict[int, tuple[str, int, int]]:
    """pid -> (comm, cpu ticks, rss pages) for every descendant of root."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        comm, _, cpu, rss = stats[pid]
        out[pid] = (comm, cpu, rss)
        stack.extend(children.get(pid, ()))
    return out


def cpu_seconds_between(before: dict, after: dict) -> float:
    """CPU the tree used between two snapshots. A process that started
    in between counts from zero; one that ended is counted through its
    parent's reaped-children time."""
    used = 0
    for pid, (_, cpu, _) in after.items():
        used += cpu - (before[pid][1] if pid in before else 0)
    return used / _TICKS


class RssSampler:
    """Background thread that records the peak summed RSS of the JVM and
    of the Python workers, polling every ``interval`` seconds. ``take``
    returns the peaks since the previous ``take`` and starts new ones."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self._lock = threading.Lock()
        self._peaks = (0.0, 0.0, 0.0)  # total, jvm, python MB
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm = py = 0
        for comm, _, rss in descendants().values():
            if comm == "java":
                jvm += rss
            elif comm.startswith("python"):
                py += rss
        now = ((jvm + py) * _PAGE_MB, jvm * _PAGE_MB, py * _PAGE_MB)
        with self._lock:
            self._peaks = tuple(map(max, self._peaks, now))

    def take(self) -> tuple[float, float, float]:
        """(total, jvm, python) peak MB since the last call."""
        self._sample()
        with self._lock:
            peaks, self._peaks = self._peaks, (0.0, 0.0, 0.0)
        return peaks

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
