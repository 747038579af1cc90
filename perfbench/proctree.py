"""Process-tree memory and CPU from /proc: the driver Python process, the
JVM it launches and the JVM's Python workers."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after ')' are positional
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[2]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def rss_bytes(pids: list[int]) -> dict[int, int]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return out


def cpu_seconds() -> dict[str, float]:
    """CPU seconds (user + system, own + reaped children) of the live tree,
    split into the JVM and everything else (Python)."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in tree():
        st = _stat(pid)
        if st:
            # fields 14-17 of stat: utime stime cutime cstime (1-based)
            ticks = sum(int(x) for x in st[12:16])
            out["jvm" if st[0] == "java" else "python"] += ticks / _TICK
    return out


class PeakRss:
    """Samples the summed RSS of the process tree every ``interval`` s on a
    background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.at_peak: list[int] = []  # per-process RSS at the peak, largest first
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % 5 == 0:  # re-walk /proc for new workers every 0.25 s
                pids = tree()
            self._sample(pids)
            n += 1
            self._stop.wait(self.interval)

    def _sample(self, pids: list[int]) -> None:
        rss = rss_bytes(pids)
        if sum(rss.values()) > self.peak:
            self.peak = sum(rss.values())
            self.at_peak = sorted(rss.values(), reverse=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample(tree())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
