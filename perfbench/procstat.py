"""CPU and memory of the Spark processes, read from ``/proc`` outside them.

The JVM is a child of the benchmark process and the Python workers are
children of the JVM, so "the engine" is every descendant of this process.
CPU is ``utime + stime + cutime + cstime`` summed over the descendants; the
``cu``/``cs`` terms keep the time of workers that exited and were reaped.
Stolen time is not in these counters. ``/proc/stat`` steal jiffies are
recorded per run as context only; nothing is normalized by them.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """The live descendants of this process."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat_fields(int(name))
                if fields is not None:
                    children.setdefault(int(fields[1]), []).append(int(name))
        out, todo = [], list(children.get(self.root, ()))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        total = 0
        for pid in self.pids():
            fields = _stat_fields(pid)
            if fields is not None:
                # utime, stime, cutime, cstime: fields 14-17 of stat(5)
                total += sum(int(x) for x in fields[11:15])
        return total / _TICK

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total


class PeakRss:
    """Samples the combined RSS of a :class:`ProcTree` every 50 ms on a
    thread."""

    def __init__(self, tree: ProcTree) -> None:
        self.tree = tree
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, self.tree.rss_bytes())
            if self._stop.wait(0.05):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree.rss_bytes())


def steal_jiffies() -> int:
    """Host-wide stolen jiffies so far (``cpu`` line of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0
