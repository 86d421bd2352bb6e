"""CPU time and resident memory of a process tree, read from ``/proc``.

The Spark driver JVM is a child of the session process, and the Python
UDF workers are children of the JVM's worker daemon, so "the JVM and its
Python workers" is every descendant of the session process.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(comm, fields after comm) of /proc/<pid>/stat, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    cut = s.rfind(")")
    return s[s.find("(") + 1 : cut], s[cut + 2 :].split()


def processes() -> dict:
    """pid -> (comm, rest-of-stat fields) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int, procs: dict | None = None) -> dict:
    """The subset of ``procs`` that descends from ``root`` (root excluded)."""
    procs = processes() if procs is None else procs
    children: dict = {}
    for pid, (_, rest) in procs.items():
        children.setdefault(int(rest[1]), []).append(pid)
    out, todo = {}, list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out[pid] = procs[pid]
        todo.extend(children.get(pid, ()))
    return out


def in_session(sid: int) -> list:
    """Live (not zombie) pids whose session id is ``sid``."""
    return [
        pid for pid, (_, rest) in processes().items()
        if int(rest[3]) == sid and rest[0] != "Z"
    ]


def cpu_seconds(tree: dict) -> float:
    """user+system time of every process in ``tree`` plus that of the
    children each has already reaped (a worker that exits between two
    readings moves its time into its parent's cutime/cstime)."""
    ticks = sum(sum(int(x) for x in rest[11:15]) for _, rest in tree.values())
    return ticks / _TICK


def python_only(tree: dict) -> dict:
    """The Python processes of ``tree`` (the worker daemon and the UDF
    workers it forks); the rest of a session's tree is the driver JVM."""
    return {pid: st for pid, st in tree.items() if st[0].startswith("python")}


def python_rss_mb(tree: dict) -> float:
    """Summed resident set of the Python processes in ``tree``."""
    pages = sum(int(rest[21]) for _, rest in python_only(tree).values())
    return pages * _PAGE / 2**20


class PeakRss(threading.Thread):
    """Samples the summed RSS of the Python descendants of ``root`` every
    ``period`` seconds until :meth:`stop`; ``peak_mb`` is the largest sum."""

    def __init__(self, root: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.root = root
        self.period = period
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while True:
            rss = python_rss_mb(descendants(self.root))
            self.peak_mb = max(self.peak_mb, rss)
            if self._halt.wait(self.period):
                return

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb
