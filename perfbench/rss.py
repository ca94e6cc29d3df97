"""Peak resident memory of the Spark process tree, sampled from /proc.

The tree is every descendant of the harness process: the driver JVM
that pyspark launches, and the pyspark daemon and Python workers that
the JVM forks. The harness process itself holds the oracles and is
left out.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path


def _ppid(pid: str) -> int | None:
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after it
    return int(stat.rsplit(")", 1)[1].split()[1])


def descendants(root: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            pp = _ppid(entry)
            if pp is not None:
                parent[int(entry)] = pp
    out, frontier = [], {root}
    while frontier:
        frontier = {pid for pid, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def _status(pid: int) -> dict:
    try:
        lines = Path(f"/proc/{pid}/status").read_text().splitlines()
    except OSError:
        return {}  # exited between listing and reading
    return dict(line.split(":", 1) for line in lines if ":" in line)


def tree_rss_kb(root: int) -> int:
    """Summed VmRSS of the descendants of ``root``. A child the JVM
    spawns shares the JVM's memory until it execs, and /proc reports
    the JVM's whole RSS for it: a ``java`` process whose parent is a
    ``java`` process is such a child, and is not counted."""
    status = {pid: _status(pid) for pid in descendants(root)}
    total = 0
    for st in status.values():
        parent = status.get(int(st.get("PPid", 0)), {})
        if st.get("Name", "").strip() == "java" \
                and parent.get("Name", "").strip() == "java":
            continue
        total += int(st.get("VmRSS", "0 kB").split()[0])
    return total


class PeakRss:
    """Background sampler: ``start()``, then ``stop()`` returns the peak
    summed RSS in MB seen between the two."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024
