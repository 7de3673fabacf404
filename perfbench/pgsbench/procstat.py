"""Resident memory of the benchmark's process tree, read from /proc.

The tree is the driver process and every descendant: the Spark JVM it
launched and the Python daemon and workers the JVM forks. RSS is summed
over the tree, so pages shared between forked workers count once per
process."""

from __future__ import annotations

import os
import threading


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_jiffies`` readings."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0  # the process ended between listing and reading


def tree_rss(root: int) -> int:
    return sum(rss_bytes(p) for p in tree_pids(root))


class PeakRss:
    """Samples the summed RSS of this process's tree every
    ``INTERVAL_S`` seconds while active; ``peak`` is the largest sample."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(self.root))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss(self.root))
