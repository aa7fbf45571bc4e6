"""Peak resident memory of a process tree, sampled from /proc.

The benchmark's memory figure covers the Python driver, the JVM it
launches and the Python workers the JVM forks. Pages shared between
forked workers are counted once per process, as each process's RSS
reports them."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parent_of(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:  # the process ended while we listed /proc
        return None
    # the command name (field 2) may hold spaces and parentheses
    return int(stat[stat.rindex(b")") + 2:].split()[1])


def tree_pids(root: int, exclude: frozenset = frozenset()) -> list[int]:
    """`root` and all its descendants alive now, leaving out the
    processes in `exclude` and their descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            ppid = _parent_of(int(entry))
            if ppid is not None:
                children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            exe = os.path.basename(f.read().split(b"\0")[0]).decode()
    except OSError:
        return "other"
    return "jvm" if exe == "java" else "workers" if exe.startswith("python") else "other"


class PeakRss:
    """Background sampler of a process tree's summed RSS; use as a
    context manager and read `peak_mb` after it exits. `peak_by_kind`
    holds the peak of the driver, the JVM and the Python workers
    separately, `peak_python_mb` the peak of the driver and the workers
    together. Processes in `exclude`, and their descendants, are not
    sampled."""

    def __init__(self, root: int | None = None, interval_s: float = 0.1,
                 exclude: frozenset = frozenset()):
        self.root = os.getpid() if root is None else root
        self.exclude = exclude
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_kind: dict[str, int] = {}
        self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="perfbench-rss", daemon=True)

    def _sample(self) -> None:
        by_kind: dict[str, int] = {}
        for pid in tree_pids(self.root, self.exclude):
            kind = _kind(pid, self.root)
            by_kind[kind] = by_kind.get(kind, 0) + rss_bytes(pid)
        self.peak_bytes = max(self.peak_bytes, sum(by_kind.values()))
        self.peak_python_bytes = max(
            self.peak_python_bytes,
            by_kind.get("driver", 0) + by_kind.get("workers", 0))
        for kind, b in by_kind.items():
            self.peak_by_kind[kind] = max(self.peak_by_kind.get(kind, 0), b)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20

    @property
    def peak_python_mb(self) -> float:
        return self.peak_python_bytes / 2**20
