"""Host facts and a process-tree RSS sampler read from ``/proc``.

The sampler sums the resident set of this process and every descendant
(the Spark JVM and the Python workers it forks), polling in a daemon
thread; ``peak_mb`` is the largest sum seen.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_facts() -> dict:
    """Task slots and physical memory of the box the run measures."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb / 1024}


def _stat_fields(pid: int) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat after the command name (state first),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parens: parse after the last ')'
    return stat[stat.rindex(b")") + 2:].split()


def alive(pid: int) -> bool:
    """Running or sleeping; a zombie awaiting its reaper counts as ended."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != b"Z"


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat_fields(int(name))) is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (not ``pid`` itself)."""
    kids = _children_map()
    out: list[int] = []
    todo = list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0  # the process ended between listing and reading


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as f:
            return "jvm" if f.read().strip() == "java" else "workers"
    except OSError:
        return "workers"


def tree_rss_mb(pid: int) -> dict[str, float]:
    """Summed RSS of ``pid`` and its descendants, in total and by kind
    (driver, jvm, workers)."""
    out = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for p in [pid, *descendants(pid)]:
        mb = _rss_bytes(p) / 2**20
        out["total"] += mb
        out[_kind(p, pid)] += mb
    return out


class RssSampler:
    """Polls the summed RSS of a process tree until ``stop``; ``peak_mb``
    holds the largest value seen of the total and of each kind."""

    def __init__(self, pid: int | None = None, interval_s: float = 0.2):
        self.pid = pid or os.getpid()
        self.interval_s = interval_s
        self.peak_mb = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            for k, v in tree_rss_mb(self.pid).items():
                self.peak_mb[k] = max(self.peak_mb[k], v)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
