"""Host context read from ``/proc``: CPU steal, load, and the resident
memory of the benchmark process with its Spark JVM."""

from __future__ import annotations

import os
import threading


def cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted inside user/nice
    return sum(vals[:8]), steal


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        child = todo.pop()
        out.append(child)
        todo.extend(_children(child))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def process_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and its direct children (the JVM; the
    Python workers the JVM forks are its children, not counted)."""
    return rss_bytes(pid) + sum(rss_bytes(c) for c in _children(pid))


class RssSampler:
    """Samples the process and JVM resident memory every ``interval``
    seconds on a daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, process_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        """Stop sampling (once; later calls keep the peak) and return it."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.peak = max(self.peak, process_rss_bytes(os.getpid()))
        return self.peak


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                continue
    return total
