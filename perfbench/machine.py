"""Machine context and process-tree memory, read from /proc.

``RssSampler`` samples the resident set size summed over this process and
all of its descendants (the Spark driver JVM, its Python workers and the
programs they pipe to) on a background thread. ``snapshot`` and
``context`` record load average and CPU steal so that drift between runs
is visible beside the metrics.
"""

from __future__ import annotations

import os
import platform
import threading
import time
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak process-tree RSS between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / (1024 * 1024)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def snapshot() -> dict:
    return {"t": time.time(), "load": os.getloadavg(), "cpu": _cpu_times()}


def context(start: dict, end: dict) -> dict:
    """Machine facts plus load-average and steal deltas between snapshots."""
    import pyspark

    busy = [b - a for a, b in zip(start["cpu"], end["cpu"])]
    total = sum(busy) or 1
    steal = busy[7] if len(busy) > 7 else 0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "loadavg_start": [round(v, 2) for v in start["load"]],
        "loadavg_end": [round(v, 2) for v in end["load"]],
        "loadavg_1m_delta": round(end["load"][0] - start["load"][0], 2),
        "cpu_steal_frac": round(steal / total, 5),
        "wall_s": round(end["t"] - start["t"], 2),
    }
