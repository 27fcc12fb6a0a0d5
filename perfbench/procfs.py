"""Process-tree CPU and memory, and box health, read from /proc.

The benchmark process, the Spark JVM it launches and the JVM's Python
workers form one tree rooted at this process.  CPU time of the tree is the
sum of utime+stime over live members plus cutime+cstime (time of children
that already exited and were reaped), so a worker that exits mid-window
keeps its time in the total.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Live pids under ``root`` (excluding ``root``)."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2**20


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    idle = vals[3] + vals[4]  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    busy = sum(vals[:8]) - idle - steal
    return busy, steal


class Sampler:
    """Background sampler of tree RSS (every ``period`` s) and box health
    (load average, steal, CPU used outside the tree) over a window.

    Start it with :meth:`start`, read :meth:`window` for the figures
    between :meth:`mark` calls, stop it with :meth:`stop`."""

    def __init__(self, root: int, period: float = 0.2) -> None:
        self.root = root
        self.period = period
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-sampler",
                                        daemon=True)
        self._peak_rss = 0.0
        self._loads: list[float] = []

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        n = 0
        while not self._stop.wait(self.period):
            rss = tree_rss_mb(self.root)
            with self._lock:
                self._peak_rss = max(self._peak_rss, rss)
                if n % 5 == 0:
                    self._loads.append(os.getloadavg()[0])
            n += 1

    def mark(self) -> dict:
        """Reset the window; returns the opening snapshot for :meth:`window`."""
        with self._lock:
            self._peak_rss = tree_rss_mb(self.root)
            self._loads = [os.getloadavg()[0]]
        busy, steal = _cpu_jiffies()
        return {"t": time.time(), "tree_cpu": tree_cpu_s(self.root),
                "busy": busy, "steal": steal}

    def window(self, start: dict) -> dict:
        """Figures since ``start``: peak tree RSS, load-average samples,
        steal and CPU used by other processes (both in CPUs)."""
        busy, steal = _cpu_jiffies()
        dt = max(time.time() - start["t"], 1e-9)
        tree = tree_cpu_s(self.root) - start["tree_cpu"]
        with self._lock:
            peak = self._peak_rss
            loads = list(self._loads)
        return {
            "seconds": round(dt, 3),
            "peak_rss_mb": peak,
            "loadavg_1m": {
                "min": round(min(loads), 2),
                "median": round(statistics.median(loads), 2),
                "max": round(max(loads), 2),
                "n": len(loads),
            },
            "steal_cpus": round((steal - start["steal"]) / _TICK / dt, 3),
            "other_cpus": round(((busy - start["busy"]) / _TICK - tree) / dt, 3),
            "tree_cpus": round(tree / dt, 3),
        }
