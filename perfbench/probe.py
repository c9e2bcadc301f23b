"""Host-side measurement from /proc: process-tree CPU and memory, host steal.

The measured process tree is this Python process, the JVM it launches
and the Python workers the JVM forks. CPU is user+sys of every live process
in the tree plus the CPU of children they have already reaped (cutime,
cstime), so a worker that exits inside a window is still counted. Steal is host-wide
(the `cpu` line of /proc/stat): it explains slow runs, it is not a program
cost.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1024.0 * 1024.0)


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may contain spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / CLK_TCK


def process_start_wall() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    started = int(_stat_fields(os.getpid())[19]) / CLK_TCK
    return time.time() - (uptime - started)


def _rss_mb(pids: list[int]) -> float:
    pages = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                pages += int(f.read().split()[1])
        except OSError:
            pass
    return pages * PAGE_MB


class RssSampler:
    """Samples the tree's resident memory on a background thread.

    `peak_mb()` is the highest tree total seen since the last `reset()`.
    The pid list is refreshed once a second; RSS is read every `interval`.
    """

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        pids, refreshed = tree_pids(self.root), time.time()
        while not self._stop.is_set():
            if time.time() - refreshed > 1.0:
                pids, refreshed = tree_pids(self.root), time.time()
            rss = _rss_mb(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = _rss_mb(tree_pids(self.root))

    def peak_mb(self) -> float:
        with self._lock:
            return max(self._peak, _rss_mb(tree_pids(self.root)))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Meter:
    """Wall, tree CPU and host steal between two points in time."""

    def __init__(self, root: int):
        self.root = root

    def snapshot(self) -> tuple[float, float, float]:
        return time.time(), tree_cpu_s(self.root), host_steal_s()

    def since(self, snap: tuple[float, float, float]) -> dict:
        t, cpu, steal = self.snapshot()
        return {
            "wall_s": t - snap[0],
            "tree_cpu_s": cpu - snap[1],
            "steal_s": steal - snap[2],
        }
