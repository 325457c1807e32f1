"""CPU and memory of the Spark JVM and its Python workers, read from
/proc, and the host-contention disclosure recorded beside every run.

CPU counts every process below this one: the JVM that PySpark
launches, the pyspark daemon it forks, the daemon's workers and any
command the JVM runs. Memory counts the JVM and the Python processes.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

# The one host-contention gate: a run is "quiet" when the hypervisor
# stole under this share of vCPU time during the timed window and the
# 1-minute load at its start was at most this many runnable tasks per
# CPU. The benchmark never waits on it; it records the verdict. On a
# 4-vCPU shared host, job calls with 3-4% steal ran ~15% slower than
# calls under 0.5%, so the steal threshold sits at 1%.
QUIET_STEAL_PCT = 1.0
QUIET_LOAD_PER_CPU = 1.5


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at state (index 0)
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pid: int) -> float:
    """utime+stime of pid plus that of its reaped children."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _TICK


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _ppid(pid: int) -> int:
    f = _stat_fields(pid)
    return int(f[1]) if f else -1


def spark_processes() -> list[int]:
    """The JVM (a direct child) and every Python process below it. A
    short-lived child the JVM spawns (a shell command) still shares the
    JVM's memory and name until it execs, so it is left out: it would
    count the JVM's RSS twice."""
    me = os.getpid()
    out = []
    for p in descendants(me):
        name = _comm(p)
        if name.startswith("python") or (name == "java" and _ppid(p) == me):
            out.append(p)
    return out


RSS_SAMPLE_S = 0.1


class TreeWatch:
    """Context manager: CPU seconds of every descendant of this process
    and peak summed RSS of the JVM and Python workers over the `with`
    block. RSS is sampled every RSS_SAMPLE_S from a background thread."""

    def __init__(self):
        self.cpu_s = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()

    def _sample(self) -> None:
        while not self._stop.is_set():
            pids = spark_processes()
            self.peak_rss = max(self.peak_rss, sum(rss_bytes(p) for p in pids))
            self._stop.wait(RSS_SAMPLE_S)

    def __enter__(self):
        self._cpu0 = {p: cpu_seconds(p) for p in descendants(os.getpid())}
        self._t = threading.Thread(target=self._sample, daemon=True)
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        # a worker that exited during the block had its CPU folded into
        # its parent's reaped-children counters, so it is still counted
        self.cpu_s = sum(
            cpu_seconds(p) - self._cpu0.get(p, 0.0)
            for p in descendants(os.getpid())
        )
        return False


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # column 9 of the aggregate line (8th value) is steal
    return vals[7], sum(vals)


class HostWindow:
    """Host steal % and 1-min load over a window, with the gate verdict."""

    def __enter__(self):
        self.load1 = os.getloadavg()[0]
        self._s0, self._t0 = _cpu_jiffies()
        return self

    def __exit__(self, *exc):
        s1, t1 = _cpu_jiffies()
        self.steal_pct = 100.0 * (s1 - self._s0) / max(1, t1 - self._t0)
        return False

    def record(self) -> dict:
        ncpu = len(os.sched_getaffinity(0))
        return {
            "steal_pct": round(self.steal_pct, 3),
            "load1": round(self.load1, 2),
            "quiet": self.steal_pct < QUIET_STEAL_PCT
            and self.load1 <= QUIET_LOAD_PER_CPU * ncpu,
        }


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")

