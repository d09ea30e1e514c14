"""CPU, memory and host readings from ``/proc`` for one process tree.

The tree is this driver process, the JVM it launched and the Python workers
the JVM forked.  Each process's CPU is ``utime + stime`` plus
``cutime + cstime`` (children it has already reaped), so a Python worker
that exits inside the timed region still counts through its parent.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _stat(pid: int) -> tuple[float, float] | None:
    """(own cpu seconds, reaped-children cpu seconds) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ut, st, cut, cst = (int(x) for x in fields[11:15])
    return (ut + st) / _TICK, (cut + cst) / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass
class TreeSample:
    cpu: dict[str, float] = field(default_factory=dict)  # role -> cpu seconds
    rss_peak_mb: dict[str, float] = field(default_factory=dict)  # role -> max VmHWM


def sample_tree() -> TreeSample:
    """CPU seconds by role (driver / jvm / pyworker) and peak RSS by role.

    A process below the JVM is a Python worker (the ``pyspark.daemon`` and
    the workers it forks); the driver's other helpers count as driver."""
    root = os.getpid()
    kids = _children_map()
    out = TreeSample(cpu={"driver": 0.0, "jvm": 0.0, "pyworker": 0.0},
                     rss_peak_mb={"jvm": 0.0, "pyworker": 0.0})
    stack = [(root, False)]
    while stack:
        pid, under_jvm = stack.pop()
        s = _stat(pid)
        if s is None:
            continue
        own, reaped = s
        cmd0 = _cmdline(pid).split(" ")[0]
        if pid == root:
            role = "driver"
        elif os.path.basename(cmd0) == "java":
            role = "jvm"
        elif under_jvm:
            role = "pyworker"
        else:
            role = "driver"
        out.cpu[role] += own + reaped
        if role in out.rss_peak_mb:
            out.rss_peak_mb[role] = max(out.rss_peak_mb[role], _hwm_mb(pid))
        for child in kids.get(pid, []):
            stack.append((child, under_jvm or role == "jvm"))
    return out


def cpu_delta(before: TreeSample, after: TreeSample) -> dict[str, float]:
    return {k: after.cpu[k] - before.cpu.get(k, 0.0) for k in after.cpu}


def host_cpu() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is inside user)
    return sum(vals[:8]), vals[7]


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_loop_s(reps: int = 5, n: int = 1_000_000) -> float:
    """Median wall of a fixed pure-Python loop: the host's single-core speed
    at the time of the reading.  A shift in it between two sets of runs
    points at the host, not at the code under test."""
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        x = 0
        for i in range(n):
            x += i * i
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)
