"""Host stamp for one run: usable cores, the Spark master, CPU steal and
process memory, read from /proc. This is the benchmark's own copy; it does
not import the repository's older ``bench.py`` harness."""

from __future__ import annotations

import os
import resource
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, idle + iowait, total) jiffies from the aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, vals[3] + vals[4], sum(vals[:8])


def steal_pct(before, after) -> float:
    """Stolen share of the CPU time the host demanded between two samples."""
    steal = after[0] - before[0]
    busy = (after[2] - before[2]) - (after[1] - before[1])
    return 100.0 * steal / busy if busy > 0 else 0.0


def process_start() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def peak_rss_mb(pid: int) -> float:
    """Larger peak resident set (VmHWM) of process ``pid`` and this one."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{pid}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return max(own, hwm / 1024.0)
