"""Host counters read from /proc.

Steal, iowait and the JVM's peak RSS move no metric themselves; they
tell a slow host apart from slow code. Process-tree CPU time is the
steady measure of the work a pass did.
"""

from __future__ import annotations

import os


def steal_iowait() -> tuple[int, int]:
    """Cumulative (steal, iowait) jiffies over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]), int(fields[5])


def rss_peak_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so
    far by process `root`, its descendants and this process. Steal time
    is not charged to processes, so this reads the same on a busy host
    and a quiet one."""
    stats: dict[int, tuple[int, int]] = {}  # pid -> (ppid, ticks)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = stats.get(os.getpid(), (0, 0))[1], [root]
    while stack:
        pid = stack.pop()
        ticks += stats.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")
