"""Host counters read from /proc: process-tree CPU, load average, steal."""

from __future__ import annotations

import os
import subprocess
import time


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (utime,
    stime and the times of their reaped children), from /proc."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid in ticks:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks[pid]
    return total / os.sysconf("SC_CLK_TCK")


def sample() -> dict:
    """Load average and the machine-wide CPU and steal tick counters."""
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": [float(x) for x in load], "cpu_ticks_total": sum(cpu),
            "steal_ticks": cpu[7] if len(cpu) > 7 else 0, "t": time.time()}


def steal_share(before: dict, after: dict) -> float:
    """Share of all CPU ticks between two samples that the hypervisor stole."""
    total = after["cpu_ticks_total"] - before["cpu_ticks_total"]
    return (after["steal_ticks"] - before["steal_ticks"]) / total if total else 0.0


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        return (out.stderr or out.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"
