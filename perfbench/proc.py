"""Resource accounting of a run from ``/proc``: the CPU time and peak
resident memory of this process and its Spark JVM."""

from __future__ import annotations

import os
import time


def _children() -> list[tuple[str, list[str]]]:
    """(pid, /proc/<pid>/stat fields after the command name) of every
    live child of this process: the Spark JVM."""
    me, out = os.getpid(), []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            out.append((pid, fields))
    return out


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by the Spark JVM, every
    thread and its reaped children (the launcher) included, plus the
    calling thread of this process.

    Other Python threads (the oracles that run beside a warm-up) are
    left out, and so is time the host's hypervisor gave other guests
    (steal), which the kernel does not charge to a process."""
    tick = os.sysconf("SC_CLK_TCK")
    total = time.thread_time()
    for _, fields in _children():
        total += sum(int(v) for v in fields[11:15]) / tick
    return total


def steal_s() -> float:
    """CPU seconds the host's hypervisor has taken from this machine's
    CPUs so far, all CPUs together (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM child."""
    def hwm(pid) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    return (hwm("self") + sum(hwm(pid) for pid, _ in _children())) / 1024.0
