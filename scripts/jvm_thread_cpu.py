"""CPU seconds of a command's JVMs, split by thread class.

    python scripts/jvm_thread_cpu.py [--] CMD [ARG ...]

Runs CMD and, four times a second while it runs, reads the CPU time
(user + system) of every thread of every ``java`` process descended
from it (``/proc/<pid>/task/<tid>/stat``; read only).  Each thread
keeps the highest reading seen, so a thread that exits between samples
(HotSpot stops idle compiler threads) keeps what it had used by the
last sample.  When CMD exits it prints CPU seconds by thread class:

    compiler       C1 / C2 JIT compiler threads
    gc             garbage-collector worker threads
    executor task  Spark task threads (``Executor task launch worker``)
    driver/py4j    ``main``, the py4j call threads that plan queries,
                   and the DAG scheduler
    other          every other JVM thread
    unsampled      JVM CPU that no thread sample saw (threads that
                   ended, or used it, after their last sample)

CMD's own output passes through; the exit status is CMD's.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

INTERVAL_S = 0.25

CLASSES = (
    ("compiler", ("C1 CompilerThre", "C2 CompilerThre")),
    ("gc", ("GC Thread", "G1 ")),
    ("executor task", ("Executor task",)),
    ("driver/py4j", ("main", "Thread-", "py4j", "dag-scheduler")),
)


def _stat(path: str) -> tuple[str, int, float] | None:
    """(name, parent pid, CPU seconds) from a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    close = raw.rindex(")")  # the name itself may contain ")"
    rest = raw[close + 2:].split()  # fields from the third (state) on
    cpu = (int(rest[11]) + int(rest[12])) / os.sysconf("SC_CLK_TCK")
    return raw[raw.index("(") + 1:close], int(rest[1]), cpu


def _jvms(root: int) -> list[str]:
    """Pids of the ``java`` processes descended from ``root``."""
    procs = {p: _stat(f"/proc/{p}/stat") for p in os.listdir("/proc") if p.isdigit()}
    tree, found = {str(root)}, True
    while found:
        found = False
        for pid, st in procs.items():
            if st and pid not in tree and str(st[1]) in tree:
                tree.add(pid)
                found = True
    return [p for p in tree if procs.get(p) and procs[p][0] == "java"]


def classify(name: str) -> str:
    for cls, prefixes in CLASSES:
        if name.startswith(prefixes):
            return cls
    return "other"


def main() -> int:
    cmd = sys.argv[2:] if sys.argv[1:2] == ["--"] else sys.argv[1:]
    if not cmd:
        sys.exit(__doc__)
    proc = subprocess.Popen(cmd)
    threads: dict[tuple[str, str], tuple[str, float]] = {}
    jvm_total: dict[str, float] = {}
    while proc.poll() is None:
        for pid in _jvms(proc.pid):
            st = _stat(f"/proc/{pid}/stat")
            if st:
                jvm_total[pid] = max(jvm_total.get(pid, 0.0), st[2])
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st and st[2] >= threads.get((pid, tid), ("", -1.0))[1]:
                    threads[(pid, tid)] = (st[0], st[2])
        time.sleep(INTERVAL_S)
    by_class = dict.fromkeys([c for c, _ in CLASSES] + ["other"], 0.0)
    for name, cpu in threads.values():
        by_class[classify(name)] += cpu
    sampled = sum(by_class.values())
    by_class["unsampled"] = max(sum(jvm_total.values()) - sampled, 0.0)
    print(f"JVM thread CPU ({len(jvm_total)} JVM(s), {len(threads)} threads):")
    for cls, cpu in by_class.items():
        print(f"  {cls:15s} {cpu:9.1f} s")
    print(f"  {'total':15s} {max(sum(jvm_total.values()), sampled):9.1f} s")
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
