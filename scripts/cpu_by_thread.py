#!/usr/bin/env python
"""Where a Spark run's CPU goes: per process kind and per JVM thread group.

    python scripts/cpu_by_thread.py python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 1 --trace 0

Runs the command and, while it runs, samples the cumulative user+system CPU
of every process in its tree and of every JVM thread from /proc (nothing
else is read or attached to). When the command exits it prints two tables:

* process kinds: driver Python (any Python process that is not a pyspark
  daemon or worker), JVM, pyspark daemon, pyspark workers (the daemon's
  forked children), other;
* JVM thread groups, by thread name: ``CompilerThread`` (C1 and C2 JIT),
  ``Executor task launch``, ``Thread-N`` (driver/py4j), GC (``GC Thread#N``
  and the ``G1 ...`` threads), and every other name with its digits folded.

A process or thread that exits between two samples loses at most one
sampling interval (0.2 s) of CPU. Exits with the command's exit code.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time
from collections import defaultdict

INTERVAL_S = 0.2
TICK = os.sysconf("SC_CLK_TCK")
GROUPS = (
    ("CompilerThread", ("C1 CompilerThre", "C2 CompilerThre")),
    ("Executor task launch", ("Executor task l",)),
    ("Thread-N", ("Thread-",)),
    ("GC", ("GC Thread", "G1 ")),
)


def _stat(path: str) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds) from a /proc stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, _, rest = raw.rpartition(")")
    fields = rest.split()
    # fields[0] is field 3 (state): ppid is 4, utime 14, stime 15
    return head.partition("(")[2], int(fields[1]), (int(fields[11]) + int(fields[12])) / TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _tree(root: int) -> dict[int, int]:
    """pid → ppid for ``root`` and its live descendants."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(f"/proc/{d}/stat")):
            parent[int(d)] = st[1]
    tree, todo = {root: parent.get(root, 0)}, [root]
    while todo:
        p = todo.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree[c] = p
                todo.append(c)
    return tree


def _thread_group(name: str) -> str:
    for group, prefixes in GROUPS:
        if name.startswith(prefixes):
            return group
    return re.sub(r"\d+", "N", name)


def main(cmd: list[str]) -> int:
    proc_cpu: dict[int, float] = {}  # pid → last sampled CPU-s
    kind: dict[int, str] = {}
    thread_cpu: dict[tuple[int, int], tuple[str, float]] = {}
    child = subprocess.Popen(cmd)
    while child.poll() is None:
        tree = _tree(child.pid)
        for pid, ppid in tree.items():
            st = _stat(f"/proc/{pid}/stat")
            if st is None:
                continue
            proc_cpu[pid] = st[2]
            # classified on every sample: spark-submit's shell execs the JVM
            # under the same pid
            cl = _cmdline(pid)
            if st[0] == "java":
                kind[pid] = "jvm"
            elif "pyspark.daemon" in cl or "pyspark.worker" in cl:
                kind[pid] = ("pyspark workers" if kind.get(ppid) == "pyspark daemon"
                             else "pyspark daemon")
            elif "python" in st[0]:
                kind[pid] = "driver python"
            else:
                kind[pid] = "other"
            if kind[pid] == "jvm":
                try:
                    tids = os.listdir(f"/proc/{pid}/task")
                except OSError:
                    tids = []
                for tid in tids:
                    if ts := _stat(f"/proc/{pid}/task/{tid}/stat"):
                        thread_cpu[(pid, int(tid))] = (ts[0], ts[2])
        time.sleep(INTERVAL_S)

    by_kind: dict[str, list] = defaultdict(lambda: [0.0, 0])
    for pid, cpu in proc_cpu.items():
        by_kind[kind[pid]][0] += cpu
        by_kind[kind[pid]][1] += 1
    by_group: dict[str, list] = defaultdict(lambda: [0.0, 0])
    for name, cpu in thread_cpu.values():
        by_group[_thread_group(name)][0] += cpu
        by_group[_thread_group(name)][1] += 1

    print(f"{'process kind':<28}{'cpu_s':>9}{'procs':>7}")
    for k, (cpu, n) in sorted(by_kind.items(), key=lambda kv: -kv[1][0]):
        print(f"{k:<28}{cpu:>9.1f}{n:>7}")
    print(f"{'total':<28}{sum(c for c, _ in by_kind.values()):>9.1f}")
    print(f"\n{'jvm thread group':<28}{'cpu_s':>9}{'threads':>9}")
    for g, (cpu, n) in sorted(by_group.items(), key=lambda kv: -kv[1][0]):
        if cpu >= 0.05:
            print(f"{g:<28}{cpu:>9.1f}{n:>9}")
    return child.returncode


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1:]))
