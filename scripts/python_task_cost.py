#!/usr/bin/env python
"""The fixed cost of one Python task: local[1], 20-task jobs, trivial functions.

    python scripts/python_task_cost.py [--repo DIR]

Starts a ``get_spark`` session (from ``--repo``'s ``monocator_spark``,
default this checkout) on one core, and times three 20-task jobs of each
kind after one untimed warm-up job that starts the Python daemon: a
JVM-only job, an RDD ``mapPartitions`` and a ``mapInPandas``. For each job
it prints the wall time per task and the Python-worker CPU per task (user +
system of the pyspark daemon, its forked workers and the workers it has
reaped, read from /proc), then what a worker sees: where it imports pyspark
from, its interpreter, how many zipimporters it has cached and its
``PYTHONPATH``. One JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

TICK = os.sysconf("SC_CLK_TCK")
TASKS = 20


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        kids.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(d))
    return kids


def worker_cpu_s() -> float:
    """CPU seconds of this process's pyspark daemons and workers so far."""
    kids, ticks, todo = _children(), 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we walked the tree
            continue
        if b"pyspark.daemon" in cmd:  # its reaped workers are in cutime/cstime
            ticks += sum(int(x) for x in fields[11:15])
        elif b"pyspark.worker" in cmd:
            ticks += sum(int(x) for x in fields[11:13])
    return ticks / TICK


def _worker_view(_):
    import sys
    import zipimport

    import pyspark

    yield {
        "pyspark_file": pyspark.__file__,
        "executable": sys.executable,
        "zipimporters": sum(isinstance(v, zipimport.zipimporter)
                            for v in sys.path_importer_cache.values()),
        "pythonpath": os.environ.get("PYTHONPATH"),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=str(Path(__file__).resolve().parent.parent))
    args = ap.parse_args()
    sys.path.insert(0, args.repo)
    from monocator_spark.session import get_spark

    spark = get_spark("python-task-cost", cores=1)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jobs = {
        "jvm": lambda: spark.range(0, TASKS, 1, TASKS).write.format("noop").mode("overwrite").save(),
        "rdd": lambda: sc.parallelize(range(TASKS), TASKS).mapPartitions(lambda it: [sum(it)]).collect(),
        "pandas": lambda: spark.range(0, TASKS, 1, TASKS).mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save(),
    }
    out: dict = {"python_exec": sc.pythonExec}
    for name, job in jobs.items():
        job()  # untimed: starts the daemon
        reps = []
        for _ in range(3):
            c0, t0 = worker_cpu_s(), time.perf_counter()
            job()
            reps.append({
                "wall_ms_per_task": round((time.perf_counter() - t0) * 1e3 / TASKS, 1),
                "worker_cpu_ms_per_task": round((worker_cpu_s() - c0) * 1e3 / TASKS, 1),
            })
        out[name] = reps
    out["worker"] = sc.parallelize([0], 1).mapPartitions(_worker_view).first()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
