"""Host facts recorded with every result, and the process-tree RSS sampler."""

from __future__ import annotations

import hashlib
import os
import threading
from pathlib import Path


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
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: the driver
    Python, the JVM it launched and the JVM's Python workers. Each process
    counts its proportional share (PSS), so the pages that forked Python
    workers share with their daemon are counted once, not once per worker."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended while we walked the tree
            continue
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with those of reaped children) used so
    far by ``root`` and its descendants. Time the hypervisor steals from
    the guest is not in it."""
    kids = _children()
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we walked the tree
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


class RssSampler:
    """Samples the process tree's RSS on a background thread; ``peak_mb``
    is the largest sample seen between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join()
        return self.peak / 1e6


def mem_total_kb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def code_digest(root: Path) -> str:
    """sha256 over the engine package's sources: identifies the code under
    test where the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((root / "monocator_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    head = root / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = root / ".git" / ref[5:]
    if ref_file.is_file():
        return ref_file.read_text().strip()
    packed = root / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return None


CONF_KEYS = (
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled", "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch", "spark.sql.files.maxPartitionBytes",
    "spark.sql.inMemoryColumnarStorage.compressed", "spark.io.compression.codec",
    "spark.sql.ansi.enabled", "spark.eventLog.enabled",
)


def record(spark, root: Path) -> dict:
    """nproc, MemTotal, versions, the effective Spark conf and the code id."""
    import duckdb
    import pyspark

    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total_kb(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": jvm.System.getProperty("java.version"),
        "spark_conf": {
            k: conf.get(k, None) or spark.conf.get(k, None) for k in CONF_KEYS
        },
        "git_commit": git_commit(root),
        "code_sha256": code_digest(root),
    }


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
