"""SparkSession factory with the engine's tuned defaults.

Tuned for the sandbox (local[N], single JVM) but every knob is the one you'd
set on a 1000-executor cluster: AQE on (runtime re-plan + skew-join),
shuffle partitions ∝ cores, Arrow batch size bounded so binary image columns
don't blow executor memory during pandas-UDF transfer.

The driver JVM runs with ``-XX:TieredStopAtLevel=1`` (C1-only JIT): on
the crawl and the query library, C2's compiler threads cost more CPU
than its faster code saves (measured split at the conf line; a driver
that lives ~20 minutes, like the test suite's, was slower on C1, see
BENCH/C1_JIT.md). The code cache keeps its tiered size,
``-XX:ReservedCodeCacheSize=240m``. It is set
as ``spark.driver.defaultJavaOptions``, which Spark prepends to
``spark.driver.extraJavaOptions``, so a caller's own
``extraJavaOptions`` still applies (a later ``-XX:TieredStopAtLevel=4``
there restores tiered C2). It is driver-only: in local[N] the driver is
the executor, while the long-lived executors of a real cluster (or of
``local-cluster``) keep tiered C2. Under ``spark-submit`` the driver JVM
is up before ``get_spark`` runs, so the conf has no effect there; pass
``--driver-memory DRIVER_MEMORY`` and ``--conf
spark.driver.defaultJavaOptions=DRIVER_JAVA_OPTIONS`` on the
``spark-submit`` line (``scripts/probe_submit.py`` does). There
``get_spark`` keeps the submitted master and ``--conf`` values and adds
only the session settings (AQE, the Arrow batch bound, zstd, UTC) the
submitted conf lacks.

Python workers start through ``pyworker.sh``, a launcher next to this
module: ``get_spark`` points ``PYSPARK_PYTHON`` at it while the
SparkContext starts and passes the interpreter the caller chose (their
``PYSPARK_PYTHON``, else ``sys.executable``) in the workers' environment.
The launcher drops the ``.zip`` and ``.jar`` entries Spark puts on the
worker's ``PYTHONPATH`` (``pyspark.zip``, the py4j zip and the spark-core
jar) and execs that interpreter, which then imports pyspark from its own
site-packages. pyspark calls ``importlib.invalidate_caches()`` before every
task, and on Python 3.11 that makes each cached zipimporter re-read its
whole archive directory: about 0.2 CPU-s per task on a 4-vCPU host with the
zips, a tenth of that without (ROADMAP, "Python task cost"). Since workers
no longer import ``pyspark.zip``, ``get_spark`` raises if the driver's
pyspark is not the JVM's Spark version. Under ``spark-submit`` the
launcher is not used: there ``--py-files`` and the cluster own the
workers' interpreter and ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pyspark
from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# the driver JVM's heap and JIT options (module docstring)
DRIVER_MEMORY = "8g"
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
# the Python worker launcher (module docstring)
WORKER_LAUNCHER = str(Path(__file__).with_name("pyworker.sh"))


def get_spark(
    app_name: str = "monocator-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session: ``local[cores]`` with the settings below.

    Under ``spark-submit`` (it exports ``PYSPARK_GATEWAY_PORT``, the test
    pyspark itself makes to join a running driver JVM) that JVM is already
    up with the master, heap, JVM options and ``--conf`` it was submitted
    with. There ``cores`` is unused, a setting the submitted conf already
    holds is kept, the driver heap and JVM options are not written (they
    would only misreport the running JVM), the shuffle partitions
    default to the submitted cluster's ``defaultParallelism`` and the
    Python workers keep the submitted interpreter. Elsewhere they start
    through the worker launcher (module docstring).
    """
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    conf = {
        "spark.app.name": app_name,
        # NOTE: the scaling bench (scripts/run_scaling.py) deliberately
        # DISABLES AQE for its counterbalanced pairings — runtime
        # re-planning makes the physical plan a function of observed sizes,
        # which breaks the "identical plan at N and 4N cores" premise of
        # the efficiency measurement (rationale in BENCH/BASELINE.md).
        # Both defaults are intentional; don't "fix" one to match the other.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # bound Arrow batches: rows carry up to ~1 MiB binary payloads
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.files.maxPartitionBytes": "134217728",
        # the dominant cached data is already-compressed image payloads;
        # columnar-cache compression on them is a pure codec tax (measured:
        # +16% crawl throughput in the payload-bound regime with it off)
        "spark.sql.inMemoryColumnarStorage.compressed": "false",
        # zstd for shuffle/broadcast/spill (default lz4). Measured on this
        # workload (BENCH/BASELINE.md round-4, 3 counterbalanced pairs per
        # width, all reps filed): shuffle bytes shrink to 0.664x lz4
        # (identical records + checksums), throughput NEUTRAL on this box
        # (median pair ratios 0.992 at 4 cores, 0.957 at 16 — within the
        # window noise; round 3b's "+5%/~2x" readings were window
        # artifacts at n<=2). Kept because the byte shrink is the real,
        # deterministic effect: on a multi-executor cluster shuffle bytes
        # traverse the network, which is where this codec choice pays.
        "spark.io.compression.codec": "zstd",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    b = SparkSession.builder
    if submitted:
        SparkContext._ensure_initialized()  # joins the submitted JVM
        have = SparkConf()  # loads the submitted conf
        conf = {k: v for k, v in conf.items() if not have.contains(k)}
        if shuffle_partitions:
            conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        # MONO_SPARK_MASTER overrides the master URL ({cores} is substituted) —
        # used by scripts/run_scaling.py --local-cluster to run the SAME job on
        # local-cluster[N,1,mem]: separate executor JVMs with real serialized
        # shuffle fetch over loopback, the closest this sandbox gets to a
        # multi-executor cluster.
        master_tpl = os.environ.get("MONO_SPARK_MASTER", "")
        b = b.master(master_tpl.format(cores=cores) if master_tpl else f"local[{cores}]")
        conf.update({
            "spark.sql.shuffle.partitions": str(shuffle_partitions or max(cores, 8)),
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", DRIVER_MEMORY),
            # C1-only JIT (module docstring). scripts/cpu_by_thread.py on one
            # perfbench crawl_wide run (local[4], 4 vCPU): the JVM's 133 CPU-s
            # held 73 s of C1/C2 CompilerThreads, 23 s of executor tasks, 18 s
            # of driver/py4j threads and 6 s of GC; with C1 only the compiler
            # threads fall to ~11 s and the task threads stay at ~21 s. C1-only
            # also shrinks the code cache default from 240 MB to 48 MB; the
            # 20-minute test-suite session filled it and the code-cache sweeper
            # took 484 CPU-s, so the tiered size is kept
            "spark.driver.defaultJavaOptions": DRIVER_JAVA_OPTIONS,
            # the interpreter the worker launcher execs (module docstring)
            "spark.executorEnv.MONOCATOR_WORKER_PYTHON":
                os.environ.get("PYSPARK_PYTHON") or sys.executable,
        })
    # ad-hoc conf overrides for experiments: "k=v;k=v"
    for kv in filter(None, os.environ.get("MONO_SPARK_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        conf[k.strip()] = v.strip()
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    if submitted:
        spark = b.getOrCreate()
    else:
        # pyspark reads PYSPARK_PYTHON once, when the SparkContext starts;
        # restored after, so a spark-submit this process starts later does
        # not run its driver or workers through the launcher
        caller_python = os.environ.get("PYSPARK_PYTHON")
        os.environ["PYSPARK_PYTHON"] = WORKER_LAUNCHER
        try:
            spark = b.getOrCreate()
        finally:
            if caller_python is None:
                del os.environ["PYSPARK_PYTHON"]
            else:
                os.environ["PYSPARK_PYTHON"] = caller_python
        if pyspark.__version__ != spark.version:
            raise RuntimeError(
                f"pyspark {pyspark.__version__} cannot drive Spark {spark.version}: "
                "the Python workers import pyspark from their interpreter, "
                "not from Spark's pyspark.zip")
    sc = spark.sparkContext
    if submitted and not sc.getConf().contains("spark.sql.shuffle.partitions"):
        # one task per slot, as local[N] gets from its cores
        spark.conf.set("spark.sql.shuffle.partitions", str(max(sc.defaultParallelism, 8)))
    return spark
