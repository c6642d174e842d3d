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
is up before ``get_spark`` runs, so the conf has no effect there; pass the
same ``--conf spark.driver.defaultJavaOptions=...`` there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "monocator-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # MONO_SPARK_MASTER overrides the master URL ({cores} is substituted) —
    # used by scripts/run_scaling.py --local-cluster to run the SAME job on
    # local-cluster[N,1,mem]: separate executor JVMs with real serialized
    # shuffle fetch over loopback, the closest this sandbox gets to a
    # multi-executor cluster.
    master_tpl = os.environ.get("MONO_SPARK_MASTER", "")
    master = master_tpl.format(cores=cores) if master_tpl else f"local[{cores}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # NOTE: the scaling bench (scripts/run_scaling.py) deliberately
        # DISABLES AQE for its counterbalanced pairings — runtime
        # re-planning makes the physical plan a function of observed sizes,
        # which breaks the "identical plan at N and 4N cores" premise of
        # the efficiency measurement (rationale in BENCH/BASELINE.md).
        # Both defaults are intentional; don't "fix" one to match the other.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batches: rows carry up to ~1 MiB binary payloads
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # the dominant cached data is already-compressed image payloads;
        # columnar-cache compression on them is a pure codec tax (measured:
        # +16% crawl throughput in the payload-bound regime with it off)
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        # zstd for shuffle/broadcast/spill (default lz4). Measured on this
        # workload (BENCH/BASELINE.md round-4, 3 counterbalanced pairs per
        # width, all reps filed): shuffle bytes shrink to 0.664x lz4
        # (identical records + checksums), throughput NEUTRAL on this box
        # (median pair ratios 0.992 at 4 cores, 0.957 at 16 — within the
        # window noise; round 3b's "+5%/~2x" readings were window
        # artifacts at n<=2). Kept because the byte shrink is the real,
        # deterministic effect: on a multi-executor cluster shuffle bytes
        # traverse the network, which is where this codec choice pays.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # C1-only JIT (module docstring). scripts/cpu_by_thread.py on one
        # perfbench crawl_wide run (local[4], 4 vCPU): the JVM's 133 CPU-s
        # held 73 s of C1/C2 CompilerThreads, 23 s of executor tasks, 18 s
        # of driver/py4j threads and 6 s of GC; with C1 only the compiler
        # threads fall to ~11 s and the task threads stay at ~21 s. C1-only
        # also shrinks the code cache default from 240 MB to 48 MB; the
        # 20-minute test-suite session filled it and the code-cache sweeper
        # took 484 CPU-s, so the tiered size is kept
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # ad-hoc conf overrides for experiments: "k=v;k=v"
    for kv in filter(None, os.environ.get("MONO_SPARK_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        b = b.config(k.strip(), v.strip())
    ev_dir = os.environ.get("SPARK_EVENTLOG_DIR")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        b = b.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", ev_dir
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
