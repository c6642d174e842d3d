#!/usr/bin/env python
"""spark-submit --py-files packaging probe (north_rule: "packaged for
spark-submit --py-files on multi-executor clusters").

Proves the zip is self-sufficient: ``crawl_job.py`` is copied OUTSIDE the
repo (so its sys.path fallback cannot see the source tree) and launched
with ``spark-submit --py-files dist/monocator_spark.zip`` on a toy world.
Every import must then resolve from the zip — exactly what executors on a
real cluster do. Asserts the job completes, then re-submits with the same
store and asserts the resume is a no-op (already-complete crawl).

The submit line carries the driver's heap and JVM options from
``session.DRIVER_MEMORY`` / ``session.DRIVER_JAVA_OPTIONS`` (the driver
JVM is up before ``get_spark`` runs). A third submit, with the same line
plus one ``--conf`` of a key ``get_spark`` also sets, runs ``get_spark``
and asserts that the driver JVM got them, that the session kept the
submitted master and ``--conf`` and reports the heap the JVM has, that
it carries ``get_spark``'s Arrow batch bound, and that its Python tasks
run on the submitted interpreter (``PYSPARK_PYTHON``, set to this
interpreter) with Spark's ``pyspark.zip``, not through ``get_spark``'s
worker launcher. The probe's own ``get_spark`` session runs first, so this
also checks that it leaves ``PYSPARK_PYTHON`` as it found it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# submitted like the crawl job: what get_spark gives a submitted driver
DRIVER_PROBE = """
import json
from monocator_spark.session import get_spark

def worker(_):
    import sys, pyspark
    yield json.dumps({"executable": sys.executable, "pyspark_file": pyspark.__file__})

s = get_spark("submit-probe-driver")
jvm = s.sparkContext._jvm
mx = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({
    "master": s.sparkContext.master,
    "jvm_args": list(mx.getInputArguments()),
    "arrow_batch": s.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
    "codec": s.conf.get("spark.io.compression.codec"),
    "driver_memory": s.conf.get("spark.driver.memory"),
    "python_exec": s.sparkContext.pythonExec,
    "worker": json.loads(s.sparkContext.parallelize([0], 1).mapPartitions(worker).first()),
}))
s.stop()
"""
MASTER = "local[4]"
# a submitted --conf of a key get_spark sets (to zstd): it must be kept
CODEC = "lz4"


def main() -> None:
    from monocator_spark.session import DRIVER_JAVA_OPTIONS, DRIVER_MEMORY, get_spark
    from monocator_spark.datagen import corpus as dg
    from scripts.make_pyfiles_zip import build

    # the submitted interpreter: get_spark runs this process's workers
    # through its launcher, the submitted apps' must run on this
    os.environ["PYSPARK_PYTHON"] = sys.executable
    zip_path = build()
    work = Path(tempfile.mkdtemp(prefix="submit_probe_"))
    job = work / "crawl_job.py"
    shutil.copy(REPO / "scripts" / "crawl_job.py", job)

    world = work / "world"
    spark = get_spark("submit-probe-gen", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    dg.write_world(spark, str(world), n_images=150, n_hosts=8, n_seeds=25)
    spark.stop()
    # crawl_job reads the config from the world meta (test worlds skip it)
    (world / "_WORLD_META.json").write_text(
        json.dumps({"n_images": 150, "n_hosts": 8, "n_seeds": 25})
    )

    def submit(*app: str, conf: tuple[str, ...] = ()) -> str:
        cmd = [
            "spark-submit",
            "--master", MASTER,
            "--driver-memory", DRIVER_MEMORY,
            "--conf", f"spark.driver.defaultJavaOptions={DRIVER_JAVA_OPTIONS}",
            *conf,
            "--py-files", str(zip_path),
            *app,
        ]
        print("+", " ".join(cmd), flush=True)
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if r.returncode != 0:
            print(r.stdout[-3000:])
            print(r.stderr[-3000:])
            raise SystemExit(f"spark-submit failed rc={r.returncode}")
        return r.stdout

    def last_json(out: str) -> dict:
        return json.loads([l for l in out.splitlines() if l.startswith("{")][-1])

    crawl = [str(job), "--world", str(world), "--store", str(work / "store")]
    stats1 = last_json(submit(*crawl))
    assert stats1["fetched"] > 0, stats1
    print(f"SUBMIT RUN ✓ fetched={stats1['fetched']} epochs={stats1['epochs']}")

    stats2 = last_json(submit(*crawl))  # resume on a completed store: zero new work
    assert stats2["epochs"] == 0 and stats2["fetched"] == 0, stats2
    print("SUBMIT RESUME NO-OP ✓")

    probe = work / "driver_probe.py"
    probe.write_text(DRIVER_PROBE)
    drv = last_json(submit(str(probe), conf=("--conf", f"spark.io.compression.codec={CODEC}")))
    assert f"-Xmx{DRIVER_MEMORY}" in drv["jvm_args"], drv
    assert all(o in drv["jvm_args"] for o in DRIVER_JAVA_OPTIONS.split()), drv
    assert drv["master"] == MASTER, drv
    assert drv["codec"] == CODEC, drv
    assert drv["driver_memory"] == DRIVER_MEMORY, drv
    assert drv["arrow_batch"] == "2048", drv
    assert drv["python_exec"] == sys.executable, drv
    assert drv["worker"]["executable"] == sys.executable, drv
    assert "/pyspark.zip/" in drv["worker"]["pyspark_file"], drv
    print(f"SUBMIT DRIVER SETTINGS ✓ {drv['master']} -Xmx{DRIVER_MEMORY} {DRIVER_JAVA_OPTIONS}")
    print(f"SUBMIT PYTHON WORKERS ✓ {drv['worker']['executable']} with pyspark.zip")
    shutil.rmtree(work)


if __name__ == "__main__":
    main()
