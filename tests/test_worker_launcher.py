"""The Python worker launcher that ``session.get_spark`` sets up."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# a fresh process: the session fixture's SparkContext already has its
# worker interpreter, which get_spark only chooses when it starts one
PROBE = """
import json, os
from monocator_spark.session import get_spark

def report(_):
    import sys, zipimport, pyspark
    yield json.dumps({
        "zipimporters": [k for k, v in sys.path_importer_cache.items()
                         if isinstance(v, zipimport.zipimporter)],
        "pyspark_file": pyspark.__file__,
        "pyspark_version": pyspark.__version__,
        "executable": sys.executable,
        "wrapped_by": os.environ.get("CALLER_WRAPPER"),
    })

s = get_spark("launcher-test", cores=1)
seen = json.loads(s.sparkContext.parallelize([0], 1).mapPartitions(report).first())
seen.update(spark_version=s.version, python_exec=s.sparkContext.pythonExec,
            driver_pyspark_python=os.environ.get("PYSPARK_PYTHON"))

# a driver pyspark that is not the JVM's Spark version (getOrCreate reuses s)
import pyspark
pyspark.__version__, real = "0.0.0", pyspark.__version__
try:
    get_spark("launcher-test", cores=1)
except RuntimeError as e:
    seen["mismatch_error"] = str(e)
pyspark.__version__ = real
print(json.dumps(seen))
s.stop()
"""


def _probe(env: dict) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=ROOT, env=dict(env, SPARK_DRIVER_MEM="512m"),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_worker_imports_pyspark_without_zips():
    """A Python task runs with no zipimporter cached (so pyspark's per-task
    ``importlib.invalidate_caches()`` has no archive to re-read) and imports
    pyspark from a directory, at the JVM's Spark version; ``get_spark``
    refuses a driver pyspark of another version."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_PYTHON"}
    seen = _probe(env)
    assert seen["python_exec"].endswith("monocator_spark/pyworker.sh"), seen
    assert seen["zipimporters"] == [], seen
    assert ".zip" not in seen["pyspark_file"], seen
    assert seen["pyspark_version"] == seen["spark_version"], seen
    assert seen["executable"] == sys.executable, seen
    assert seen["driver_pyspark_python"] is None, seen
    assert "pyspark 0.0.0 cannot drive Spark" in seen.get("mismatch_error", ""), seen


def test_worker_launcher_execs_the_callers_interpreter(tmp_path):
    """With ``PYSPARK_PYTHON`` set by the caller, the worker still starts
    through the launcher, which execs the caller's interpreter; the
    caller's ``PYSPARK_PYTHON`` is back in place once the session is up."""
    wrapper = tmp_path / "caller-python"
    wrapper.write_text(f'#!/bin/sh\nCALLER_WRAPPER=1 exec "{sys.executable}" "$@"\n')
    wrapper.chmod(0o755)
    seen = _probe(dict(os.environ, PYSPARK_PYTHON=str(wrapper)))
    assert seen["python_exec"].endswith("monocator_spark/pyworker.sh"), seen
    assert seen["wrapped_by"] == "1", seen
    assert seen["zipimporters"] == [], seen
    assert ".zip" not in seen["pyspark_file"], seen
    assert seen["driver_pyspark_python"] == str(wrapper), seen
