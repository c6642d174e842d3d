"""The driver JVM's options from ``session.get_spark``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# a fresh process: the session fixture's JVM is already running, and JVM
# options only apply when get_spark starts one
PROBE = """
import json
from monocator_spark.session import get_spark
s = get_spark("session-test", cores=1, extra_conf={
    "spark.driver.extraJavaOptions": "-XX:-UsePerfData"})
mx = s.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(mx.getInputArguments())))
s.stop()
"""


def test_driver_runs_c1_only_next_to_the_callers_java_options():
    """``-XX:TieredStopAtLevel=1`` (and the tiered code-cache size, which
    C1-only would shrink) reaches the driver JVM together with a
    caller's own ``spark.driver.extraJavaOptions`` (perfbench sets one), so
    the default must not live in that key, where the caller's value
    replaces it."""
    env = dict(os.environ, SPARK_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert "-XX:TieredStopAtLevel=1" in args, args
    assert "-XX:ReservedCodeCacheSize=240m" in args, args
    assert "-XX:-UsePerfData" in args, args
