import shutil
import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from monocator_spark.session import get_spark

    # tiered C2 for this one long-lived driver JVM: C1-only (the shipped
    # default, checked in test_session.py's own process) made the suite
    # slower, see BENCH/C1_JIT.md
    s = get_spark("pytest", cores=4, shuffle_partitions=4, extra_conf={
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_root():
    d = tempfile.mkdtemp(prefix="mono-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)
