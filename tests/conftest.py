from __future__ import annotations

import os
import sys

# Test scratch on the host tmpfs: the suite's manifest tables, ledgers
# and checkpoints are throwaway fixtures whose fsync/rename traffic
# otherwise hits the virtio disk. TEST INFRA ONLY — bench.py and the
# driver run with their own environment, untouched.
os.makedirs("/dev/shm/sparktests", exist_ok=True)
os.environ["TMPDIR"] = "/dev/shm/sparktests"
import tempfile

tempfile.tempdir = None   # re-resolve from the env var

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def _test_parallelism() -> str:
    """Tasks per shuffle / local frame for the test session: one per
    core, at most 8.  The fixtures are tiny, so every extra task is
    pure scheduling overhead; on a 4-core host 8 tasks run as two
    waves per stage."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    n = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    return str(max(1, min(8, n)))


@pytest.fixture(scope="session")
def spark():
    from stock_market_data_pipeline_spark.session import get_spark

    par = _test_parallelism()
    s = get_spark("tests", extra_conf={
        "spark.sql.shuffle.partitions": par,
        "spark.driver.memory": "8g",
        "spark.default.parallelism": par,
        "spark.sql.leafNodeDefaultParallelism": par,
        "spark.local.dir": "/dev/shm/sparktests/spark-local",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
