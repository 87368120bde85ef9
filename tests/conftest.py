from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bricolage_spark.engine import SparkEngine  # noqa: E402
from bricolage_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "spark: test needs the session-scoped SparkSession fixture"
    )


def half_up(x, nd=4):
    """Round like Spark's ``F.round`` and DuckDB's ``ROUND`` (HALF_UP on the
    shortest decimal repr of the double), NOT like Python's builtin
    ``round()`` (half-to-even).  Exact half-ties at the target decimal —
    e.g. 1/32 = 0.03125 at 4 dp — round UP in both engines (0.0313) but
    DOWN under banker's rounding (0.0312), so every pure-Python test
    mirror that checks an engine-rounded column must round through this
    helper (round-8 verdict finding, tests/test_properties.py)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def spark_jobs(spark, fn) -> int:
    """Run ``fn()`` under a fresh Spark job group and return how many
    Spark jobs it started (from the status tracker, not from timing)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session", autouse=True)
def xdg_cache():
    """A per-session ``XDG_CACHE_HOME``, so the session's JVM class archive
    (and those of subprocesses, which inherit it) never lands in the
    user's cache."""
    with tempfile.TemporaryDirectory(prefix="bricolage-cache-") as cache, \
            pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", cache)
        yield cache


@pytest.fixture(scope="session")
def spark(xdg_cache):
    s = get_spark(
        "tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s


@pytest.fixture()
def engine(spark, tmp_path):
    return SparkEngine(spark, str(tmp_path / "warehouse"))


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA
