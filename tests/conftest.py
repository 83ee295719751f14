import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module", autouse=True)
def no_cached_frames_left_behind():
    """Fail a module that leaves entries in Spark's CacheManager. A
    cached frame outlives its module: later modules' plans read the
    cached relation instead of the Parquet scan, and tests that pin
    plan shape or an empty cache fail depending on module order. The
    cache is cleared after reporting, so one leak fails one module."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return
    if not s._jsparkSession.sharedState().cacheManager().isEmpty():
        s.catalog.clearCache()
        pytest.fail("module left CacheManager entries behind; unpersist what it caches")


@pytest.fixture()
def tear_last_commit():
    """Delete a stream checkpoint's last commit file (and its ``.crc``
    sidecar, or the rename-on-commit collides), so the next start
    re-runs that micro-batch under the SAME batch_id — the crash
    replay every idempotent sink must survive."""

    def tear(ckpt) -> None:
        commits = os.path.join(str(ckpt), "commits")
        last = max(
            (f for f in os.listdir(commits) if not f.startswith(".")), key=int
        )
        os.remove(os.path.join(commits, last))
        crc = os.path.join(commits, f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    return tear
