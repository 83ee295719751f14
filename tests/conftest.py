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
