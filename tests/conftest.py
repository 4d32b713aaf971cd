import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Test-session heap, unless the caller sets one. Under the engine's 8g
# default the suite's JVM peaked at 9.3 GiB RSS (its old generation at
# 1.3-3.3 GB outside one transient 7.4 GB spike), and a second Spark process
# on a 16 GB host was OOM-killed; under 4g the suite peaked at 5.2 GiB.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")

from ghcrawler_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def ddb():
    return duckdb.connect()
