from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from bigdataflink_spark import get_spark

    s = get_spark("starbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
