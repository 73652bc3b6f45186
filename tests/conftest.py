from __future__ import annotations

import pytest

from pagerank_using_mapreduce_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """The session checkpoints reliably into ``tmp_path`` (yielded) for
    the test, then goes back to local checkpoints."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path))
    yield str(tmp_path)
    sc.setCheckpointDir(None)


SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
