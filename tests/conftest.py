import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a long-running test")


@pytest.fixture(scope="session")
def spark():
    from ecollector_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
