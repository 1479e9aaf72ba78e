import os
import sys

import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cassandrastack_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    # small shuffle width for tiny test data; AQE coalesces anyway
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture()
def tmp_warehouse(tmp_path):
    return str(tmp_path / "warehouse")
