import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_delta_ingest_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kdi-tests", cpus=int(os.environ.get("TEST_CPUS", "8")))
    yield s


SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
