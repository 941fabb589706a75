import os

import pytest

from waterbear_spark.conf import session

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
MODEL_DIR = os.path.join(FIXTURES, "model")
DATA_DIR = os.path.join(FIXTURES, "data")

TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA_ROOT, "sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = session(4, driver_memory="4g")
    yield s
    s.stop()
