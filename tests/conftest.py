import os
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# HYPOTHESIS_PROFILE=ci: every run draws the same examples, so a property
# test's result depends on the code alone
settings.register_profile("ci", derandomize=True)
settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "default"))


@pytest.fixture(scope="session")
def spark():
    from etl_edi_data_scrapper_spark import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    """Directory of the generated sf0.001 tables (override with
    SPARK_GRAFT_TEST_SF_DIR); tests that read them skip when it is absent."""
    path = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(path):
        pytest.skip(f"generated test tables not found at {path}")
    return path
