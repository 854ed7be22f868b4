import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eurostat_energy_etl_pipeline_spark.session import get_spark

# Default is the sf0.001 smoke set; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
# to run the whole suite (incl. the oracle differential) at the driver's gate scale.
SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    s = get_spark("tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
