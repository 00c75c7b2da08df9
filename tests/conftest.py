import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the driver JVMs of a test run (this process and the CLI subprocesses)
# keep their class-data archive in the checkout, not in ~/.cache
os.environ["XDG_CACHE_HOME"] = os.path.join(ROOT, ".test_cache")

from arnab_spark.spark_utils import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("arnab_spark_tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark
