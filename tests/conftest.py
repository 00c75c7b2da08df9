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


@pytest.fixture(autouse=True)
def _drop_session_tables(request):
    """After a test on the shared ``spark`` session, drop the temp tables
    and temp views its statements created, so a later test's ``CREATE
    TEMP TABLE`` of the same name does not find one already there."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    yield
    from arnab_spark._dialect_base import state_for

    state = state_for(spark)
    for name in state.session_tables | state.temp_ddl:
        spark.catalog.dropTempView(name)
    state.session_tables.clear()
    state.temp_ddl.clear()
