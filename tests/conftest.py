import os
import sys

import pytest

_TESTS = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_TESTS)
sys.path.insert(0, _ROOT)
# spark python workers must be able to import repo + test modules
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_ROOT, _TESTS, os.environ.get("PYTHONPATH", "")]
).rstrip(os.pathsep)

from parquet_producers_spark.session import get_spark  # noqa: E402


def executed_plan(df) -> str:
    """The physical plan Spark runs for ``df``, as the text the
    plan-shape tests search."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pps-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
