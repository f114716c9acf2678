import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "requires_reference(path): reads the read-only reference checkout at "
        "`path`; skipped (and counted in the summary) when it is absent",
    )


@pytest.hookimpl(tryfirst=True)
def pytest_runtest_setup(item):
    for mark in item.iter_markers("requires_reference"):
        if not os.path.exists(mark.args[0]):
            pytest.skip(f"reference checkout absent: {mark.args[0]}")


@pytest.fixture(scope="session")
def spark():
    from hybrid_sanctions_search_engine_spark.session import get_spark

    spark = get_spark("tests", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark


@pytest.fixture(scope="session")
def sf_smoke_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct_dir():
    return SF_CORRECT
