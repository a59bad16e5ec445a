from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    # pytest-timeout is not installed in this container; the marks on
    # the streaming/soak tests are advisory (they document the budget
    # and activate if the plugin is ever present).  Register the marker
    # so the suite stays warning-clean.
    config.addinivalue_line(
        "markers", "timeout(seconds): advisory per-test wall budget "
        "(enforced only when pytest-timeout is installed)")


@pytest.fixture(scope="session")
def spark():
    from ecommerce_data_engineering_spark.session import get_spark
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _empty_query_memo(request):
    """Each test that uses the session starts with an empty query memo,
    so a registered query it calls builds the plan the test inspects:
    a hit would hand back an earlier test's kept plan or its stored
    result (plans/registry.py)."""
    if "spark" in request.fixturenames:
        from ecommerce_data_engineering_spark.plans import clear_query_memo
        clear_query_memo(request.getfixturevalue("spark"))
