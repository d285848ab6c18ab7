import os

import pytest

from conceptnetwork_spark import get_spark
from tests.oracle_utils import oracle_db

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def pytest_terminal_summary(terminalreporter):
    """Say how many slow tests the default ``-m 'not slow'`` (pyproject
    addopts) left out, and how to run them, so a plain run does not pass
    them over in silence."""
    slow = [
        item for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slow")
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow tests deselected; run them with: "
            "python -m pytest tests/ -m 'slow or not slow'"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="conceptnetwork-tests")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = oracle_db(SF_ORACLE)
    yield con
    con.close()
