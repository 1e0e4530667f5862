from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eea_crawler_spark.session import get_spark  # noqa: E402

SMOKE_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("eea_crawler_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SMOKE_SF_DIR


def pytest_terminal_summary(terminalreporter):
    # a green default run covers only the fast set; say so in the tally
    slow = [
        it for it in terminalreporter.stats.get("deselected", [])
        if it.get_closest_marker("slow")
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slow lifecycle/e2e tests deselected — "
            "run them with `pytest tests/ -m slow`"
        )
