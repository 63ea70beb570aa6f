from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_flight_delay_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
DEFAULT_MARKEXPR = "not slow"  # pytest.ini addopts


def pytest_configure(config):
    """Run a ``slow`` test that is named by node id.

    pytest.ini's ``-m "not slow"`` applies to every collected test, a
    slow one named on the command line (``pytest tests/x.py::test_y``)
    included. When every path argument is a node id and the mark
    expression is still that default, the filter is dropped; a
    directory or file argument keeps it, and so does any other ``-m``.
    """
    if (config.option.markexpr == DEFAULT_MARKEXPR and config.args
            and all("::" in a for a in config.args)):
        config.option.markexpr = ""


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest-us-flight-delay")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
