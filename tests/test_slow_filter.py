"""The conftest hook that lets a ``slow`` test run when named by node id."""

from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from conftest import DEFAULT_MARKEXPR, pytest_configure

HERE = os.path.dirname(os.path.abspath(__file__))


def _markexpr(args, markexpr=DEFAULT_MARKEXPR):
    config = SimpleNamespace(args=args,
                             option=SimpleNamespace(markexpr=markexpr))
    pytest_configure(config)
    return config.option.markexpr


def test_node_ids_clear_the_default_filter():
    assert _markexpr(["tests/test_x.py::test_y"]) == ""
    assert _markexpr(["tests/a.py::t", "tests/b.py::C::t[1]"]) == ""


def test_paths_and_explicit_marks_keep_their_filter():
    assert _markexpr(["tests/"]) == DEFAULT_MARKEXPR
    assert _markexpr(["tests/test_x.py"]) == DEFAULT_MARKEXPR
    assert _markexpr(["tests/a.py::t", "tests/b.py"]) == DEFAULT_MARKEXPR
    assert _markexpr([]) == DEFAULT_MARKEXPR
    assert _markexpr(["tests/a.py::t"], markexpr="slow") == "slow"
    assert _markexpr(["tests/a.py::t"], markexpr="") == ""


@pytest.mark.slow
def test_slow_probe():
    """Selected only when named by node id (or under ``-m ""``)."""


def _collected(*args) -> str:
    res = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        cwd=os.path.dirname(HERE), capture_output=True, text=True,
        timeout=300)
    return res.stdout


def test_named_slow_test_is_collected():
    node = "tests/test_slow_filter.py::test_slow_probe"
    assert node in _collected(node)
    assert node not in _collected("tests/test_slow_filter.py")
