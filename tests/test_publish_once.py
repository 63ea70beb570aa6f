"""functions.core.publish_once: a shared on-disk layout is built once,
published whole with one rename, and never left half-built. No Spark
session: ``build`` writes plain files."""

from __future__ import annotations

import glob
import os

import pytest

from us_flight_delay_data_pipeline_spark.functions.core import publish_once

MARKER = "_SUCCESS_LAYOUT"


def _write(path: str, name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as fh:
        fh.write(name)


def _staging(path: str) -> list[str]:
    return glob.glob(f"{path}.staging.*")


def test_builds_and_publishes_with_marker(tmp_path):
    path = str(tmp_path / "layout")
    assert publish_once(path, lambda staged: _write(staged, "part-0")) == path
    assert sorted(os.listdir(path)) == [MARKER, "part-0"]
    assert _staging(path) == []


def test_published_path_is_not_rebuilt(tmp_path):
    path = str(tmp_path / "layout")
    _write(path, "part-0")
    _write(path, MARKER)

    def build(staged):
        raise AssertionError("a published layout was rebuilt")

    assert publish_once(path, build) == path
    assert sorted(os.listdir(path)) == [MARKER, "part-0"]
    assert _staging(path) == []


def test_losing_racer_drops_its_staging_and_keeps_the_winner(tmp_path):
    path = str(tmp_path / "layout")

    def build(staged):
        _write(staged, "loser")
        # another builder publishes while this one is still building
        _write(path, "winner")
        _write(path, MARKER)

    assert publish_once(path, build) == path
    assert sorted(os.listdir(path)) == [MARKER, "winner"]
    assert _staging(path) == []


def test_failed_build_leaves_nothing_and_the_next_call_builds(tmp_path):
    path = str(tmp_path / "layout")

    def broken(staged):
        _write(staged, "half")
        raise ValueError("build failed")

    with pytest.raises(ValueError, match="build failed"):
        publish_once(path, broken)
    assert not os.path.exists(path)
    assert _staging(path) == []

    calls = []

    def build(staged):
        calls.append(staged)
        _write(staged, "part-0")

    publish_once(path, build)
    assert len(calls) == 1
    assert sorted(os.listdir(path)) == [MARKER, "part-0"]
    assert _staging(path) == []


def test_rename_failure_without_a_published_layout_raises(tmp_path):
    """A path that exists but holds no marker is not a published
    layout: the rename error surfaces instead of being taken as a
    lost race."""
    path = str(tmp_path / "layout")
    _write(path, "stray")
    with pytest.raises(OSError):
        publish_once(path, lambda staged: _write(staged, "part-0"))
    assert os.listdir(path) == ["stray"]
    assert _staging(path) == []
