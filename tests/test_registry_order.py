"""The external oracle sample is the first 50 registered names, and
``load_registry`` orders them from the committed CORRECTNESS evidence
(``queries._last_checked``). These tests build fake evidence files; no
Spark session is started."""

from __future__ import annotations

import json

from us_flight_delay_data_pipeline_spark.queries import (
    _EVIDENCE_DIRS, _last_checked, load_registry)

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "err": None}
RED = {**GREEN, "hash_match": False}
NO_ORACLE = {"rows_match": None, "schema_match": None, "hash_match": None,
             "err": "no_oracle"}


def _write(d, rnd: int, rows: dict) -> None:
    d.mkdir(exist_ok=True)
    (d / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _order(names, stamp):
    # the sort key load_registry applies
    return sorted(names, key=lambda n: (stamp.get(n, 0), n))


def test_stamps_split_across_root_and_records(tmp_path):
    root, records = tmp_path, tmp_path / "records"
    _write(records, 1, {"a": GREEN, "b": GREEN, "c": GREEN, "d": RED})
    _write(records, 2, {"b": GREEN, "e": NO_ORACLE,
                        "f": {**GREEN, "err": "Py4JJavaError: boom"}})
    _write(root, 10, {"c": GREEN, "d": GREEN})
    (root / "CORRECTNESS_r10_notes.json").write_text("not evidence")
    stamp = _last_checked([records, root])
    # a later round overrides an earlier one, whichever directory holds it
    assert stamp == {"a": 1, "b": 2, "c": 10, "d": 10, "e": 2, "f": 0}


def test_order_never_checked_and_failed_first_then_oldest(tmp_path):
    records = tmp_path / "records"
    _write(records, 3, {"old": GREEN, "red_then_green": RED,
                        "green_then_red": GREEN, "rows_only": NO_ORACLE})
    _write(records, 5, {"newer": GREEN, "red_then_green": GREEN,
                        "green_then_red": RED})
    stamp = _last_checked([tmp_path, records])
    names = ["newer", "old", "fresh", "green_then_red", "red_then_green",
             "rows_only"]
    assert _order(names, stamp) == [
        "fresh", "green_then_red",        # never checked / failed latest
        "old", "rows_only",               # round 3; no_oracle is checked
        "newer", "red_then_green",        # round 5
    ]


def test_missing_directories_give_empty_map(tmp_path):
    assert _last_checked([tmp_path / "nope", tmp_path / "records"]) == {}
    assert _order(["b", "a"], {}) == ["a", "b"]


def test_registry_head_is_the_stalest_evidence():
    """The real registry: every name is kept, and the 50-name head
    re-checks the oldest evidence, not the round just committed."""
    reg = load_registry()
    names = list(reg)
    assert sorted(names) == sorted(set(names))
    stamp = _last_checked(_EVIDENCE_DIRS)
    assert names == _order(names, stamp)
    newest = max(stamp.values())
    green_newest = {n for n, s in stamp.items() if s == newest}
    head = names[:50]
    assert not set(head) & green_newest
    assert max(stamp.get(n, 0) for n in head) <= min(
        stamp.get(n, 0) for n in names[50:])
