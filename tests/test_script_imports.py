"""Script-rot guard: every name a script imports from the package must
still exist. Scripts run only by hand (perf A/B, plan dumps, scale
sweeps) are otherwise first exercised at the next measurement, long
after the helper they import was renamed or deleted. The scripts are
parsed, never run, and no Spark session is started."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

PKG = "us_flight_delay_data_pipeline_spark"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    glob.glob(os.path.join(_REPO, "scripts", "*.py"))
    + glob.glob(os.path.join(_REPO, "perfbench", "*.py"))
    + [os.path.join(_REPO, "bench.py"),
       os.path.join(_REPO, "__spark_entry__.py")])


def _package_imports(path: str) -> list[tuple[str, str]]:
    """(module, name) for every ``from us_flight_delay_data_pipeline_
    spark[...] import name`` anywhere in the file, function bodies
    included."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    return [(node.module, alias.name)
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom) and node.level == 0
            and node.module
            and (node.module == PKG or node.module.startswith(PKG + "."))
            for alias in node.names if alias.name != "*"]


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    # a submodule not yet imported, e.g. ``from pkg import queries``
    return (hasattr(mod, "__path__")
            and importlib.util.find_spec(f"{module}.{name}") is not None)


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[os.path.relpath(p, _REPO) for p in SCRIPTS])
def test_script_package_imports_resolve(path):
    missing = [f"{m}.{n}" for m, n in _package_imports(path)
               if not _resolves(m, n)]
    assert not missing, f"{os.path.relpath(path, _REPO)} imports {missing}"


def test_guard_sees_imports_and_flags_a_stale_name(tmp_path):
    """The parser finds module-level and function-level imports, and a
    deleted name does not resolve."""
    src = tmp_path / "s.py"
    src.write_text(
        f"from {PKG}.sources.envelope import encode_envelope\n"
        "def main():\n"
        f"    from {PKG}.sources.envelope import no_such_helper\n"
        f"    from {PKG} import queries\n")
    found = _package_imports(str(src))
    assert found == [
        (f"{PKG}.sources.envelope", "encode_envelope"),
        (f"{PKG}.sources.envelope", "no_such_helper"),
        (PKG, "queries"),
    ]
    assert [_resolves(m, n) for m, n in found] == [True, False, True]
