"""The iterative operators' lineage-cut protocol lives in one module.

``operators/ckpt.py`` owns the per-round checkpoint, its RDD-id
ownership, release and ``ConvergenceError``; every iterative operator
runs its rounds through ``ckpt.fixpoint``. This guard parses the
package (no Spark session) and fails when another module takes that
protocol back into its own hands.
"""

from __future__ import annotations

import ast
import glob
import os

PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "us_flight_delay_data_pipeline_spark")
CKPT = os.path.join(PKG_DIR, "operators", "ckpt.py")
PROTOCOL = {"checkpoint_rdd_ids", "release_local_checkpoint"}


def _modules() -> dict[str, ast.Module]:
    out = {}
    for path in sorted(glob.glob(os.path.join(PKG_DIR, "**", "*.py"),
                                 recursive=True)):
        with open(path) as fh:
            out[os.path.relpath(path, PKG_DIR)] = ast.parse(fh.read(), path)
    return out


def _protocol_uses(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names |= {a.name for a in node.names} & PROTOCOL
        elif isinstance(node, ast.Attribute) and node.attr in PROTOCOL:
            names.add(node.attr)
        elif isinstance(node, ast.Name) and node.id in PROTOCOL:
            names.add(node.id)
    return names


def _checkpoints_in_loops(tree: ast.AST) -> list[int]:
    lines = []
    for loop in ast.walk(tree):
        if isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
            for stmt in loop.body + loop.orelse:
                lines += [n.lineno for n in ast.walk(stmt)
                          if isinstance(n, ast.Call)
                          and isinstance(n.func, ast.Attribute)
                          and n.func.attr == "localCheckpoint"]
    return sorted(set(lines))


def _others():
    rel_ckpt = os.path.relpath(CKPT, PKG_DIR)
    return {rel: tree for rel, tree in _modules().items() if rel != rel_ckpt}


def test_only_ckpt_touches_checkpoint_ownership():
    offenders = {rel: sorted(uses) for rel, tree in _others().items()
                 if (uses := _protocol_uses(tree))}
    assert not offenders, offenders


def test_convergence_error_defined_once():
    defs = [rel for rel, tree in _modules().items() for node in ast.walk(tree)
            if isinstance(node, ast.ClassDef)
            and node.name == "ConvergenceError"]
    assert defs == [os.path.join("operators", "ckpt.py")]


def test_no_checkpoint_inside_a_loop_outside_ckpt():
    offenders = {rel: lines for rel, tree in _others().items()
                 if (lines := _checkpoints_in_loops(tree))}
    assert not offenders, offenders


def test_guard_flags_a_hand_rolled_loop():
    tree = ast.parse(
        "from .ckpt import release_local_checkpoint\n"
        "def run(df):\n"
        "    while True:\n"
        "        if df:\n"
        "            df = df.localCheckpoint(eager=True)\n"
        "    ckpt.checkpoint_rdd_ids(df)\n")
    assert _protocol_uses(tree) == PROTOCOL
    assert _checkpoints_in_loops(tree) == [5]
