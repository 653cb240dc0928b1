"""Durability of ``materialize_for_reuse`` barriers is one deployment
switch: no operator takes a per-call ``durable`` argument, and only
``operators/persist.py`` reads the env flag."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "convml_data_spark"
FLAG = "SPARK_GRAFT_DURABLE_CHECKPOINT"


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def test_no_function_takes_durable():
    found = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "durable" in names:
                    found.append(f"{rel}:{node.lineno}")
    assert not found, f"functions taking `durable`: {found}"


def test_durable_flag_only_in_persist():
    found = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                if FLAG in node.value:
                    found.append(f"{rel}:{node.lineno}")
            elif isinstance(node, ast.alias) and node.name == "ENV_FLAG":
                found.append(f"{rel}:{node.lineno}")
    outside = [f for f in found if not f.startswith("operators/persist.py:")]
    # the walk must see the one reader, or an empty walk would pass
    assert len(outside) < len(found), f"{FLAG} not found in operators/persist.py"
    assert not outside, f"{FLAG} named outside operators/persist.py: {outside}"
