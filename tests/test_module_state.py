"""No module of the package binds an empty mutable container at module
level: such a binding is process-global state that one caller's call
can change under another's (a cache list evicting another call's
intermediates, for example). State lives with the object that owns it."""

from __future__ import annotations

import ast
import pathlib

import openmldb_spark

_EMPTY_CALLS = {"list", "dict", "set"}


def _is_empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, (ast.List, ast.Set)):
        return not node.elts
    if isinstance(node, ast.Dict):
        return not node.keys
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id in _EMPTY_CALLS and not node.args and not node.keywords)


def _module_bindings(body):
    """Assignments executed at import time: the module body and the
    bodies of its top-level if/try blocks, not functions or classes."""
    for stmt in body:
        if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            yield stmt
        elif isinstance(stmt, (ast.If, ast.Try)):
            for block in ("body", "orelse", "finalbody"):
                yield from _module_bindings(getattr(stmt, block, []))
            for handler in getattr(stmt, "handlers", []):
                yield from _module_bindings(handler.body)


def test_no_module_level_empty_mutable_containers():
    root = pathlib.Path(openmldb_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in _module_bindings(tree.body):
            if _is_empty_container(stmt.value):
                found.append(f"{path.relative_to(root)}:{stmt.lineno}")
    assert not found, f"module-level mutable state: {found}"
