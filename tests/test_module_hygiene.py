"""Module-level redefinition lint.

Two incidents motivated this: in r10 two new ``def``s silently shadowed
same-named registered queries (caught by the full sweep, fixed by the
registry's duplicate-name guard), and in r11 a new operator block
re-assigned existing module constants (``WINNOW_K``/``WINNOW_W``) at the
bottom of ``dedup.py`` — Python rebinding is silent, and the EARLIER
query reads the constants at call time, so its oracle went stale while
the registry guard saw nothing (different query names).

This test parses every package module and asserts no top-level name is
bound twice (assignments, function defs, class defs), excluding
``__future__``-style dunders and deliberate re-binds via augmented
assignment.  A genuine need to rebind should use a new name.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent \
    / "gmall_211027_flink_spark"

MODULES = sorted(PKG.rglob("*.py"))


def _refines_self(node: ast.Assign, name: str) -> bool:
    """True for ``X = X.replace(...)``-style refinements: the value
    expression reads the same name, so the binding is a continuation of
    the same object, not a silent shadow of an unrelated earlier one."""
    return any(isinstance(n, ast.Name) and n.id == name
               and isinstance(n.ctx, ast.Load)
               for n in ast.walk(node.value))


def _top_level_bindings(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node.lineno, False
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield t.id, node.lineno, _refines_self(node, t.id)
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            if isinstance(node.target, ast.Name):
                yield node.target.id, node.lineno, False
        elif isinstance(node, (ast.If, ast.Try)):
            # conditional defs (import-try gates) are deliberate
            continue


@pytest.mark.parametrize("path", MODULES, ids=lambda p: p.stem)
def test_no_duplicate_top_level_bindings(path):
    tree = ast.parse(path.read_text())
    seen: dict[str, int] = {}
    dups = []
    for name, lineno, refines in _top_level_bindings(tree):
        if name.startswith("__") or refines:
            continue
        if name in seen:
            dups.append(f"{name} at line {lineno} "
                        f"(first bound at line {seen[name]})")
        else:
            seen[name] = lineno
    assert not dups, (
        f"{path.relative_to(PKG.parent)}: top-level names bound twice — "
        f"later binding silently shadows the one earlier queries read at "
        f"call time: {dups}")


STREAMING = sorted((PKG / "streaming").rglob("*.py"))


@pytest.mark.parametrize("path", STREAMING, ids=lambda p: p.stem)
def test_no_assert_in_streaming_functions(path):
    """A runtime invariant on a streaming path must raise a named error:
    ``python -O`` strips ``assert`` statements, so an asserted bound
    (store size, staged part files) silently stops being checked."""
    tree = ast.parse(path.read_text())
    found = [f"{fn.name} line {node.lineno}"
             for fn in ast.walk(tree)
             if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
             for node in ast.walk(fn) if isinstance(node, ast.Assert)]
    assert not found, (
        f"{path.relative_to(PKG.parent)}: assert in function bodies "
        f"(stripped by python -O; raise a named RuntimeError): {found}")
