"""Only ``plans/ads.py`` uses the panel memo, ``catalog.prepared``.

``plans/ads.py`` registers every panel through a module-local ``query``
that wraps it in ``prepared``, so its panels are memoized by
construction. No other module may use the memo: the headline queries
are timed min-of-3 in one session, and a memo hit there would time a
re-run of finished stages instead of the query. Pure ast, no
SparkSession.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.join(os.path.dirname(__file__), "..")
ALLOWED = {"gmall_211027_flink_spark/plans/ads.py",
           "gmall_211027_flink_spark/catalog.py"}


def uses_prepared(source: str) -> bool:
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Name) and node.id == "prepared":
            return True
        if isinstance(node, ast.Attribute) and node.attr == "prepared":
            return True
        if isinstance(node, ast.ImportFrom) and any(
                a.name == "prepared" for a in node.names):
            return True
    return False


def _sources():
    """(path relative to the repo root, source) of every program module:
    the package, the scripts and the bench."""
    paths = [os.path.join(ROOT, "bench.py")]
    for top in ("gmall_211027_flink_spark", "scripts"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(dirpath, f) for f in files
                      if f.endswith(".py")]
    for path in sorted(paths):
        with open(path) as fh:
            yield os.path.relpath(path, ROOT).replace(os.sep, "/"), fh.read()


def test_no_module_outside_ads_uses_the_panel_memo():
    users = [p for p, src in _sources()
             if p not in ALLOWED and uses_prepared(src)]
    assert users == []


def test_linter_sees_imports_and_attributes():
    assert uses_prepared("from x.catalog import prepared\n")
    assert uses_prepared("f = catalog.prepared(g)\n")
    assert not uses_prepared("# prepared in a comment\nx = 'prepared'\n")
