"""One materialization path: a ratchet on direct materialization calls.

A reused intermediate is materialized through `session.checkpoint`,
which picks `localCheckpoint` locally and a reliable `checkpoint()` when
SPARK_GRAFT_CHECKPOINT_DIR is set, so executor loss can be recovered.
A direct `.localCheckpoint()`, `.cache()` or `.persist()` bypasses that
choice, and a cache that is never unpersisted outlives its query.

Modules that still make such calls are listed below with their current
count. A count may only go down: a new call anywhere fails the lint,
and a migrated call fails it until its entry is lowered (or removed at
zero), so the count cannot creep back. Pure ast, no SparkSession.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

PKG = os.path.join(os.path.dirname(__file__), "..",
                   "gmall_211027_flink_spark")

MATERIALIZE_ATTRS = {"localCheckpoint", "cache", "persist"}

# modules not yet migrated to session.checkpoint -> direct call count
NOT_YET_MIGRATED: dict[str, int] = {
    "jobs/dwd_log_split.py": 1,
    "operators/aggregates.py": 2,
    "operators/bucketing.py": 1,
    "operators/curation.py": 1,
    "operators/dedup.py": 6,
    "operators/inference.py": 2,
    "operators/joins.py": 1,
    "operators/kmeans.py": 3,
    "operators/mlfit.py": 1,
    "operators/multimodal.py": 1,
    "operators/pca.py": 9,
    "operators/sampling.py": 4,
    "operators/search.py": 1,
    "operators/semdedup.py": 3,
    "operators/sketches.py": 1,
    "operators/text.py": 3,
    "plans/behavior.py": 3,
    "streaming/dim_router.py": 1,
    "streaming/sinks.py": 1,
    "streaming/windows.py": 1,
}


def _count(source: str) -> int:
    return sum(1 for node in ast.walk(ast.parse(source))
               if isinstance(node, ast.Call)
               and isinstance(node.func, ast.Attribute)
               and node.func.attr in MATERIALIZE_ATTRS)


def _direct_calls() -> Counter:
    counts: Counter = Counter()
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == "session.py":
                continue
            with open(path) as fh:
                n = _count(fh.read())
            if n:
                counts[rel] = n
    return counts


def test_no_new_direct_materialization():
    over = {m: n for m, n in _direct_calls().items()
            if n > NOT_YET_MIGRATED.get(m, 0)}
    assert not over, (
        f"direct localCheckpoint/cache/persist calls {over} above the "
        f"allowed counts — materialize through session.checkpoint")


def test_ratchet_counts_are_current():
    """A migrated call lowers its module's entry, so it cannot come
    back unnoticed; a module at zero leaves the dict."""
    counts = _direct_calls()
    stale = {m: (n, counts.get(m, 0)) for m, n in NOT_YET_MIGRATED.items()
             if counts.get(m, 0) < n}
    assert not stale, (
        f"(allowed, actual) {stale}: lower these NOT_YET_MIGRATED "
        f"entries to the actual count, or drop them at zero")


def test_linter_sees_calls_and_ignores_comments():
    src = ("a = df.localCheckpoint(eager=False)\n"
           "b = df.cache()\n"
           "c = df.persist()\n"
           "# df.localCheckpoint() in a comment\n"
           "d = checkpoint(df)\n")
    assert _count(src) == 3
