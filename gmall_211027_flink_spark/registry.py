"""Query registry: every implemented operator registers a (spark, sf_dir) ->
DataFrame callable plus (when SQL-expressible) a DuckDB oracle SQL string.

This is the single source for ``__spark_entry__.queries()`` /
``oracle_sql()`` — the driver's correctness gate — and for ``bench.py``.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path
from typing import Any

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}
BENCH_QUERIES: list[str] = []   # headline queries timed by bench.py
# The correctness gate's per-round results, committed beside the package.
_EVIDENCE_DIR = Path(__file__).resolve().parent.parent


def query(name: str, oracle: str | None = None, bench: bool = False):
    """Register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    ``oracle`` is equivalent ANSI SQL for DuckDB over the same parquet
    tables (views: region nation customer supplier part orders lineitem
    events documents embeddings). Omit only for ops that genuinely can't
    be expressed in SQL (the driver then records a weaker rows-only check).
    """
    def deco(fn):
        if name in QUERIES:
            # round-10 lesson: a silent dict overwrite re-pointed a
            # PROVEN query (and the oracle other queries reference) at
            # new code — fail loudly instead
            raise ValueError(
                f"duplicate query registration: {name!r} is already "
                f"registered by {QUERIES[name].__module__}."
                f"{QUERIES[name].__qualname__}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if bench:
            BENCH_QUERIES.append(name)
        fn.query_name = name
        return fn
    return deco


def _proof_ranks(evidence_dir: Path) -> dict[str, tuple[int, int]]:
    """Gate rank of each name: the round of its latest gate row in
    ``CORRECTNESS_rNN.json`` and that row's position in the file.

    A red latest row (a rows, schema or hash mismatch, or an error) ranks
    (0, 0), as does a name with no row: those queries need the gate first.
    The row position, not import order, breaks ties between proofs of one
    round, because import order depends on what a process imported first.
    """
    files = {}
    for f in evidence_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name)
        if m:
            files[int(m.group(1))] = f
    ranks: dict[str, tuple[int, int]] = {}
    for rnd in sorted(files):
        rows = json.loads(files[rnd].read_text())
        for i, (name, row) in enumerate(rows.items()):
            green = row.get("err") is None and all(
                row.get(k) is True
                for k in ("rows_match", "schema_match", "hash_match"))
            ranks[name] = (rnd, i) if green else (0, 0)
    return ranks


def load_all() -> None:
    """Import every module that registers queries (idempotent), then order
    the registry by ``_proof_ranks``: the correctness gate samples the first
    50 names, so unproven queries come first, then the stalest proofs.
    The sort is stable, so unproven queries keep registration order."""
    import gmall_211027_flink_spark.operators.aggregates  # noqa: F401
    import gmall_211027_flink_spark.operators.joins  # noqa: F401
    import gmall_211027_flink_spark.operators.windows  # noqa: F401
    import gmall_211027_flink_spark.operators.dedup  # noqa: F401
    import gmall_211027_flink_spark.operators.similarity  # noqa: F401
    import gmall_211027_flink_spark.operators.text  # noqa: F401
    import gmall_211027_flink_spark.operators.multimodal  # noqa: F401
    import gmall_211027_flink_spark.operators.asof  # noqa: F401
    import gmall_211027_flink_spark.operators.fuzzy  # noqa: F401
    import gmall_211027_flink_spark.operators.sampling  # noqa: F401
    import gmall_211027_flink_spark.plans.ads  # noqa: F401
    import gmall_211027_flink_spark.sources.cdc  # noqa: F401
    import gmall_211027_flink_spark.streaming.windows  # noqa: F401
    import gmall_211027_flink_spark.operators.curation  # noqa: F401
    import gmall_211027_flink_spark.plans.tpch  # noqa: F401
    import gmall_211027_flink_spark.operators.graph  # noqa: F401
    import gmall_211027_flink_spark.jobs.dwd_log_split  # noqa: F401
    import gmall_211027_flink_spark.operators.kmeans  # noqa: F401
    import gmall_211027_flink_spark.operators.semdedup  # noqa: F401
    import gmall_211027_flink_spark.operators.search  # noqa: F401
    import gmall_211027_flink_spark.plans.behavior  # noqa: F401
    import gmall_211027_flink_spark.sources.files  # noqa: F401
    import gmall_211027_flink_spark.plans.pipeline  # noqa: F401
    import gmall_211027_flink_spark.operators.sketches  # noqa: F401
    import gmall_211027_flink_spark.operators.pca  # noqa: F401
    import gmall_211027_flink_spark.operators.bucketing  # noqa: F401
    import gmall_211027_flink_spark.operators.jpeg  # noqa: F401
    import gmall_211027_flink_spark.operators.mlfit  # noqa: F401
    import gmall_211027_flink_spark.operators.inference  # noqa: F401

    ranks = _proof_ranks(_EVIDENCE_DIR)
    ordered = sorted(QUERIES, key=lambda n: ranks.get(n, (0, 0)))
    reordered = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(reordered)
