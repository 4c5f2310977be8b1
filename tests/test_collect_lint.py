"""Collect-only-bounded AST lint (VERDICT r11 "what's wrong" #2).

`.collect()` pulls a DataFrame to the driver: on a data-proportional
path it un-distributes the operator and dies at 100 TB.  Every collect
site in the package must therefore sit on a BOUNDED-cardinality
materialization — a drained sketch/state store (grid-, calendar- or
k-sized by a named invariant), a query-matrix fetch, or a file-source
roundtrip sim — and be registered here with that justification.

A new `.collect()` anywhere else fails this lint until it is audited
and added to the allowlist below (sibling of test_module_hygiene.py's
AST sweeps; pure ast, no SparkSession).

The temp-dir gate queries in streaming/windows.py and sources/files.py
collect through one decorator, `tempdir.temp_store`, which materializes
the decorated query's result before its temp dir is removed. The
decorator's own `.collect()` is one site; each function it decorates, in
any module, counts as a collect site of its own, so a new temp-dir query
still needs an audited entry here.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(__file__), "..",
                   "gmall_211027_flink_spark")

# (file, enclosing function) -> why the cardinality is bounded.
ALLOWED_COLLECT_SITES: dict[tuple[str, str], str] = {
    ("operators/graph.py", "graph_kcore_bounded"):
        "fixed-point loop reads ONE scalar count per peel round "
        "(rounds bounded by the degeneracy cap)",
    ("operators/similarity.py", "ann_cosine_topk_pandas"):
        "N_QUERIES-row query-matrix fetch broadcast to every task",
    ("operators/text.py", "_bpe_train"):
        "BPE_MERGES-bounded merge table (one row per learned merge)",
    ("sources/files.py", "source_csv_roundtrip"):
        "file-source sim drains the bounded sample it just wrote",
    ("sources/files.py", "source_json_roundtrip"):
        "file-source sim drains the bounded sample it just wrote",
    ("sources/files.py", "cdc_schema_evolution_replay"):
        "bounded epoch-slice replay of the schema-evolution sim",
    ("sources/files.py", "source_dpp_pruned_join"):
        "bounded pruned-partition listing for the DPP audit readout",
    ("sources/files.py", "source_partitioned_pruning"):
        "bounded partition listing for the pruning audit readout",
    ("streaming/sinks.py", "write_batch"):
        "per-batch changelog keys for tombstone bookkeeping (batch- "
        "sized by the micro-batch contract, never corpus-sized)",
    ("tempdir.py", "run_in_temp_dir"):
        "the `temp_store` decorator's collect; each decorated query is "
        "audited here under its own name",
    ("streaming/windows.py", "dws_late_data_drop"):
        "gate-harness materialization before temp checkpoint cleanup",
    ("streaming/windows.py", "dws_incremental_agg_maintenance"):
        "drained store is one row per (event type, calendar day): "
        "bounded by event types x calendar days",
}

# functions decorated with this count as collect sites (see docstring)
STORE_DECORATOR = "temp_store"

# every stream_* gate-harness store drains its BOUNDED state (grid- /
# calendar- / k-sized, each pinned by a named RuntimeError invariant)
# before the temp dir is removed in `finally` — same justification for
# all of them
_STREAM_STORE_FUNCS = (
    "stream_ams_maintenance", "stream_countmin_maintenance",
    "stream_cs_maintenance", "stream_cusum_maintenance",
    "stream_cusum_monitor", "stream_dedup_minhash_incremental",
    "stream_hll_maintenance", "stream_holt_maintenance",
    "stream_holtwinters_maintenance", "stream_index_stats_maintenance",
    "stream_cochran_maintenance", "stream_cox_stuart_maintenance",
    "stream_durbin_maintenance", "stream_mood_maintenance",
    "stream_ansari_maintenance", "stream_kendalls_w_maintenance",
    "stream_hoeffding_maintenance", "stream_rfm_maintenance",
    "stream_kmv_maintenance", "stream_ks_drift_monitor",
    "stream_last_value_compaction", "stream_mg_heavy_hitters",
    "stream_mk_maintenance",
    "stream_ols_maintenance", "stream_pca_scatter_maintenance",
    "stream_ph_maintenance", "stream_psi_maintenance",
    "stream_theil_maintenance", "stream_topk_gmv_maintenance",
    "stream_winnowing_index_store",
)
for _fn in _STREAM_STORE_FUNCS:
    ALLOWED_COLLECT_SITES[("streaming/windows.py", _fn)] = (
        "bounded drained-store materialization before temp cleanup")


def _collect_sites():
    sites = set()
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path) as fh:
                tree = ast.parse(fh.read())
            funcs = [n for n in ast.walk(tree)
                     if isinstance(n, (ast.FunctionDef,
                                       ast.AsyncFunctionDef))]
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "collect"):
                    enc = None
                    for f in funcs:
                        if f.lineno <= node.lineno <= f.end_lineno:
                            if enc is None or f.lineno > enc.lineno:
                                enc = f
                    sites.add((rel, enc.name if enc else "<module>"))
            for f in funcs:
                if any(isinstance(d, ast.Name) and d.id == STORE_DECORATOR
                       for d in f.decorator_list):
                    sites.add((rel, f.name))
    return sites


def test_every_collect_site_is_allowlisted():
    sites = _collect_sites()
    unknown = sites - set(ALLOWED_COLLECT_SITES)
    assert not unknown, (
        f"unaudited .collect() sites {sorted(unknown)} — a collect on a "
        f"data-proportional path un-distributes the operator; audit the "
        f"cardinality bound and register it in ALLOWED_COLLECT_SITES "
        f"with the justification")


def test_allowlist_has_no_stale_entries():
    """Entries whose collect site no longer exists are bookkeeping rot
    (the function was renamed/removed without updating the lint)."""
    sites = _collect_sites()
    stale = set(ALLOWED_COLLECT_SITES) - sites
    assert not stale, f"stale allowlist entries: {sorted(stale)}"
