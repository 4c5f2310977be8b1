"""Gate-window budget lint: the correctness gate samples the FIRST
50 registered queries, and ``registry.load_all`` orders them by the round
of each name's latest gate row in the committed ``CORRECTNESS_r*.json``
files (``registry._proof_ranks``; a red latest row or no row ranks 0).
More than 50 rank-0 names would let a never-proven query miss the gate.

Pure-Python over the registry module — no SparkSession needed.
"""

from __future__ import annotations

import json

GATE_WINDOW = 50

# The window this commit's evidence (CORRECTNESS_r01..r16) derives: the
# one r5 proof, the 31-name r6 block and the first 18 r7 names, each
# round in its file's row order.
EXPECTED_WINDOW = [
    "pipeline_training_manifest", "stats_mannwhitney_drift",
    "stats_chi2_independence", "stats_cusum_changepoint",
    "stats_theilsen_trend", "stats_table_profile", "stats_spearman_corr",
    "stats_mutual_information", "dedup_winnowing_fingerprints",
    "dedup_tfidf_cosine", "ann_signbit_recall", "bpe_merge_sequence",
    "bpe_apply_fertility", "multimodal_ahash_fingerprint",
    "multimodal_ahash_neardup", "multimodal_wav_features",
    "sample_time_split_embargo", "cdc_tombstone_compaction",
    "curation_quota_per_source", "curation_source_overlap_matrix",
    "curation_epoch_schedule", "dedup_span_multiscale",
    "ads_last_touch_attribution", "dwd_bounce_streaming",
    "stream_cusum_monitor", "stream_winnowing_index_store",
    "graph_kcore_bounded", "source_partitioned_pruning",
    "sketch_countmin_freq_audit", "sketch_kmv_distinct",
    "sketch_heavy_hitter_skew", "layout_zorder_locality",
    "stats_welch_ttest", "stats_anova_oneway", "stats_runs_test",
    "ads_seasonality_dow_index", "quality_referential_integrity",
    "quality_order_total_consistency", "stats_qq_quantiles",
    "quality_duplicate_pk_audit", "stats_poisson_dispersion",
    "ads_repeat_purchase_rate", "stats_ewma_anomaly", "join_salted_skew",
    "join_bloom_prefilter", "dws_session_window_agg",
    "dws_session_depth_histogram", "curation_dedup_rate_by_source",
    "dedup_minhash_estimate_bias", "dedup_edit_distance_banded",
]


def _loaded_registry():
    from gmall_211027_flink_spark import registry

    registry.load_all()
    return registry


def _row(green: bool) -> dict:
    return {"rows_match": True, "schema_match": True, "hash_match": green,
            "spark_rows": 1, "oracle_rows": 1, "err": None}


def test_unproven_count_fits_gate_window():
    """Every rank-0 query (new, renamed or red at its latest row) must fit
    in the 50-name gate window, or one of them ships without gate
    proof."""
    registry = _loaded_registry()
    ranks = registry._proof_ranks(registry._EVIDENCE_DIR)
    unproven = [n for n in registry.QUERIES
                if ranks.get(n, (0, 0))[0] == 0]
    assert len(unproven) <= GATE_WINDOW, (
        f"{len(unproven)} driver-unproven queries exceed the "
        f"{GATE_WINDOW}-name gate window, so some are never sampled: "
        f"{unproven}")


def test_unproven_queries_register_first():
    """load_all() puts the stalest evidence first: ranks never decrease
    along QUERIES."""
    registry = _loaded_registry()
    ranks = registry._proof_ranks(registry._EVIDENCE_DIR)
    order = [ranks.get(n, (0, 0)) for n in registry.QUERIES]
    assert order == sorted(order)


def test_ranks_from_fake_evidence(tmp_path, monkeypatch):
    """The latest row decides: a name red at its latest row ranks with the
    never-proven names, an r3-green name sorts before an r5-green one,
    proofs of one round keep their row order, and an empty evidence dir
    leaves registration order."""
    registry = _loaded_registry()
    names = ["b", "new", "a", "c", "d", "f"]

    def gate_order():
        monkeypatch.setattr(registry, "QUERIES", dict.fromkeys(names))
        registry.load_all()
        return list(registry.QUERIES)

    monkeypatch.setattr(registry, "_EVIDENCE_DIR", tmp_path)
    assert gate_order() == names
    evidence = {
        3: {"f": _row(True), "a": _row(True), "b": _row(True),
            "c": _row(True)},
        5: {"b": _row(True), "c": _row(False)},
        12: {"d": {**_row(True), "err": "timeout"}},
    }
    for rnd, rows in evidence.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps(rows))
    (tmp_path / "CORRECTNESS_r05_c8.json").write_text(
        json.dumps({"a": _row(False)}))
    assert registry._proof_ranks(tmp_path) == {
        "f": (3, 0), "a": (3, 1), "b": (5, 0), "c": (0, 0), "d": (0, 0)}
    assert gate_order() == ["new", "c", "d", "f", "a", "b"]


def test_gate_window_pinned():
    """The first 50 names this commit's evidence derives, whatever the
    process imported first (a late-listed module is imported ahead of
    load_all here)."""
    import gmall_211027_flink_spark.plans.pipeline  # noqa: F401

    registry = _loaded_registry()
    assert list(registry.QUERIES)[:GATE_WINDOW] == EXPECTED_WINDOW
