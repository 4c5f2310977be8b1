"""The co-purchase pair build shared by the graph queries and the
basket panels (`operators/graph.py` `copurchase_pairs`, `symmetrize`)."""

from __future__ import annotations

from gmall_211027_flink_spark.operators.graph import (
    copurchase_pairs, graph_components_copurchase, symmetrize)


def test_pairs_are_oriented_and_distinct(spark, sf_dir):
    """part_a < part_b on distinct rows: the property that lets
    symmetrize union both directions without a dedup shuffle."""
    pairs = copurchase_pairs(spark, sf_dir, 1)
    rows = [(r.part_a, r.part_b, r.together_ct) for r in pairs.collect()]
    assert rows and all(a < b and ct >= 1 for a, b, ct in rows)
    assert len({(a, b) for a, b, _ in rows}) == len(rows)
    edges = [(r.u, r.v) for r in symmetrize(pairs).collect()]
    assert len(edges) == 2 * len(rows) == len(set(edges))


def test_components_leave_no_cached_relation(spark, sf_dir):
    """min_label_components checkpoints its input, so nothing upstream
    may cache the edges: such a cached copy is never read and never
    released."""
    spark.catalog.clearCache()
    graph_components_copurchase(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
