"""Graph analytics over relational edges — connected components on the
part co-purchase graph (beyond-reference family; the reference's closest
shape is its keyword/funnel ADS layer, and a product-family rollup is
the natural next query its publisher would grow).

Algorithm: bounded-round min-label propagation, the same loop as
`dedup.dedup_cluster_canonical` — labels live in a DataFrame keyed by
node, each round joins labels across edges and takes the elementwise
min, and the driver loop stops at fixpoint (label propagation converges
in <= diameter rounds; the round cap turns a pathological input into a
loud error instead of an infinite job). All label math is 64-bit
integer — exact in both engines, no float-boundary risk in the oracle
compare. At 100 TB scale each round is one shuffle join keyed by node
id; the edge list is the big side and labels are node-sized, which is
exactly the large-graph CC shape (GraphX/Pregel does the same joins
under the hood — this keeps it in DataFrame land so AQE/codegen apply).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_211027_flink_spark.catalog import load_table
from gmall_211027_flink_spark.registry import query
from gmall_211027_flink_spark.session import checkpoint

MIN_TOGETHER = 3      # edge threshold: co-purchased in >= 3 orders
MAX_ROUNDS = 25


def min_label_components(edges: DataFrame) -> DataFrame:
    """(node, label) fixpoint of min-label propagation over ``edges``
    (symmetrized (u, v) pairs): every node ends up labeled with the
    smallest node id in its connected component.

    Each round combines the Pregel-style neighbor min with POINTER
    JUMPING (label <- label's label): the jump halves label-chain depth
    every round, so convergence is O(log diameter) rounds instead of
    O(diameter). Every round ends in ``localCheckpoint`` — iterative
    DataFrame plans MUST truncate lineage, not just cache: with cache
    alone the analyzed plan still nests each round inside the next and
    round cost grows geometrically (measured on the sf0.001 co-purchase
    graph: rounds of 2 s -> 5 s -> 30 s -> 490 s under cache; 1 s flat
    with checkpointing — 380 s -> 4 s total). On a real cluster set
    SPARK_GRAFT_CHECKPOINT_DIR: session.checkpoint then uses reliable
    `checkpoint()` so executor loss can't kill the fixpoint (r16).
    """
    edges = checkpoint(edges)
    labels = checkpoint(edges.select(F.col("u").alias("node")).distinct()
                        .withColumn("label", F.col("node")))
    for _ in range(MAX_ROUNDS):
        neigh_min = (edges.join(labels, edges.v == labels.node)
                     .groupBy("u").agg(F.min("label").alias("nlabel")))
        stepped = (
            labels.join(neigh_min, labels.node == neigh_min.u, "left")
            .select("node",
                    F.least("label", F.coalesce("nlabel", "label"))
                     .alias("label")))
        # pointer jump: follow one hop of the label chain (labels are
        # always node ids, so the self-join hits every row)
        parents = stepped.select(F.col("node").alias("p_node"),
                                 F.col("label").alias("p_label"))
        new_labels = checkpoint(
            stepped.join(parents, stepped.label == parents.p_node, "left")
            .select("node",
                    F.least("label", F.coalesce("p_label", "label"))
                     .alias("label")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in {MAX_ROUNDS} rounds")
    return labels


def _pairs(df: DataFrame, key: str, item: str,
           max_list: int | None = None) -> DataFrame:
    """(a, b) rows with a < b, one per pair of ``item`` values sharing a
    ``key``: one shuffle to key grain, then pairs expanded map-side from
    each key's sorted list ``ps``. Keys with more than ``max_list``
    items are skipped (a hub cap on the quadratic fan-out)."""
    keep = F.size("ps") > 1
    if max_list is not None:
        keep = keep & (F.size("ps") <= max_list)
    return (df.groupBy(key)
            .agg(F.sort_array(F.collect_list(item)).alias("ps"))
            .filter(keep)
            .select(F.explode(F.expr(
                "flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i+2, size(ps)-i-1),"
                " y -> struct(x as a, y as b))))")).alias("p"))
            .select("p.a", "p.b"))


def copurchase_pairs(spark: SparkSession, sf_dir: str,
                     min_ct: int) -> DataFrame:
    """Oriented co-purchase pairs (part_a < part_b, together_ct) of parts
    bought together in >= ``min_ct`` orders — the posting-list plan over
    (order, part), never a lineitem self-join."""
    op = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    return (_pairs(op, "l_orderkey", "l_partkey")
            .groupBy(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
            .agg(F.count("*").alias("together_ct"))
            .filter(F.col("together_ct") >= min_ct))


def symmetrize(pairs: DataFrame) -> DataFrame:
    """Undirected (u, v) edges, both directions of every oriented pair.
    The pairs are distinct with part_a < part_b, so the union needs no
    dedup shuffle."""
    return (pairs.select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
            .unionAll(pairs.select(F.col("part_b").alias("u"),
                                   F.col("part_a").alias("v"))))


_EDGES_SQL = f"""
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {MIN_TOGETHER}
    ),
    edges AS (
      SELECT part_a AS u, part_b AS v FROM pairs
      UNION SELECT part_b, part_a FROM pairs
    )
"""


@query(
    "graph_components_copurchase",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    reach(node, lab) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON r.node = e.u
    ),
    comp AS (
      SELECT node AS part_id, MIN(lab) AS component_id
      FROM reach GROUP BY 1
    )
    SELECT part_id, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size,
           (part_id = component_id) AS is_root
    FROM comp
    """,
)
def graph_components_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = symmetrize(copurchase_pairs(spark, sf_dir, MIN_TOGETHER))
    labels = min_label_components(edges)
    w_sz = F.count("*").over(Window.partitionBy("component_id"))
    return (
        labels.select(F.col("node").alias("part_id"),
                      F.col("label").alias("component_id"))
        .withColumn("component_size", w_sz)
        .withColumn("is_root", F.col("part_id") == F.col("component_id"))
    )


# ---------------------------------------------------------------------------
# PageRank (fixed-iteration) over the same co-purchase graph — the
# canonical iterative-propagation workload beyond min-label CC (the
# part-importance ranking the publisher's "top products" page would
# want weighted by co-purchase structure, and the template for any
# random-walk scoring at 100 TB).
#
# Determinism/oracle strategy (kmeans.py conventions): FIXED iteration
# count, exact DECIMAL(28,14) contribution sums (associative ->
# partition-order-proof; double SUM would be order-sensitive), the
# per-iteration rank re-synced in both engines by the decimal cast, and
# one 8-dp boundary round at output. The symmetrized edge list has no
# dangling nodes (every node has out-degree >= 1), so no dangling-mass
# term. Scale shape: each iteration is ONE shuffle join keyed by node
# (ranks are node-sized, edges are the big side — the Pregel layout);
# checkpoint truncates the per-round lineage like CC above.
# ---------------------------------------------------------------------------

PR_DAMPING = 0.85
PR_ITER = 3


def _pagerank_ctes() -> str:
    ctes = [f"""
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM deg),
    r0 AS (SELECT u AS node, 1.0 / n.n_nodes AS r FROM deg, n)"""]
    for it in range(1, PR_ITER + 1):
        prev = f"r{it - 1}"
        ctes.append(f"""
    r{it} AS (
      SELECT e.v AS node,
             (1 - {PR_DAMPING}) / n.n_nodes
             + {PR_DAMPING} * CAST(SUM(CAST(p.r / deg.d AS DECIMAL(28,14)))
                                   AS DOUBLE) AS r
      FROM edges e
      JOIN {prev} p ON p.node = e.u
      JOIN deg ON deg.u = e.u
      CROSS JOIN n
      GROUP BY 1, n.n_nodes
    )""")
    return ",".join(ctes)


@query(
    "graph_pagerank_copurchase",
    oracle=f"""
    WITH {_EDGES_SQL},
    {_pagerank_ctes()}
    SELECT node AS part_id, round(r, 8) AS pagerank
    FROM r{PR_ITER}
    """,
)
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 3 iterations) over the co-purchase graph."""
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir,
                                                   MIN_TOGETHER)))
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    n_nodes = deg.agg(F.count("*").cast("double").alias("n_nodes"))
    ranks = checkpoint(deg.crossJoin(F.broadcast(n_nodes))
                       .select(F.col("u").alias("node"),
                               (F.lit(1.0) / F.col("n_nodes")).alias("r")))
    for _ in range(PR_ITER):
        contrib = (edges.join(ranks, edges.u == ranks.node)
                   .join(deg, "u")
                   .select("v", (F.col("r") / F.col("d"))
                           .cast("decimal(28,14)").alias("c")))
        ranks = checkpoint(
            contrib.groupBy(F.col("v").alias("node"))
            .agg(F.sum("c").cast("double").alias("s"))
            .crossJoin(F.broadcast(n_nodes))
            .select("node",
                    ((1 - PR_DAMPING) / F.col("n_nodes")
                     + PR_DAMPING * F.col("s")).alias("r")))
    return ranks.select(F.col("node").alias("part_id"),
                        F.round("r", 8).alias("pagerank"))


# ---------------------------------------------------------------------------
# Triangle counting — the standard graph-density/cohesion metric (and
# the classic MapReduce-join benchmark shape). Algorithm: orient every
# edge low->high, join the oriented list with itself on the shared low
# endpoint to enumerate wedges (u<v, u<w), then semi-join wedges
# against the oriented edge list to keep closed ones. Orientation makes
# each triangle counted exactly ONCE and bounds the wedge fan-out by
# the max out-degree under the low->high ordering (the degeneracy
# trick: high-degree hubs mostly receive edges, so their wedge count
# collapses — this is what keeps the join tractable on skewed graphs).
# All-integer arithmetic; per-node counts credit each corner.
# ---------------------------------------------------------------------------

TRI_MIN_TOGETHER = 2   # denser edge set than CC/PageRank: at the CC
# threshold (3 co-orders) the sf0.01/sf0.1 graphs are triangle-free


@query(
    "graph_triangles_copurchase",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    oriented AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {TRI_MIN_TOGETHER}
    ),
    wedges AS (
      SELECT a.u AS x, a.v AS y, b.v AS z
      FROM oriented a JOIN oriented b ON a.u = b.u AND a.v < b.v
    ),
    tri AS (
      SELECT w.x, w.y, w.z FROM wedges w
      JOIN oriented e ON e.u = w.y AND e.v = w.z
    ),
    corners AS (
      SELECT x AS node FROM tri UNION ALL
      SELECT y FROM tri UNION ALL
      SELECT z FROM tri
    )
    SELECT node AS part_id, COUNT(*) AS triangle_ct
    FROM corners GROUP BY 1
    """,
)
def graph_triangles_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph."""
    oriented = checkpoint(copurchase_pairs(spark, sf_dir, TRI_MIN_TOGETHER)
                          .select(F.col("part_a").alias("u"),
                                  F.col("part_b").alias("v")))
    a = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    b = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedges = a.join(b, "x").filter(F.col("y") < F.col("z"))
    closing = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = wedges.join(closing, ["y", "z"], "left_semi")
    corners = (tri.select(F.col("x").alias("node"))
               .unionAll(tri.select(F.col("y").alias("node")))
               .unionAll(tri.select(F.col("z").alias("node"))))
    return (corners.groupBy(F.col("node").alias("part_id"))
            .agg(F.count("*").alias("triangle_ct")))


# ---------------------------------------------------------------------------
# Label propagation communities (fixed-round synchronous LPA, Raghavan
# et al. 2007) over the same co-purchase graph — community structure
# (densely co-purchased product families), complementing connectivity
# (components), importance (PageRank) and cohesion (triangles).
#
# Determinism: classic LPA is order-sensitive; this is the SYNCHRONOUS
# variant with a total-order update rule — each round every node takes
# the most frequent label among its neighbors, ties broken by SMALLEST
# label — so each round is a pure function of the previous labeling and
# both engines agree exactly. Fixed LPA_ROUNDS rounds (no convergence
# test: cross-engine loop exits on float/ordering are a trap; a fixed
# budget is also the 100 TB posture — each round is one edge-keyed
# shuffle + a (node,label) count, Pregel-shaped, lineage-truncated).
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""
    {out}_cnt AS (
      SELECT e.u AS node, p.label, COUNT(*) AS c
      FROM edges e JOIN {prev} p ON p.node = e.v
      GROUP BY 1, 2
    ),
    {out} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rk
        FROM {out}_cnt) WHERE rk = 1
    )"""


def _lpa_oracle() -> str:
    rounds = ",".join(
        _lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(LPA_ROUNDS))
    return f"""
    WITH {_EDGES_SQL},
    l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
    {rounds}
    SELECT node AS part_id, label AS community_id,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT)
             AS community_size
    FROM l{LPA_ROUNDS}
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir,
                                                   MIN_TOGETHER)))
    labels = (edges.select(F.col("u").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for _ in range(LPA_ROUNDS):
        cnt = (edges.join(labels.withColumnRenamed("node", "v"), "v")
               .groupBy(F.col("u").alias("node"), "label")
               .agg(F.count("*").alias("c")))
        w = Window.partitionBy("node").orderBy(F.desc("c"), "label")
        labels = checkpoint(cnt.withColumn("rk", F.row_number().over(w))
                            .filter(F.col("rk") == 1)
                            .select("node", "label"))
    w_sz = F.count("*").over(Window.partitionBy("label"))
    return labels.select(
        F.col("node").alias("part_id"),
        F.col("label").alias("community_id"),
        w_sz.cast("bigint").alias("community_size"))


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peel): iteratively remove nodes whose
# degree in the REMAINING graph is < K; what survives is the K-core —
# the dense backbone a recommender keeps when pruning the co-purchase
# graph (low-degree fringe = noise). K is DATA-RELATIVE: 65% of the
# initial mean degree, all-integer arithmetic (E // N * 65 // 100), so
# the cut is meaningful at every sf (measured: the co-purchase graph's
# degeneracy sits at ~70% of mean degree, so 65% peels real fringe —
# 1-5 rounds, 1-4% of nodes — without collapsing the core to empty).
# Peeling is deterministic, so a FIXED round count is exactly equal in
# both engines whether or not the peel has converged (post-convergence
# rounds are no-ops); Spark may early-exit when a round removes
# nothing. KCORE_ROUNDS = 8 covers convergence on every shipped sf
# (fixpoint asserted in tests).
#
# Scale: each round is one degree aggregation + two node-keyed
# semi-joins of the shrinking edge list; lineage truncated per round
# via checkpoint (min_label_components discipline). The oracle's
# unrolled CTEs are MATERIALIZED — each e{r} is referenced twice, and
# DuckDB's default inlining would go exponential (the BPE-oracle
# lesson). Unlike the other graph queries this one uses the UNFILTERED
# co-purchase pairs (no MIN_TOGETHER) — the peel itself is the noise
# filter here, and the filtered graph is too sparse to carry a core.
# ---------------------------------------------------------------------------

KCORE_PCT = 65         # K = initial mean degree * KCORE_PCT // 100
KCORE_ROUNDS = 8

_KCORE_EDGES_SQL = """
    op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    prs AS MATERIALIZED (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    e0 AS MATERIALIZED (
      SELECT part_a AS u, part_b AS v FROM prs
      UNION SELECT part_b, part_a FROM prs
    )
"""


def _kcore_oracle() -> str:
    parts = [f"""WITH {_KCORE_EDGES_SQL},
    kk AS MATERIALIZED (
      SELECT (SUM(deg) // COUNT(*)) * {KCORE_PCT} // 100 AS k
      FROM (SELECT u, COUNT(*) AS deg FROM e0 GROUP BY 1)
    )"""]
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        parts.append(f""",
    k{r} AS MATERIALIZED (
      SELECT u FROM (SELECT u, COUNT(*) AS deg FROM e{p} GROUP BY 1)
      WHERE deg >= (SELECT k FROM kk)
    ),
    e{r} AS MATERIALIZED (
      SELECT e.u, e.v
      FROM e{p} e JOIN k{r} a ON e.u = a.u JOIN k{r} b ON e.v = b.u
    )""")
    parts.append(f"""
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{KCORE_ROUNDS} GROUP BY 1
    """)
    return "".join(parts)


@query("graph_kcore_bounded", oracle=_kcore_oracle())
def graph_kcore_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes of the K-core (K = 65% of initial mean degree) of the
    unfiltered co-purchase graph, with their in-core degree, after
    up to KCORE_ROUNDS peel rounds."""
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir, 1)))
    # K from the initial degree distribution: one bounded 1-row collect
    deg0 = edges.groupBy("u").agg(F.count("*").alias("deg"))
    row = deg0.agg((F.expr("sum(deg) div count(*)") * KCORE_PCT)
                   .alias("x")).collect()[0]
    k = int(row.x) // 100
    n_edges = edges.count()
    for _ in range(KCORE_ROUNDS):
        keep = (edges.groupBy("u").agg(F.count("*").alias("deg"))
                .filter(F.col("deg") >= k).select("u"))
        new_edges = checkpoint(edges
                               .join(keep, "u")
                               .join(keep.withColumnRenamed("u", "v"), "v")
                               .select("u", "v"))
        n_new = new_edges.count()
        edges = new_edges
        if n_new == n_edges:   # peel converged: further rounds no-op
            break
        n_edges = n_new
    return (edges.groupBy(F.col("u").alias("node"))
            .agg(F.count("*").cast("bigint").alias("core_degree")))


# ---------------------------------------------------------------------------
# Degree distribution of the co-purchase graph: the first diagnostic a
# pipeline runs on any graph before iterating on it — a heavy-tailed
# degree histogram predicts hot-key skew in every edge-keyed shuffle
# (PageRank's contribution join, LPA's neighbor vote), and the max
# degree bounds the worst partition. Pure integer counts end to end.
# Plan: the co-purchase pairs, then two count aggregations — no
# iteration.
# ---------------------------------------------------------------------------

@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS degree
            FROM edges GROUP BY 1)
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS node_ct
    FROM deg GROUP BY 1
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = symmetrize(copurchase_pairs(spark, sf_dir, MIN_TOGETHER))
    deg = edges.groupBy("u").agg(F.count("*").cast("bigint").alias("degree"))
    return (deg.groupBy("degree")
            .agg(F.count("*").cast("bigint").alias("node_ct")))


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph: Pearson correlation of
# endpoint degrees over the (symmetric) edge list — do hubs attach to
# hubs (assortative, r > 0) or to leaves (disassortative, r < 0)? With
# the degree distribution above it pins the graph's shuffle behavior:
# a disassortative hub graph concentrates whole neighborhoods on one
# key. Every sum is BIGINT-exact (degrees × edges fit comfortably); the
# final r is one double expression, NULLIF-guarded for degenerate
# (constant-degree) graphs so both engines return NULL rather than
# divide by zero.
# ---------------------------------------------------------------------------

@query(
    "graph_assortativity",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    ed AS (
      SELECT du.d AS x, dv.d AS y
      FROM edges e
      JOIN deg du ON du.u = e.u
      JOIN deg dv ON dv.u = e.v
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM ed
    )
    SELECT n AS n_directed_edges,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / NULLIF(sqrt((CAST(n AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx)
                               * (CAST(n AS DOUBLE) * syy
                                  - CAST(sy AS DOUBLE) * sy)), 0), 6)
             AS assortativity
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = symmetrize(copurchase_pairs(spark, sf_dir, MIN_TOGETHER))
    deg = edges.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    du = deg.select(F.col("u").alias("ku"), F.col("d").alias("x"))
    dv = deg.select(F.col("u").alias("kv"), F.col("d").alias("y"))
    ed = (edges.join(du, edges.u == du.ku)
          .join(dv, edges.v == dv.kv).select("x", "y"))
    s = ed.agg(F.count("*").cast("bigint").alias("n"),
               F.sum("x").cast("bigint").alias("sx"),
               F.sum("y").cast("bigint").alias("sy"),
               F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
               F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
               F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"))
    n, sx, sy = (F.col("n").cast("double"), F.col("sx").cast("double"),
                 F.col("sy").cast("double"))
    den = F.sqrt((n * F.col("sxx") - sx * F.col("sx"))
                 * (n * F.col("syy") - sy * F.col("sy")))
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.round((n * F.col("sxy") - sx * sy)
                / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"))


# ---------------------------------------------------------------------------
# Global clustering coefficient: 3·triangles / wedges over the same
# TRI_MIN_TOGETHER edge set as the per-node triangle counts — the
# one-number cohesion summary ("what fraction of open triads close")
# that, with degree distribution and assortativity, completes the
# graph-profile triptych. Triangle total reuses the oriented-wedge
# semi-join plan (no new shuffle shape); wedge total is Σ d·(d−1)/2
# over the degree table — all BIGINT-exact.
# ---------------------------------------------------------------------------

@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    oriented AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {TRI_MIN_TOGETHER}
    ),
    wedges AS (
      SELECT a.u AS x, a.v AS y, b.v AS z
      FROM oriented a JOIN oriented b ON a.u = b.u AND a.v < b.v
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tri FROM wedges w
      JOIN oriented e ON e.u = w.y AND e.v = w.z
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM oriented UNION ALL SELECT v FROM oriented
      ) GROUP BY 1
    ),
    wed AS (
      SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
    )
    SELECT t.n_tri AS n_triangles, w.n_wedges,
           round(3.0 * t.n_tri / NULLIF(w.n_wedges, 0), 6)
             AS global_clustering
    FROM tri t, wed w
    """,
)
def graph_clustering_coefficient(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    oriented = checkpoint(copurchase_pairs(spark, sf_dir, TRI_MIN_TOGETHER)
                          .select(F.col("part_a").alias("u"),
                                  F.col("part_b").alias("v")))
    a = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    b = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedges = a.join(b, "x").filter(F.col("y") < F.col("z"))
    closing = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    tri = (wedges.join(closing, ["y", "z"], "left_semi")
           .agg(F.count("*").cast("bigint").alias("n_tri")))
    deg = (oriented.select(F.col("u").alias("node"))
           .unionAll(oriented.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").cast("bigint").alias("d")))
    wed = deg.agg(F.sum(F.col("d") * (F.col("d") - 1) / 2)
                  .cast("bigint").alias("n_wedges"))
    return (tri.crossJoin(F.broadcast(wed))
            .select(F.col("n_tri").alias("n_triangles"), "n_wedges",
                    F.round(3.0 * F.col("n_tri")
                            / F.nullif(F.col("n_wedges").cast("double"),
                                       F.lit(0.0)), 6)
                     .alias("global_clustering")))


# ---------------------------------------------------------------------------
# Link prediction by common neighbors + Jaccard (Liben-Nowell & Kleinberg
# 2003) on the co-purchase graph — "parts frequently bought alongside
# the same third parts, but never yet together" is the recommendation
# candidate list the reference's publisher would build from its ADS
# keyword/product layer.
#
# Scale shape: candidate pairs are WEDGES (two neighbors of a shared
# center), enumerated the posting-list way — one shuffle to center
# grain, pairs expanded map-side from each center's sorted adjacency
# list. Wedge fan-out is sum(deg^2), so hub centers are capped at
# LP_HUB_CAP neighbors and skipped (standard in production link
# prediction: a hub's wedges are its popularity, not an affinity
# signal — and the cap is what bounds the explosion at 100 TB). The
# already-connected filter is a broadcast-or-shuffle anti-join on the
# oriented edge list; no step is all-pairs.
#
# Determinism: scores are cn/(deg_y + deg_z - cn) with int64 inputs —
# the one double division rides through the repo's 6-dp boundary, and
# the top-k cut orders by (rounded score, cn, y, z), all exact ties.
# ---------------------------------------------------------------------------

LP_HUB_CAP = 64     # max adjacency size for a wedge center
LP_TOPK = 20


@query(
    "graph_link_prediction",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    oriented AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {TRI_MIN_TOGETHER}
    ),
    adj AS (
      SELECT u AS center, v AS leaf FROM oriented
      UNION ALL SELECT v, u FROM oriented
    ),
    deg AS (
      SELECT center AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM adj GROUP BY 1
    ),
    wedge AS (
      SELECT a.leaf AS y, b.leaf AS z,
             CAST(COUNT(*) AS BIGINT) AS common_ct
      FROM adj a
      JOIN deg cd ON cd.node = a.center AND cd.d <= {LP_HUB_CAP}
      JOIN adj b ON a.center = b.center AND a.leaf < b.leaf
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT w.y, w.z, w.common_ct
      FROM wedge w
      WHERE NOT EXISTS (SELECT 1 FROM oriented e
                        WHERE e.u = w.y AND e.v = w.z)
    )
    SELECT c.y AS part_a, c.z AS part_b, c.common_ct,
           round(CAST(c.common_ct AS DOUBLE)
                 / (dy.d + dz.d - c.common_ct), 6) AS jaccard
    FROM cand c
    JOIN deg dy ON dy.node = c.y
    JOIN deg dz ON dz.node = c.z
    ORDER BY jaccard DESC, c.common_ct DESC, c.y, c.z
    LIMIT {LP_TOPK}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LP_TOPK} predicted co-purchase links: unconnected part pairs
    ranked by neighborhood Jaccard (common neighbors over union of
    neighborhoods), with hub centers above {LP_HUB_CAP} neighbors
    excluded from wedge generation."""
    oriented = checkpoint(copurchase_pairs(spark, sf_dir, TRI_MIN_TOGETHER)
                          .select(F.col("part_a").alias("u"),
                                  F.col("part_b").alias("v")))
    adj = (oriented.select(F.col("u").alias("center"), F.col("v").alias("leaf"))
           .unionAll(oriented.select(F.col("v").alias("center"),
                                     F.col("u").alias("leaf"))))
    deg = (adj.groupBy(F.col("center").alias("node"))
           .agg(F.count("*").cast("bigint").alias("d")))
    # wedges: leaf pairs of each center's (capped) adjacency list
    wedge = (_pairs(adj, "center", "leaf", LP_HUB_CAP)
             .groupBy(F.col("a").alias("y"), F.col("b").alias("z"))
             .agg(F.count("*").cast("bigint").alias("common_ct")))
    cand = wedge.join(
        oriented, (wedge.y == oriented.u) & (wedge.z == oriented.v),
        "left_anti")
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    dz = deg.select(F.col("node").alias("z"), F.col("d").alias("dz"))
    return (cand.join(dy, "y").join(dz, "z")
            .select(F.col("y").alias("part_a"), F.col("z").alias("part_b"),
                    "common_ct",
                    F.round(F.col("common_ct").cast("double")
                            / (F.col("dy") + F.col("dz")
                               - F.col("common_ct")), 6).alias("jaccard"))
            .orderBy(F.desc("jaccard"), F.desc("common_ct"),
                     "part_a", "part_b")
            .limit(LP_TOPK))


# ---------------------------------------------------------------------------
# Bounded-hop BFS distances from a seed set — the "blast radius" query
# (how far does a recall/contamination propagate through co-purchase
# structure). BFS_ROUNDS fixed synchronous rounds of
# d(v) <- min(d(v), min over in-neighbors d(u) + 1), the same
# Pregel-shaped join-per-round as components/pagerank/k-core, every
# round lineage-truncated. All-integer distances — no float boundary.
# Nodes beyond BFS_ROUNDS hops report dist = -1 (unreached at this
# horizon; the fixed horizon is the determinism contract, like the
# fixed Lloyd/power-iteration counts). Output is the bounded
# (dist, node_ct) histogram, never per-node rows.
# ---------------------------------------------------------------------------

BFS_ROUNDS = 4
BFS_SEED_MOD = 20     # seeds: ~5% of graph nodes (node id % 20 == 0)
BFS_MIN_TOGETHER = 2  # >=2-co-purchase edges: the >=3 graph is a
                      # handful of nodes at bench SFs — a BFS over it
                      # is vacuous (measured: 4 nodes at sf0.1)


def _bfs_oracle() -> str:
    rounds = []
    for it in range(1, BFS_ROUNDS + 1):
        prev = f"d{it - 1}"
        rounds.append(f"""
    d{it} AS MATERIALIZED (
      SELECT n.node,
             LEAST(COALESCE(p.dist, {BFS_ROUNDS + 1}),
                   COALESCE(MIN(q.dist) + 1, {BFS_ROUNDS + 1})) AS dist
      FROM nodes n
      LEFT JOIN {prev} p ON p.node = n.node
      LEFT JOIN edges e ON e.v = n.node
      LEFT JOIN {prev} q ON q.node = e.u
      GROUP BY 1, p.dist
    )""")
    edges_sql = _EDGES_SQL.replace(
        f"COUNT(*) >= {MIN_TOGETHER}", f"COUNT(*) >= {BFS_MIN_TOGETHER}")
    return f"""
    WITH {edges_sql},
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    d0 AS (
      SELECT node, 0 AS dist FROM nodes WHERE node % {BFS_SEED_MOD} = 0
    ),
    {','.join(rounds)}
    SELECT CAST(CASE WHEN dist > {BFS_ROUNDS} THEN -1 ELSE dist END
                AS BIGINT) AS dist,
           CAST(COUNT(*) AS BIGINT) AS node_ct
    FROM d{BFS_ROUNDS}
    GROUP BY 1 ORDER BY 1
    """


@query("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{BFS_ROUNDS}-hop BFS distance histogram from the
    part_id % {BFS_SEED_MOD} == 0 seed set over the co-purchase graph."""
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir,
                                                   BFS_MIN_TOGETHER)),
                       eager=False)
    nodes = checkpoint(edges.select(F.col("u").alias("node")).distinct(),
                       eager=False)
    unreached = BFS_ROUNDS + 1
    d = nodes.select(
        "node",
        F.when(F.col("node") % BFS_SEED_MOD == 0, 0)
         .otherwise(unreached).alias("dist"))
    for _ in range(BFS_ROUNDS):
        nbr = (edges.join(d.withColumnRenamed("node", "u")
                          .withColumnRenamed("dist", "du"), "u")
               .groupBy(F.col("v").alias("node"))
               .agg((F.min("du") + 1).alias("via")))
        d = checkpoint(d.join(nbr, "node", "left")
                       .select("node", F.least(
                           "dist", F.coalesce("via", F.lit(unreached)))
                           .alias("dist")),
                       eager=False)
    return (d.groupBy(F.when(F.col("dist") > BFS_ROUNDS, -1)
                      .otherwise(F.col("dist")).cast("bigint")
                      .alias("dist"))
            .agg(F.count("*").cast("bigint").alias("node_ct"))
            .orderBy("dist"))


# ---------------------------------------------------------------------------
# HITS hubs & authorities (r8) — Kleinberg's mutually-reinforcing
# scoring on the bipartite customer->part purchase graph: a part is
# authoritative when bought by strong hub customers; a customer is a
# strong hub when they buy authoritative parts. The complement to
# PageRank above (single random-walk score) for marketplace curation:
# "power buyers" and "anchor products" in one fixed-point.
#
# Determinism (pca.py recipe, proven at both SFs): each half-round is
# an exact DECIMAL(12,6) sum over the edge join; the L2 norm is taken
# over 9-dp-rounded values (exact decimal squares within the 38-digit
# budget — raw squares would overflow and diverge between engines),
# and the next vector is re-synced to a 6-dp decimal in BOTH engines.
# Top-K cut uses (score DESC, node) — a total order over exact
# decimals, so the cut cannot flip.
#
# Scale shape: each half-round is ONE shuffle keyed by the side being
# scored (the Pregel layout, same as PageRank); score vectors are
# node-sized; the edge list is checkpointed once and reused by
# all 2*HITS_ITER joins. At 100 TB the edge join dominates and stays
# a plain shuffle equi-join — nothing is all-pairs.
# ---------------------------------------------------------------------------

HITS_ITER = 4
HITS_TOPK = 20


def _hits_ctes() -> str:
    """Unrolled a1/h1..a{K}/h{K} CTE chain; mirrors the Spark loop."""
    rounds = []
    for it in range(1, HITS_ITER + 1):
        prev_h = f"h{it - 1}"
        rounds.append(f"""
    ar{it} AS MATERIALIZED (
      SELECT e.p, SUM(h.hv) AS w
      FROM ed e JOIN {prev_h} h USING (u) GROUP BY 1
    ),
    an{it} AS (
      -- norm over 9-dp-rounded w: exact decimal squares (pca.py rule)
      SELECT sqrt(CAST(SUM(wr * wr) AS DOUBLE)) AS nrm
      FROM (SELECT CAST(round(CAST(w AS DOUBLE), 9) AS DECIMAL(18,9))
                     AS wr FROM ar{it})
    ),
    a{it} AS MATERIALIZED (
      SELECT p, CAST(round(CAST(w AS DOUBLE) / an{it}.nrm, 6)
                     AS DECIMAL(12,6)) AS av
      FROM ar{it}, an{it}
    ),
    hr{it} AS MATERIALIZED (
      SELECT e.u, SUM(a.av) AS w
      FROM ed e JOIN a{it} a USING (p) GROUP BY 1
    ),
    hn{it} AS (
      SELECT sqrt(CAST(SUM(wr * wr) AS DOUBLE)) AS nrm
      FROM (SELECT CAST(round(CAST(w AS DOUBLE), 9) AS DECIMAL(18,9))
                     AS wr FROM hr{it})
    ),
    h{it} AS MATERIALIZED (
      SELECT u, CAST(round(CAST(w AS DOUBLE) / hn{it}.nrm, 6)
                     AS DECIMAL(12,6)) AS hv
      FROM hr{it}, hn{it}
    )""")
    return ",".join(rounds)


@query(
    "graph_hits_scores",
    oracle=f"""
    WITH ed AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS u, l_partkey AS p
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    h0 AS (
      SELECT DISTINCT u, CAST(1 AS DECIMAL(12,6)) AS hv FROM ed
    ),
    {_hits_ctes()},
    scored AS (
      SELECT 'authority' AS role, p AS node,
             CAST(av AS DOUBLE) AS score FROM a{HITS_ITER}
      UNION ALL
      SELECT 'hub' AS role, u AS node,
             CAST(hv AS DOUBLE) AS score FROM h{HITS_ITER}
    )
    SELECT role, node, score
    FROM (SELECT role, node, score,
                 row_number() OVER (PARTITION BY role
                                    ORDER BY score DESC, node) AS rk
          FROM scored)
    WHERE rk <= {HITS_TOPK}
    """,
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS ({HITS_ITER} rounds) on the customer->part purchase
    bipartite graph; top-{HITS_TOPK} hubs and authorities."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ed = checkpoint(orders.join(li, orders.o_orderkey == li.l_orderkey)
                    .select(F.col("o_custkey").alias("u"),
                            F.col("l_partkey").alias("p"))
                    .distinct(), eager=False)

    def _normalize(df: DataFrame, key: str, out: str) -> DataFrame:
        wr = df.select(F.round(F.col("w").cast("double"), 9)
                       .cast("decimal(18,9)").alias("wr"))
        nrm = wr.agg(F.sqrt(F.sum(F.col("wr") * F.col("wr"))
                            .cast("double")).alias("nrm"))
        return checkpoint(df.crossJoin(F.broadcast(nrm))
                          .select(key, F.round(F.col("w").cast("double")
                                               / F.col("nrm"), 6)
                                  .cast("decimal(12,6)").alias(out)),
                          eager=False)

    h = (ed.select("u").distinct()
         .select("u", F.lit(1).cast("decimal(12,6)").alias("hv")))
    for _ in range(HITS_ITER):
        a = _normalize(ed.join(h, "u").groupBy("p")
                       .agg(F.sum("hv").alias("w")), "p", "av")
        h = _normalize(ed.join(a, "p").groupBy("u")
                       .agg(F.sum("av").alias("w")), "u", "hv")
    scored = (a.select(F.lit("authority").alias("role"),
                       F.col("p").alias("node"),
                       F.col("av").cast("double").alias("score"))
              .unionAll(h.select(F.lit("hub").alias("role"),
                                 F.col("u").alias("node"),
                                 F.col("hv").cast("double").alias("score"))))
    rk = F.row_number().over(Window.partitionBy("role")
                             .orderBy(F.desc("score"), "node"))
    return (scored.withColumn("rk", rk)
            .filter(F.col("rk") <= HITS_TOPK)
            .select("role", "node", "score"))


# ---------------------------------------------------------------------------
# Personalized PageRank (r8) — random walk with restart onto a SEED
# SET instead of the uniform vector: the "customers who bought these
# anchor parts also gravitate to..." recommendation score, and the
# standard seed-expansion primitive (local community detection, spam
# neighborhoods, related-items carousels). Global PageRank above ranks
# the whole graph; PPR ranks it FROM somewhere.
#
# Same determinism contract as graph_pagerank_copurchase: fixed
# rounds, exact DECIMAL(28,14) contribution sums, one 8-dp output
# round; the restart mass is an exact 1/|S| double recomputed
# identically per round in both engines. Scale shape: identical to
# PageRank — one node-keyed shuffle join per round over the
# checkpointed edge list; the seed vector is node-sized.
# ---------------------------------------------------------------------------

PPR_DAMPING = 0.85
PPR_ITER = 3
PPR_SEED_MOD = 25      # parts with partkey % 25 == 0 are the anchors

# the >=2-co-purchase graph (BFS_MIN_TOGETHER rationale above): the
# >=3 graph is 4 nodes at sf0.1 — a walk over it is vacuous
_PPR_EDGES_SQL = _EDGES_SQL.replace(
    f"COUNT(*) >= {MIN_TOGETHER}", "COUNT(*) >= 2")


def _ppr_ctes() -> str:
    ctes = [f"""
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY 1),
    seeds AS (SELECT u FROM deg WHERE u % {PPR_SEED_MOD} = 0),
    ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_seeds FROM seeds),
    sv AS (
      SELECT deg.u AS node,
             CASE WHEN deg.u % {PPR_SEED_MOD} = 0
                  THEN 1.0 / ns.n_seeds ELSE 0.0 END AS s
      FROM deg, ns
    ),
    p0 AS (SELECT node, s AS r FROM sv)"""]
    for it in range(1, PPR_ITER + 1):
        prev = f"p{it - 1}"
        ctes.append(f"""
    p{it} AS (
      SELECT sv.node,
             (1 - {PPR_DAMPING}) * sv.s
             + {PPR_DAMPING} * COALESCE(agg.m, 0.0) AS r
      FROM sv LEFT JOIN (
        SELECT e.v AS node,
               CAST(SUM(CAST(p.r / deg.d AS DECIMAL(28,14)))
                    AS DOUBLE) AS m
        FROM edges e
        JOIN {prev} p ON p.node = e.u
        JOIN deg ON deg.u = e.u
        GROUP BY 1
      ) agg ON agg.node = sv.node
    )""")
    return ",".join(ctes)


@query(
    "graph_ppr_seeded",
    oracle=f"""
    WITH {_PPR_EDGES_SQL},
    {_ppr_ctes()}
    SELECT node AS part_id, (node % {PPR_SEED_MOD} = 0) AS is_seed,
           round(r, 8) AS ppr
    FROM p{PPR_ITER}
    """,
)
def graph_ppr_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (d={PPR_DAMPING}, {PPR_ITER} rounds)
    restarting onto the partkey % {PPR_SEED_MOD} == 0 anchor set."""
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir, 2)))
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    n_seeds = (deg.filter(F.col("u") % PPR_SEED_MOD == 0)
               .agg(F.count("*").cast("double").alias("n_seeds")))
    sv = checkpoint(deg.crossJoin(F.broadcast(n_seeds))
                    .select(F.col("u").alias("node"),
                            F.when(F.col("u") % PPR_SEED_MOD == 0,
                                   F.lit(1.0) / F.col("n_seeds"))
                            .otherwise(F.lit(0.0)).alias("s")))
    ranks = sv.select("node", F.col("s").alias("r"))
    for _ in range(PPR_ITER):
        contrib = (edges.join(ranks, edges.u == ranks.node)
                   .join(deg, "u")
                   .select("v", (F.col("r") / F.col("d"))
                           .cast("decimal(28,14)").alias("c")))
        agg = (contrib.groupBy(F.col("v").alias("node"))
               .agg(F.sum("c").cast("double").alias("m")))
        ranks = checkpoint(sv.join(agg, "node", "left")
                           .select("node",
                                   ((1 - PPR_DAMPING) * F.col("s")
                                    + PPR_DAMPING * F.coalesce("m", F.lit(0.0)))
                                   .alias("r")))
    return ranks.select(F.col("node").alias("part_id"),
                        (F.col("node") % PPR_SEED_MOD == 0).alias("is_seed"),
                        F.round("r", 8).alias("ppr"))


# ---------------------------------------------------------------------------
# Two-hop neighborhood size (r9) — the "friends of friends" reach
# metric: for each part in the co-purchase graph, how many distinct
# parts are at distance EXACTLY two (reachable through a shared
# neighbor but not co-purchased directly). The audience-expansion
# number a recommender quotes ("items one step beyond what this item
# already sells with"), and the denominator link-prediction candidates
# are drawn from. Same >= TRI_MIN_TOGETHER edge set and LP_HUB_CAP
# mid-node cap as link prediction, so the wedge join cannot blow up on
# hub parts at scale.
#
# Exactness: pure integer set logic (distinct counting + anti-join).
# Scale: adjacency self-join keyed on the mid node with the hub cap
# bounding fan-out; distance-2 distinctness is one (y, z) shuffle.
# ---------------------------------------------------------------------------

TWO_HOP_TOPK = 20


@query(
    "graph_two_hop_neighborhood",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    oriented AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {TRI_MIN_TOGETHER}
    ),
    adj AS (
      SELECT u AS center, v AS leaf FROM oriented
      UNION ALL SELECT v, u FROM oriented
    ),
    deg AS (
      SELECT center AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM adj GROUP BY 1
    ),
    hop2 AS (
      SELECT DISTINCT a.leaf AS y, b.leaf AS z
      FROM adj a
      JOIN deg cd ON cd.node = a.center AND cd.d <= {LP_HUB_CAP}
      JOIN adj b ON a.center = b.center AND a.leaf <> b.leaf
    ),
    pure2 AS (
      SELECT h.y, h.z FROM hop2 h
      WHERE NOT EXISTS (SELECT 1 FROM adj e
                        WHERE e.center = h.y AND e.leaf = h.z)
    ),
    reach AS (
      SELECT y AS node, CAST(COUNT(*) AS BIGINT) AS n_two_hop
      FROM pure2 GROUP BY 1
    )
    SELECT r.node AS part, d.d AS degree, r.n_two_hop,
           round(CAST(r.n_two_hop AS DOUBLE) / d.d, 6) AS expansion_ratio
    FROM reach r JOIN deg d ON d.node = r.node
    ORDER BY r.n_two_hop DESC, r.node LIMIT {TWO_HOP_TOPK}
    """,
)
def graph_two_hop_neighborhood(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Top-{TWO_HOP_TOPK} parts by exact distance-2 reach in the
    co-purchase graph (see block comment)."""
    oriented = (copurchase_pairs(spark, sf_dir, TRI_MIN_TOGETHER)
                .select(F.col("part_a").alias("u"),
                        F.col("part_b").alias("v")))
    adj = oriented.select(F.col("u").alias("center"),
                          F.col("v").alias("leaf")).unionAll(
        oriented.select(F.col("v").alias("center"),
                        F.col("u").alias("leaf")))
    deg = adj.groupBy(F.col("center").alias("node")).agg(
        F.count("*").cast("bigint").alias("d"))
    capped = (adj.join(deg.filter(F.col("d") <= LP_HUB_CAP)
                       .select(F.col("node").alias("center")), "center"))
    right = adj.select(F.col("center").alias("center2"),
                       F.col("leaf").alias("z"))
    hop2 = (capped.join(right, F.col("center") == F.col("center2"))
            .filter(F.col("leaf") != F.col("z"))
            .select(F.col("leaf").alias("y"), "z").distinct())
    direct = adj.select(F.col("center").alias("y"),
                        F.col("leaf").alias("z"))
    pure2 = hop2.join(direct, ["y", "z"], "left_anti")
    reach = pure2.groupBy(F.col("y").alias("node")).agg(
        F.count("*").cast("bigint").alias("n_two_hop"))
    return (reach.join(deg, "node")
            .select(F.col("node").alias("part"),
                    F.col("d").alias("degree"), "n_two_hop",
                    F.round(F.col("n_two_hop").cast("double")
                            / F.col("d"), 6).alias("expansion_ratio"))
            .orderBy(F.desc("n_two_hop"), "part")
            .limit(TWO_HOP_TOPK))


# ---------------------------------------------------------------------------
# Diameter lower bound via double sweep (r9) — the classic 2-BFS
# heuristic (Magnien/Latapy/Habib 2009): BFS from an arbitrary node A,
# jump to its farthest reachable node B, BFS again; ecc(B) lower-
# bounds the diameter and is empirically tight on real graphs. Both
# sweeps are HOP-BOUNDED at BFS_ROUNDS (the round-4 discipline: a
# convergence loop could flip on cross-engine drift), so the reported
# number is honestly "diameter >= ecc_K(B) within a K-hop horizon".
#
# Scale shape: two fixed-K sequences of edge-keyed min-aggregations
# with per-round checkpoint; seeds are broadcast one-row frames,
# never a collect. Exact integer distances throughout.
# ---------------------------------------------------------------------------

def _sweep_rounds(tag: str, rounds: int) -> str:
    out = []
    for it in range(1, rounds + 1):
        prev = f"{tag}{it - 1}"
        out.append(f"""
    {tag}{it} AS MATERIALIZED (
      SELECT n.node,
             LEAST(COALESCE(p.dist, {rounds + 1}),
                   COALESCE(MIN(q.dist) + 1, {rounds + 1})) AS dist
      FROM nodes n
      LEFT JOIN {prev} p ON p.node = n.node
      LEFT JOIN edges e ON e.v = n.node
      LEFT JOIN {prev} q ON q.node = e.u
      GROUP BY 1, p.dist
    )""")
    return ",".join(out)


def _diameter_oracle() -> str:
    k = BFS_ROUNDS
    edges_sql = _EDGES_SQL.replace(
        f"COUNT(*) >= {MIN_TOGETHER}", f"COUNT(*) >= {BFS_MIN_TOGETHER}")
    return f"""
    WITH {edges_sql},
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    aseed AS (SELECT MIN(node) AS s FROM nodes),
    a0 AS (
      SELECT n.node, CASE WHEN n.node = aseed.s THEN 0 ELSE {k + 1} END
               AS dist
      FROM nodes n, aseed
    ),
    {_sweep_rounds('a', k)},
    bseed AS (
      SELECT node AS s FROM a{k} WHERE dist <= {k}
      ORDER BY dist DESC, node LIMIT 1
    ),
    b0 AS (
      SELECT n.node, CASE WHEN n.node = bseed.s THEN 0 ELSE {k + 1} END
               AS dist
      FROM nodes n, bseed
    ),
    {_sweep_rounds('b', k)}
    SELECT (SELECT s FROM aseed) AS seed_a,
           (SELECT s FROM bseed) AS far_node_b,
           (SELECT CAST(MAX(dist) AS BIGINT) FROM a{k} WHERE dist <= {k})
             AS ecc_a_bounded,
           (SELECT CAST(MAX(dist) AS BIGINT) FROM b{k} WHERE dist <= {k})
             AS diameter_lower_bound,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a{k} WHERE dist <= {k})
             AS n_reached_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b{k} WHERE dist <= {k})
             AS n_reached_b
    """


@query("graph_diameter_double_sweep", oracle=_diameter_oracle())
def graph_diameter_double_sweep(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Hop-bounded double-sweep diameter lower bound on the
    >= {BFS_MIN_TOGETHER}-co-purchase graph (see block comment)."""
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir,
                                                   BFS_MIN_TOGETHER)),
                       eager=False)
    nodes = checkpoint(edges.select(F.col("u").alias("node")).distinct(),
                       eager=False)
    k = BFS_ROUNDS
    unreached = k + 1

    def sweep(seed_df):
        """seed_df: one-row frame with column s."""
        d = (nodes.crossJoin(F.broadcast(seed_df))
             .select("node",
                     F.when(F.col("node") == F.col("s"), 0)
                     .otherwise(unreached).alias("dist")))
        for _ in range(k):
            nbr = (edges.join(d.withColumnRenamed("node", "u")
                              .withColumnRenamed("dist", "du"), "u")
                   .groupBy(F.col("v").alias("node"))
                   .agg((F.min("du") + 1).alias("via")))
            d = checkpoint(d.join(nbr, "node", "left")
                           .select("node",
                                   F.least("dist",
                                           F.coalesce("via",
                                                      F.lit(unreached)))
                                   .alias("dist")),
                           eager=False)
        return d

    aseed = nodes.agg(F.min("node").alias("s"))
    da = sweep(aseed)
    bseed = (da.filter(F.col("dist") <= k)
             .orderBy(F.desc("dist"), "node").limit(1)
             .select(F.col("node").alias("s")))
    db = sweep(bseed)

    def summarize(d, ecc_name, reach_name):
        return (d.filter(F.col("dist") <= k)
                .agg(F.max("dist").cast("bigint").alias(ecc_name),
                     F.count("*").cast("bigint").alias(reach_name)))

    return (aseed.withColumnRenamed("s", "seed_a")
            .crossJoin(F.broadcast(bseed.withColumnRenamed(
                "s", "far_node_b")))
            .crossJoin(F.broadcast(summarize(
                da, "ecc_a_bounded", "n_reached_a")))
            .crossJoin(F.broadcast(summarize(
                db, "diameter_lower_bound", "n_reached_b")))
            .select("seed_a", "far_node_b", "ecc_a_bounded",
                    "diameter_lower_bound", "n_reached_a",
                    "n_reached_b"))


# ---------------------------------------------------------------------------
# Label-propagation communities (r10) — Raghavan et al. 2007:
# synchronous LPA over the co-purchase graph with a FIXED round count
# (the repo's iterative-determinism rule — no convergence test that
# float or ordering drift could flip) and the exact tie rule "most
# frequent neighbor label, smallest label wins". Every update is an
# integer (count, label) argmax via row_number with a total order, so
# both engines walk identical label states round by round. Reported
# with the EXACT-INTEGER modularity of the final partition:
# Q * (2m)^2 = sum_c (4m * l_c - d_c^2) over undirected edge count m,
# intra-community edges l_c and degree sums d_c — no float until the
# final /(2m)^2 readout.
# Scale: each round is one (edge join labels) shuffle + a keyed argmax
# — Pregel-shaped; rounds are unrolled, lineage checkpointed.
# ---------------------------------------------------------------------------

def _lpa_ctes() -> str:
    ctes = ["""
    l0 AS (
      SELECT u AS node, u AS lab FROM (SELECT DISTINCT u FROM edges)
    )"""]
    for t in range(1, LPA_ROUNDS + 1):
        ctes.append(f"""
    l{t} AS (
      SELECT node, lab FROM (
        SELECT e.u AS node, l.lab,
               row_number() OVER (PARTITION BY e.u
                                  ORDER BY COUNT(*) DESC, l.lab) AS rk
        FROM edges e JOIN l{t - 1} l ON l.node = e.v
        GROUP BY e.u, l.lab
      ) WHERE rk = 1
    )""")
    return ",".join(ctes)


@query(
    "graph_lpa_modularity",
    oracle=f"""
    WITH {_EDGES_SQL},
    {_lpa_ctes()},
    und AS (SELECT u, v FROM edges WHERE u < v),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
    ),
    comm AS (
      SELECT l.lab AS community_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(deg.d) AS BIGINT) AS d_sum
      FROM l{LPA_ROUNDS} l JOIN deg ON deg.node = l.node
      GROUP BY 1
    ),
    intra AS (
      SELECT la.lab AS community_id, CAST(COUNT(*) AS BIGINT) AS l_in
      FROM und
      JOIN l{LPA_ROUNDS} la ON la.node = und.u
      JOIN l{LPA_ROUNDS} lb ON lb.node = und.v AND lb.lab = la.lab
      GROUP BY 1
    )
    SELECT c.community_id, c.n_members, c.d_sum,
           CAST(COALESCE(i.l_in, 0) AS BIGINT) AS intra_edges,
           CAST(4 * m.m * COALESCE(i.l_in, 0) - c.d_sum * c.d_sum
                AS BIGINT) AS q_term_x4m2
    FROM comm c LEFT JOIN intra i USING (community_id), m
    ORDER BY c.n_members DESC, c.community_id
    """,
)
def graph_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous {LPA_ROUNDS}-round LPA communities + exact-integer
    modularity terms (see block comment)."""
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir,
                                                   MIN_TOGETHER)))
    labels = checkpoint(edges.select(F.col("u").alias("node")).distinct()
                        .withColumn("lab", F.col("node")))
    wu = Window.partitionBy("nu").orderBy(F.desc("ct"), "lab")
    for _ in range(LPA_ROUNDS):
        labels = checkpoint(edges.join(labels, F.col("node") == F.col("v"))
                            .groupBy(F.col("u").alias("nu"), "lab")
                            .agg(F.count("*").alias("ct"))
                            .withColumn("rk", F.row_number().over(wu))
                            .filter(F.col("rk") == 1)
                            .select(F.col("nu").alias("node"), "lab"))
    und = edges.filter(F.col("u") < F.col("v"))
    m = und.agg(F.count("*").cast("bigint").alias("m"))
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d"))
    comm = (labels.join(deg, "node")
            .groupBy(F.col("lab").alias("community_id"))
            .agg(F.count("*").cast("bigint").alias("n_members"),
                 F.sum("d").cast("bigint").alias("d_sum")))
    la = labels.select(F.col("node").alias("au"), F.col("lab").alias("la"))
    lb = labels.select(F.col("node").alias("bv"), F.col("lab").alias("lb"))
    intra = (und.join(la, F.col("u") == F.col("au"))
             .join(lb, (F.col("v") == F.col("bv"))
                   & (F.col("la") == F.col("lb")))
             .groupBy(F.col("la").alias("community_id"))
             .agg(F.count("*").cast("bigint").alias("l_in")))
    return (comm.join(intra, "community_id", "left")
            .crossJoin(F.broadcast(m))
            .select("community_id", "n_members", "d_sum",
                    F.coalesce("l_in", F.lit(0)).cast("bigint")
                    .alias("intra_edges"),
                    (4 * F.col("m") * F.coalesce("l_in", F.lit(0))
                     - F.col("d_sum") * F.col("d_sum")).cast("bigint")
                    .alias("q_term_x4m2"))
            .orderBy(F.desc("n_members"), "community_id"))


# ---------------------------------------------------------------------------
# Sampled harmonic closeness centrality (r11) — "how near is this node
# to everything else", the navigability readout next to degree (local)
# and PageRank (flow). Exact all-pairs closeness is O(V*E); the
# standard scale path is a SAMPLED multi-source BFS: one BFS per seed,
# all seeds advanced TOGETHER as (seed, node, dist) state in
# CLOSENESS_ROUNDS synchronous rounds (Pregel-shaped keyed joins, the
# iterative discipline of graph_bfs_hops).  Harmonic closeness
# sum(1/d) handles unreachable nodes gracefully and is EXACT here:
# with d <= 4, h = sum_d count_d * (12/d) stays an integer at x12
# scale (12, 6, 4, 3).  SCALE: state is reached (seed, node) pairs
# only; seeds = node % {CLOSENESS_SEED_MOD} == 0 (~1%), so state is
# ~|V|^2/100 bounded, keyed joins throughout, checkpoint per
# round to cut lineage.
# ---------------------------------------------------------------------------

CLOSENESS_ROUNDS = 4
CLOSENESS_SEED_MOD = 100


def _closeness_oracle() -> str:
    rounds = []
    for it in range(1, CLOSENESS_ROUNDS + 1):
        prev = f"s{it - 1}"
        rounds.append(f"""
    s{it} AS MATERIALIZED (
      SELECT s, node, MIN(d) AS d FROM (
        SELECT s, node, d FROM {prev}
        UNION ALL
        SELECT p.s, e.v AS node, p.d + 1 AS d
        FROM {prev} p JOIN edges e ON e.u = p.node
      ) GROUP BY 1, 2
    )""")
    edges_sql = _EDGES_SQL.replace(
        f"COUNT(*) >= {MIN_TOGETHER}", "COUNT(*) >= 2")
    return f"""
    WITH {edges_sql},
    s0 AS (
      SELECT u AS s, u AS node, 0 AS d
      FROM (SELECT DISTINCT u FROM edges)
      WHERE u % {CLOSENESS_SEED_MOD} = 0
    ),
    {','.join(rounds)}
    SELECT CAST(s AS BIGINT) AS seed,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
           CAST(SUM(CASE d WHEN 1 THEN 12 WHEN 2 THEN 6
                           WHEN 3 THEN 4 WHEN 4 THEN 3
                           ELSE 0 END) AS BIGINT) AS harmonic_x12
    FROM s{CLOSENESS_ROUNDS}
    GROUP BY 1 ORDER BY 1
    """


@query("graph_closeness_sampled", oracle=_closeness_oracle())
def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness (x12 integer) of ~1% sampled seeds via
    4-round multi-source BFS (see block comment)."""
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir, 2)),
                       eager=False)
    state = (edges.select(F.col("u").alias("node")).distinct()
             .filter(F.col("node") % CLOSENESS_SEED_MOD == 0)
             .select(F.col("node").alias("s"), "node",
                     F.lit(0).alias("d")))
    for _ in range(CLOSENESS_ROUNDS):
        grown = (state.join(edges, state.node == edges.u)
                 .select("s", F.col("v").alias("node"),
                         (F.col("d") + 1).alias("d"))
                 .unionByName(state)
                 .groupBy("s", "node").agg(F.min("d").alias("d")))
        state = checkpoint(grown, eager=False)
    h = (F.when(F.col("d") == 1, 12).when(F.col("d") == 2, 6)
         .when(F.col("d") == 3, 4).when(F.col("d") == 4, 3).otherwise(0))
    return (state.groupBy(F.col("s").cast("bigint").alias("seed"))
            .agg((F.count("*") - 1).cast("bigint").alias("n_reached"),
                 F.sum(h).cast("bigint").alias("harmonic_x12"))
            .orderBy("seed"))


# ---------------------------------------------------------------------------
# Bounded k-truss peel (r11) — the edge-strength sibling of the k-core
# (node degree): the 4-truss keeps only edges supported by >= 2
# triangles, iteratively, so it isolates genuinely cohesive co-purchase
# cliques that degree alone can't separate from hubs.  Same iterative
# discipline as graph_kcore_bounded: TRUSS_ROUNDS FIXED synchronous
# peel rounds (no convergence test — the per-round edge counts are the
# readout, so a non-converged tail is visible, not hidden), keyed
# triangle-support joins only (edge x adjacency x adjacency on node
# keys), checkpoint per round.  EXACTNESS: pure integer counts.
# SCALE: support counting is the standard two-hop keyed join; each
# round shrinks the edge set, and rounds are bounded a priori.
# ---------------------------------------------------------------------------

TRUSS_ROUNDS = 3
TRUSS_SUPPORT = 2      # 4-truss: every edge in >= 2 triangles


def _truss_oracle() -> str:
    parts = []
    for r in range(1, TRUSS_ROUNDS + 1):
        prev = f"e{r - 1}"
        parts.append(f"""
    u{r - 1} AS MATERIALIZED (
      SELECT a AS u, b AS v FROM {prev}
      UNION ALL SELECT b, a FROM {prev}
    ),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b
      FROM {prev} e
      JOIN u{r - 1} n1 ON n1.u = e.a
      JOIN u{r - 1} n2 ON n2.u = e.b AND n2.v = n1.v
      GROUP BY 1, 2
      HAVING COUNT(*) >= {TRUSS_SUPPORT}
    )""")
    counts = " UNION ALL ".join(
        f"SELECT {r} AS round, CAST(COUNT(*) AS BIGINT) AS n_edges"
        f" FROM e{r}" for r in range(TRUSS_ROUNDS + 1))
    edges_sql = _EDGES_SQL.replace(
        f"COUNT(*) >= {MIN_TOGETHER}", "COUNT(*) >= 2")
    return f"""
    WITH {edges_sql},
    e0 AS MATERIALIZED (SELECT part_a AS a, part_b AS b FROM pairs),
    {','.join(parts)}
    SELECT CAST(round AS BIGINT) AS round, n_edges
    FROM ({counts}) ORDER BY round
    """


@query("graph_k_truss", oracle=_truss_oracle())
def graph_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge counts after each of {TRUSS_ROUNDS} bounded 4-truss peel
    rounds over the >=2-co-purchase graph (see block comment)."""
    e = checkpoint(copurchase_pairs(spark, sf_dir, 2)
                   .select(F.col("part_a").alias("a"),
                           F.col("part_b").alias("b")), eager=False)
    counts = [e.agg(F.count("*").cast("bigint").alias("n_edges"))
              .select(F.lit(0).cast("bigint").alias("round"), "n_edges")]
    for r in range(1, TRUSS_ROUNDS + 1):
        und = (e.select(F.col("a").alias("u"), F.col("b").alias("v"))
               .unionByName(e.select(F.col("b").alias("u"),
                                     F.col("a").alias("v"))))
        n1 = und.select(F.col("u").alias("u1"), F.col("v").alias("w1"))
        n2 = und.select(F.col("u").alias("u2"), F.col("v").alias("w2"))
        e = checkpoint(e.join(n1, F.col("a") == F.col("u1"))
                       .join(n2, (F.col("b") == F.col("u2"))
                             & (F.col("w1") == F.col("w2")))
                       .groupBy("a", "b")
                       .agg(F.count("*").alias("support"))
                       .filter(F.col("support") >= TRUSS_SUPPORT)
                       .select("a", "b"), eager=False)
        counts.append(
            e.agg(F.count("*").cast("bigint").alias("n_edges"))
            .select(F.lit(r).cast("bigint").alias("round"), "n_edges"))
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Rich-club coefficient (r11; Zhou & Mondragon 2004) — do high-degree
# nodes preferentially connect to EACH OTHER?  phi(k) = 2 E_k /
# (N_k (N_k - 1)) over the subgraph induced by nodes of degree > k,
# for a fixed k ladder.  The hub-structure readout that degree
# distribution (r7) and assortativity (r7) bracket but don't answer.
# EXACTNESS: degrees, induced edge counts, and N_k are exact integers;
# phi is one quantized rational per k.  SCALE: degrees are one groupBy;
# each ladder step is two broadcast-able semi-joins of the edge list
# against the >k node set — no pairwise expansion anywhere.
# ---------------------------------------------------------------------------

RICH_CLUB_KS = (2, 4, 8, 16)


@query(
    "graph_rich_club",
    oracle=f"""
    WITH {_EDGES_SQL.replace(f"COUNT(*) >= {MIN_TOGETHER}",
                             "COUNT(*) >= 2")},
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM edges GROUP BY 1
    ),
    ks AS (SELECT UNNEST([{', '.join(str(k) for k in RICH_CLUB_KS)}])
           AS k),
    club AS (
      SELECT ks.k, deg.node FROM ks JOIN deg ON deg.d > ks.k
    ),
    nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM club
           GROUP BY 1),
    ek AS (
      SELECT c1.k, CAST(COUNT(*) AS BIGINT) AS e2_k
      FROM pairs p
      JOIN club c1 ON c1.node = p.part_a
      JOIN club c2 ON c2.node = p.part_b AND c2.k = c1.k
      GROUP BY 1
    )
    SELECT nk.k, nk.n_k,
           CAST(COALESCE(ek.e2_k, 0) AS BIGINT) AS e_k,
           CASE WHEN nk.n_k >= 2 THEN
             CAST(CAST(floor(
               2.0 * COALESCE(ek.e2_k, 0)
               / (CAST(nk.n_k AS DOUBLE) * (nk.n_k - 1))
               * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
           ELSE CAST(0 AS DOUBLE) END AS phi
    FROM nk LEFT JOIN ek USING (k)
    ORDER BY nk.k
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) over the >=2-co-purchase graph for
    k in RICH_CLUB_KS (see block comment)."""
    pairs = checkpoint(copurchase_pairs(spark, sf_dir, 2)
                       .select("part_a", "part_b"), eager=False)
    edges = symmetrize(pairs)
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d"))
    ks = spark.range(0).sql_ctx.sparkSession.createDataFrame(
        [(k,) for k in RICH_CLUB_KS], "k int")
    club = ks.join(deg, deg.d > ks.k).select("k", "node")
    nk = club.groupBy("k").agg(F.count("*").cast("bigint").alias("n_k"))
    c1 = club.select(F.col("k"), F.col("node").alias("part_a"))
    c2 = club.select(F.col("k").alias("k2"),
                     F.col("node").alias("node_b"))
    ek = (pairs.join(F.broadcast(c1), "part_a")
          .join(F.broadcast(c2), (F.col("part_b") == F.col("node_b"))
                & (F.col("k") == F.col("k2")))
          .groupBy("k").agg(F.count("*").cast("bigint").alias("e2_k")))
    phi = F.when(
        F.col("n_k") >= 2,
        (F.floor(F.lit(2.0) * F.coalesce("e2_k", F.lit(0))
                 / (F.col("n_k").cast("double") * (F.col("n_k") - 1))
                 * F.lit(1000000.0) + F.lit(0.5))
         .cast("bigint").cast("double") / F.lit(1000000.0))) \
        .otherwise(F.lit(0.0))
    return (nk.join(ek, "k", "left")
            .select("k", "n_k",
                    F.coalesce("e2_k", F.lit(0)).cast("bigint")
                    .alias("e_k"),
                    phi.alias("phi"))
            .orderBy("k"))


# ---------------------------------------------------------------------------
# 4-cycle (square) count (r11) — the next motif after triangles: C4s
# measure bipartite-style clustering (two parts co-purchased with the
# SAME two other parts, without needing a direct edge), the signal
# rectangle-based recommenders and spam/collusion detectors key on.
# Method: for every unordered node pair (a, b), count common neighbors
# c_ab via the wedge join; every pair of common neighbors {x, y} of
# (a, b) closes the 4-cycle a-x-b-y, and each square has exactly two
# diagonal pairs, so  n_squares = sum_pairs C(c_ab, 2) / 2  (Chiba &
# Nishizeki 1985).  Chordal squares count too — documented semantics.
#
# Scale: the wedge join is sum_x C(deg_x, 2) rows — the SAME cost class
# as triangle counting (graph_triangles_copurchase), bounded by the
# co-purchase edge threshold; the per-pair aggregate is one shuffle on
# (a, b).  Nothing is all-pairs over nodes.  EXACTNESS: pure BIGINT
# counting; c*(c-1)/2 is exact per pair and the final halving is an
# integer division of a provably even total.
# ---------------------------------------------------------------------------

@query(
    "graph_square_count",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    oriented AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {TRI_MIN_TOGETHER}
    ),
    adj AS (
      SELECT u AS x, v AS n FROM oriented
      UNION ALL SELECT v, u FROM oriented
    ),
    cn AS (
      SELECT a.n AS pa, b.n AS pb, CAST(COUNT(*) AS BIGINT) AS c
      FROM adj a JOIN adj b ON a.x = b.x AND a.n < b.n
      GROUP BY 1, 2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM oriented) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_cn_pairs,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pairs_cn2,
           CAST(SUM((c * (c - 1)) // 2) AS BIGINT) // 2 AS n_squares
    FROM cn
    """,
)
def graph_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 4-cycle count over the co-purchase graph via the
    common-neighbor pair formula (see block comment)."""
    oriented = checkpoint(copurchase_pairs(spark, sf_dir, TRI_MIN_TOGETHER)
                          .select(F.col("part_a").alias("u"),
                                  F.col("part_b").alias("v")))
    adj = (oriented.select(F.col("u").alias("x"), F.col("v").alias("n"))
           .unionAll(oriented.select(F.col("v").alias("x"),
                                     F.col("u").alias("n"))))
    cn = (adj.alias("a").join(
        adj.alias("b"),
        (F.col("a.x") == F.col("b.x")) & (F.col("a.n") < F.col("b.n")))
        .groupBy(F.col("a.n").alias("pa"), F.col("b.n").alias("pb"))
        .agg(F.count("*").cast("bigint").alias("c")))
    n_edges = oriented.agg(
        F.count("*").cast("bigint").alias("n_edges"))
    agg = cn.agg(
        F.count("*").cast("bigint").alias("n_cn_pairs"),
        F.sum(F.when(F.col("c") >= 2, 1).otherwise(0))
        .cast("bigint").alias("n_pairs_cn2"),
        F.sum(F.expr("c * (c - 1) div 2"))
        .cast("bigint").alias("sq2"))
    return (n_edges.crossJoin(agg)
            .select("n_edges", "n_cn_pairs", "n_pairs_cn2",
                    F.expr("sq2 div 2").alias("n_squares")))


# ---------------------------------------------------------------------------
# Katz centrality (r12) — Katz 1953: influence as the attenuated count
# of ALL walks reaching a node, x = sum_k alpha^k (A^k 1), truncated at
# K=3 rounds with alpha = 1/8 (below 1/lambda_max for this graph, and a
# power of two so the truncated series is EXACTLY integer at x512
# scale: katz_x512 = 512 + 64*A1 + 8*A^2*1 + A^3*1).  Degree counts
# walks of length 1; PageRank normalizes by out-degree; Katz keeps raw
# walk counts — the third centrality lens over the same co-purchase
# graph (same determinism contract as graph_pagerank_copurchase: fixed
# rounds, exact integers, no convergence test).
#
# SCALE: each round is ONE shuffle join keyed by node (walk counts are
# node-sized, edges are the big side — the Pregel layout);
# checkpoint truncates per-round lineage like CC/PageRank above.
# EXACTNESS: y_k <= max_deg^k ~ 1e7 at this graph's degree bound —
# everything BIGINT, the only double is the final /512 readout (a
# binary fraction: exact in IEEE, identical in both engines).
# ---------------------------------------------------------------------------

KATZ_ROUNDS = 3


def _katz_ctes() -> str:
    ctes = ["""
    y1 AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS y
           FROM edges GROUP BY 1)"""]
    for k in range(2, KATZ_ROUNDS + 1):
        ctes.append(f"""
    y{k} AS (
      SELECT e.v AS node, CAST(SUM(p.y) AS BIGINT) AS y
      FROM edges e JOIN y{k - 1} p ON p.node = e.u
      GROUP BY 1
    )""")
    return ",".join(ctes)


@query(
    "graph_katz_centrality",
    oracle=f"""
    WITH {_EDGES_SQL},
    {_katz_ctes()}
    SELECT y1.node AS part_id,
           512 + 64 * y1.y + 8 * y2.y + y3.y AS katz_x512,
           round(CAST(512 + 64 * y1.y + 8 * y2.y + y3.y AS DOUBLE)
                 / 512, 6) AS katz
    FROM y1 JOIN y2 ON y2.node = y1.node JOIN y3 ON y3.node = y1.node
    """,
)
def graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (alpha=1/8, 3 rounds, exact x512 integers) over
    the co-purchase graph (see block comment)."""
    edges = checkpoint(symmetrize(copurchase_pairs(spark, sf_dir,
                                                   MIN_TOGETHER)))
    walks = [checkpoint(edges.groupBy(F.col("u").alias("node"))
                        .agg(F.count("*").cast("bigint").alias("y")))]
    for _ in range(KATZ_ROUNDS - 1):
        prev = walks[-1]
        walks.append(checkpoint(
            edges.join(prev, edges.u == prev.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("y").cast("bigint").alias("y"))))
    y1, y2, y3 = (w.withColumnRenamed("y", f"y{i + 1}")
                  for i, w in enumerate(walks))
    x512 = (F.lit(512) + 64 * F.col("y1") + 8 * F.col("y2")
            + F.col("y3"))
    return (y1.join(y2, "node").join(y3, "node")
            .select(F.col("node").alias("part_id"),
                    x512.cast("bigint").alias("katz_x512"),
                    F.round(x512.cast("double") / 512, 6).alias("katz")))
