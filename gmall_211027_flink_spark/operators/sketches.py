"""Streaming-friendly frequency / cardinality sketches with exactness
audits — the fixed-memory summaries a 100 TB ingest runs where exact
state would not fit.

- **Count-Min**: d×w counter grid (d=4 seeds, w=512 buckets here —
  constant size, merge = cell-wise add). Building it is a two-phase
  aggregation: exact per-token partial counts first (map-side combine),
  then the token→(seed,bucket) projection collapses to d·w cells, so
  the only corpus-sized shuffle is the one any word-count already pays
  and the sketch itself is broadcastable. Estimates never under-count
  (audited below).
- **KMV (k-minimum-values)**: keep the k smallest distinct hash values;
  the kth smallest estimates distinct count as (k−1)·H/h_k over hash
  space H. Merge = union + re-truncate to k, which is how the union
  estimate below works without ever shuffling the union's raw keys at
  full width. Spark's sort+limit compiles to TakeOrdered (per-partition
  bottom-k, driver merge of k·P values) — no global sort.
- **Heavy-hitter skew audit**: the exact diagnosis pass a pipeline runs
  before picking a salting factor for a skewed shuffle key; everything
  is a two-phase count so the corpus is touched once.

All arithmetic is integer (hash spaces sized so products fit in int64),
so the DuckDB oracles match bit-for-bit with no float tolerance.

Reference parity: the reference keeps per-key Flink `ValueState` counts
(e.g. app/dws/DwsTrafficVcChArIsNewPageViewWindow.java keyed counters);
these sketches are the bounded-memory replacement a 100 TB corpus
forces, audited against the exact answers the reference would compute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_211027_flink_spark.catalog import load_table
from gmall_211027_flink_spark.functions.scalar import hex_to_long
from gmall_211027_flink_spark.registry import query
from gmall_211027_flink_spark.session import checkpoint

CM_DEPTH = 4      # independent hash rows
CM_WIDTH = 512    # buckets per row
CM_TOPK = 20      # audited tokens

KMV_K = 256                 # sketch size
KMV_HEX = 13                # md5 prefix chars -> 52-bit hash space
KMV_SPACE = 1 << (4 * KMV_HEX)

HH_TOPK = 10
HH_PARTITIONS = 32          # assumed shuffle width for the salt hint


@query(
    "sketch_countmin_freq_audit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY token
    ),
    seeds AS (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS seed),
    cells AS (
      SELECT s.seed,
             ('0x' || substr(md5(s.seed || ':' || e.token), 1, 15))::BIGINT
               % {CM_WIDTH} AS bucket,
             CAST(SUM(e.exact_cnt) AS BIGINT) AS cell_cnt
      FROM exact e, seeds s
      GROUP BY 1, 2
    ),
    top AS (
      SELECT token, exact_cnt
      FROM exact
      ORDER BY exact_cnt DESC, token
      LIMIT {CM_TOPK}
    ),
    est AS (
      SELECT t.token, t.exact_cnt,
             MIN(c.cell_cnt) AS cm_estimate
      FROM top t
      JOIN seeds s ON TRUE
      JOIN cells c
        ON c.seed = s.seed
       AND c.bucket = ('0x' || substr(md5(s.seed || ':' || t.token), 1, 15))
                        ::BIGINT % {CM_WIDTH}
      GROUP BY 1, 2
    )
    SELECT token, exact_cnt, CAST(cm_estimate AS BIGINT) AS cm_estimate,
           CAST(cm_estimate - exact_cnt AS BIGINT) AS overestimate
    FROM est
    """,
)
def sketch_countmin_freq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4×512 Count-Min sketch over document tokens and audit the
    top-20 tokens' estimates against exact counts (CM never
    under-counts, so overestimate >= 0 — asserted by the oracle's value
    hash).

    Plan: ONE corpus-sized shuffle (exact token counts, map-side
    combined); the sketch is the 2048-cell collapse of those partials
    and the probe side is a broadcast of 20 rows. At 100 TB the sketch
    build rides the word-count shuffle and the grid stays 2048 cells
    regardless of corpus size."""
    tok = (load_table(spark, sf_dir, "documents")
           .select(F.explode(F.split("text", " ")).alias("token")))
    exact = tok.groupBy("token").agg(
        F.count("*").cast("bigint").alias("exact_cnt"))
    # checkpoint, not cache(): its blocks are released by the
    # ContextCleaner when the plan is GC'd, so repeated bench/driver runs
    # don't accumulate permanent storage entries (ADVICE r6)
    exact = checkpoint(exact)
    seeds = spark.range(CM_DEPTH).withColumnRenamed("id", "seed")
    bucket = F.expr(
        f"cast(conv(substring(md5(concat(cast(seed as string), ':', token)),"
        f" 1, 15), 16, 10) as bigint) % {CM_WIDTH}")
    cells = (exact.crossJoin(F.broadcast(seeds))
             .select("seed", bucket.alias("bucket"), "exact_cnt")
             .groupBy("seed", "bucket")
             .agg(F.sum("exact_cnt").cast("bigint").alias("cell_cnt")))
    top = (exact.orderBy(F.desc("exact_cnt"), F.asc("token"))
           .limit(CM_TOPK))
    probes = (top.crossJoin(F.broadcast(seeds))
              .select("token", "exact_cnt", "seed", bucket.alias("bucket")))
    return (probes.join(F.broadcast(cells), ["seed", "bucket"])
            .groupBy("token", "exact_cnt")
            .agg(F.min("cell_cnt").cast("bigint").alias("cm_estimate"))
            .withColumn("overestimate",
                        (F.col("cm_estimate") - F.col("exact_cnt"))
                        .cast("bigint")))


_KMV_HASH_DUCK = (
    f"('0x' || substr(md5(CAST(k AS VARCHAR)), 1, {KMV_HEX}))::BIGINT")


@query(
    "sketch_kmv_distinct",
    oracle=f"""
    WITH keyed AS (
      SELECT 'events_users' AS source, user_id AS k FROM events
      UNION ALL
      SELECT 'customers', c_custkey FROM customer
      UNION ALL
      SELECT 'union', user_id FROM events
      UNION ALL
      SELECT 'union', c_custkey FROM customer
    ),
    hashed AS (
      SELECT DISTINCT source, k, {_KMV_HASH_DUCK} AS h FROM keyed
    ),
    ranked AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
      FROM (SELECT DISTINCT source, h FROM hashed)
    ),
    kth AS (
      SELECT source, MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM ranked WHERE rn <= {KMV_K} GROUP BY source
    ),
    exact AS (
      SELECT source, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_distinct
      FROM keyed GROUP BY source
    )
    SELECT e.source, e.exact_distinct,
           CAST(CASE WHEN k.n_kept < {KMV_K} THEN k.n_kept
                ELSE ({KMV_K} - 1) * {KMV_SPACE} // k.h_k END AS BIGINT)
             AS kmv_estimate,
           CAST(ABS(CASE WHEN k.n_kept < {KMV_K} THEN k.n_kept
                ELSE ({KMV_K} - 1) * {KMV_SPACE} // k.h_k END
                - e.exact_distinct) AS BIGINT) AS abs_err
    FROM exact e JOIN kth k USING (source)
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over event users,
    customers, and their union, audited against exact COUNT(DISTINCT).

    The union row demonstrates sketch mergeability: its estimate comes
    from the same bottom-k rule applied to the merged key stream —
    at 100 TB each source keeps k=256 hashes and the merge is k-sized,
    while the exact union count would shuffle every key. Spark's
    sort+limit compiles to TakeOrdered (per-partition bottom-k), so no
    stage ever sees a global sort."""
    events = load_table(spark, sf_dir, "events").select(
        F.lit("events_users").alias("source"), F.col("user_id").alias("k"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customers").alias("source"), F.col("c_custkey").alias("k"))
    union = (events.union(cust)).select(F.lit("union").alias("source"), "k")
    keyed = events.union(cust).union(union)
    hashed = keyed.select(
        "source",
        F.expr(f"cast(conv(substring(md5(cast(k as string)), 1, {KMV_HEX}),"
               " 16, 10) as bigint)").alias("h"),
        "k")
    from pyspark.sql import Window
    distinct_h = hashed.select("source", "h").distinct()
    ranked = distinct_h.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("source").orderBy("h")))
    kth = (ranked.filter(F.col("rn") <= KMV_K)
           .groupBy("source")
           .agg(F.max("h").alias("h_k"),
                F.count("*").cast("bigint").alias("n_kept")))
    exact = keyed.groupBy("source").agg(
        F.count_distinct("k").cast("bigint").alias("exact_distinct"))
    est = F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept")).otherwise(
        F.expr(f"div(({KMV_K} - 1) * cast({KMV_SPACE} as bigint), h_k)"))
    return (exact.join(kth, "source")
            .select("source", "exact_distinct",
                    est.cast("bigint").alias("kmv_estimate"),
                    F.abs(est.cast("bigint")
                          - F.col("exact_distinct")).cast("bigint")
                    .alias("abs_err")))


@query(
    "sketch_heavy_hitter_skew",
    oracle=f"""
    WITH cnt AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM cnt
    )
    SELECT c.user_id, c.cnt,
           CAST(c.cnt * 1000000 // t.total AS BIGINT) AS share_ppm,
           CAST((c.cnt * {HH_PARTITIONS} + t.total - 1) // t.total
             AS BIGINT) AS salt_factor
    FROM cnt c, tot t
    ORDER BY c.cnt DESC, c.user_id
    LIMIT {HH_TOPK}
    """,
)
def sketch_heavy_hitter_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter skew audit on the events shuffle key: top-10
    hottest user_ids with traffic share (ppm) and the salt factor that
    would level each one across {HH_PARTITIONS} shuffle partitions
    (ceil(key_cnt · P / total)).

    This is the diagnosis pass run before enabling salting/AQE skew
    join on a key: two-phase count (map-side combine), a broadcast
    scalar total, and a TakeOrdered top-10 — the corpus is scanned
    once and nothing global-sorts."""
    cnt = (load_table(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(F.count("*").cast("bigint").alias("cnt")))
    tot = cnt.agg(F.sum("cnt").cast("bigint").alias("total"))
    return (cnt.crossJoin(F.broadcast(tot))
            .select(
                "user_id", "cnt",
                F.expr("div(cnt * 1000000, total)").cast("bigint")
                .alias("share_ppm"),
                F.expr(f"div(cnt * {HH_PARTITIONS} + total - 1, total)")
                .cast("bigint").alias("salt_factor"))
            .orderBy(F.desc("cnt"), F.asc("user_id"))
            .limit(HH_TOPK))


# ---------------------------------------------------------------------------
# Join-cardinality estimation by Count-Min inner product (AGMS/Alon-
# Matias-Szegedy lineage; CM variant per Cormode & Muthukrishnan §4.2):
# |A join B on k| = sum_key fA(key)*fB(key), and the CM estimate is
# min over seed rows of sum_bucket cmA[s][b]*cmB[s][b] — never an
# under-count, because colliding keys only ADD cross terms. This is the
# planner-style pre-flight a 100 TB pipeline runs BEFORE committing to
# a shuffle join: both sketches ride the per-key count aggregations
# (map-side combined), the sketch-sketch join is 2048 x 2048 cells, and
# no row-level join ever executes — the EXACT answer below is likewise
# computed from the two per-key count tables (sum of count products),
# so even the audit never materializes the join.
#
# All arithmetic is int64 (cell counts x cell counts at these
# cardinalities stay far under 2^63; DuckDB's HUGEINT sums are cast
# back per repo convention), so the oracle matches bit-for-bit.
# ---------------------------------------------------------------------------


def _cm_cells_sql(src_sql: str, key: str) -> str:
    """Per-(seed,bucket) cell counts of a CM sketch over ``key``."""
    return f"""(
      SELECT s.seed,
             ('0x' || substr(md5(s.seed || ':' || CAST(x.{key} AS VARCHAR)),
                             1, 15))::BIGINT % {CM_WIDTH} AS bucket,
             CAST(SUM(x.cnt) AS BIGINT) AS cnt
      FROM (SELECT {key}, COUNT(*) AS cnt FROM {src_sql} GROUP BY 1) x,
           (SELECT unnest(generate_series(0, {CM_DEPTH - 1})) AS seed) s
      GROUP BY 1, 2
    )"""


@query(
    "sketch_join_size_estimate",
    oracle=f"""
    WITH ca AS {_cm_cells_sql("events", "user_id")},
    cb AS {_cm_cells_sql("orders", "o_custkey")},
    per_seed AS (
      SELECT ca.seed, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS est
      FROM ca JOIN cb ON ca.seed = cb.seed AND ca.bucket = cb.bucket
      GROUP BY 1
    ),
    exact AS (
      SELECT CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS exact_size
      FROM (SELECT user_id AS k, COUNT(*) AS cnt FROM events GROUP BY 1) a
      JOIN (SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1) b
        ON a.k = b.k
    )
    SELECT e.exact_size,
           CAST(MIN(p.est) AS BIGINT) AS cm_estimate,
           CAST(MIN(p.est) - e.exact_size AS BIGINT) AS overestimate
    FROM per_seed p, exact e
    GROUP BY e.exact_size
    """,
)
def sketch_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate |events ⋈ orders ON user_id = o_custkey| from two
    Count-Min sketches (min over seeds of the cell-wise inner product)
    and audit against the exact size — computed from per-key count
    tables as Σ fA·fB, so neither path runs the row-level join.

    Plan: each side is one map-side-combined per-key count aggregation
    collapsed to {CM_DEPTH}×{CM_WIDTH} cells; the inner product joins
    two 2048-row sketches. At 100 TB the sketches are broadcast-sized
    and mergeable (cell-wise add across partitions/days), which is how
    a planner keeps running join-size stats without touching the join.

    Reference parity: the reference sizes its interval-join state by
    assumption (app/dwd/DwdTradeOrderDetail.java TTL choice); this is
    the measurement that replaces the assumption at scale."""
    seeds = spark.range(CM_DEPTH).withColumnRenamed("id", "seed")

    def cells(df: DataFrame, key: str) -> DataFrame:
        per_key = (df.groupBy(F.col(key).alias("k"))
                   .agg(F.count("*").alias("cnt")))
        return (per_key.crossJoin(F.broadcast(seeds))
                .select(
                    "seed",
                    F.pmod(hex_to_long(F.md5(F.concat_ws(
                        ":", F.col("seed"), F.col("k").cast("string")))),
                        F.lit(CM_WIDTH)).alias("bucket"),
                    "cnt")
                .groupBy("seed", "bucket")
                .agg(F.sum("cnt").cast("bigint").alias("cnt")))

    ev = load_table(spark, sf_dir, "events").select("user_id")
    od = load_table(spark, sf_dir, "orders").select("o_custkey")
    ca = cells(ev, "user_id")
    cb = cells(od, "o_custkey")
    per_seed = (ca.alias("a").join(
        cb.alias("b"),
        (F.col("a.seed") == F.col("b.seed"))
        & (F.col("a.bucket") == F.col("b.bucket")))
        .groupBy("a.seed")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("est")))
    exact = (ev.groupBy(F.col("user_id").alias("k"))
             .agg(F.count("*").alias("ca"))
             .join(od.groupBy(F.col("o_custkey").alias("k"))
                   .agg(F.count("*").alias("cb")), "k")
             .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint")
                  .alias("exact_size")))
    return (per_seed.agg(F.min("est").cast("bigint").alias("cm_estimate"))
            .crossJoin(F.broadcast(exact))
            .select("exact_size", "cm_estimate",
                    (F.col("cm_estimate") - F.col("exact_size"))
                    .cast("bigint").alias("overestimate")))


# ---------------------------------------------------------------------------
# Mergeable fixed-grid quantile sketch (equi-width histogram with
# linear interpolation inside the hit bin — the classic pre-t-digest
# streaming quantile summary; Greenwald-Khanna/t-digest refine the same
# idea with adaptive bins). The grid is DECLARED, not data-derived:
# 256 bins x 2500 over [0, 640000) chosen from the o_totalprice domain
# spec, so sketches from different partitions/days merge by cell-wise
# add with no re-binning pass. The audit compares the sketch's P50/P90/
# P99 against exact percentile() — the acceptance check a pipeline runs
# once per new corpus before trusting the sketch in production.
# ---------------------------------------------------------------------------

QH_BINS = 256
QH_WIDTH = 2500          # bin width; grid covers [0, 640000)
QH_QS = ("0.5", "0.9", "0.99")    # identical literal text in both engines


@query(
    "sketch_quantile_histogram",
    oracle=f"""
    WITH bins AS (
      SELECT LEAST(CAST(floor(o_totalprice / {QH_WIDTH}) AS BIGINT),
                   {QH_BINS - 1}) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
             CAST(COALESCE(SUM(cnt) OVER (
               ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      FROM bins
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
    qs AS (SELECT unnest([{", ".join(QH_QS)}]) AS q),
    targets AS (
      SELECT q, GREATEST(CAST(ceil(q * n.n) AS BIGINT), 1) AS rank
      FROM qs, n
    ),
    hit AS (
      SELECT t.q, t.rank, MIN(c.bin) AS bin
      FROM targets t JOIN cum c ON c.cum >= t.rank
      GROUP BY 1, 2
    ),
    est AS (
      SELECT h.q,
             h.bin * {QH_WIDTH}
             + {QH_WIDTH} * (h.rank - c.cum_before) / c.cnt AS est_q
      FROM hit h JOIN cum c ON c.bin = h.bin
    ),
    exact AS (
      SELECT q, ex FROM (
        SELECT unnest([{", ".join(QH_QS)}]) AS q,
               unnest(quantile_cont(o_totalprice,
                                    [{", ".join(QH_QS)}])) AS ex
        FROM orders
      )
    )
    SELECT CAST(e.q AS DOUBLE) AS q, round(e.est_q, 6) AS est_quantile,
           round(x.ex, 6) AS exact_quantile,
           round(abs(e.est_q - x.ex), 6) AS abs_err
    FROM est e JOIN exact x ON e.q = x.q
    ORDER BY e.q
    """,
)
def sketch_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P50/P90/P99 of o_totalprice from a 256-bin equi-width histogram
    sketch (rank walk + linear interpolation in the hit bin), audited
    against exact percentile().

    Plan: the corpus pays ONE map-side-combined bin-count aggregation;
    every later step (cumulative walk, rank probe, interpolation) runs
    on the constant 256-row summary, so the window sort is O(bins) no
    matter the corpus size. The sketch merges by cell-wise add — per-
    day/per-partition histograms roll up without re-binning, unlike
    exact percentile whose state is O(rows). Exact percentile here is
    the audit only; at 100 TB you run it once per corpus, not per query."""
    od = load_table(spark, sf_dir, "orders").select("o_totalprice")
    bins = (od.select(
        F.least(F.floor(F.col("o_totalprice") / QH_WIDTH).cast("bigint"),
                F.lit(QH_BINS - 1)).alias("bin"))
        .groupBy("bin").agg(F.count("*").cast("bigint").alias("cnt")))
    w = Window.orderBy("bin")
    cum = (bins
           .withColumn("cum", F.sum("cnt").over(
               w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"))
           .withColumn("cum_before", F.coalesce(F.sum("cnt").over(
               w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0))
               .cast("bigint")))
    n = od.agg(F.count("*").cast("bigint").alias("n"))
    qs = spark.createDataFrame([(float(q),) for q in QH_QS], "q double")
    targets = (qs.crossJoin(F.broadcast(n))
               .select("q", F.greatest(
                   F.ceil(F.col("q") * F.col("n")).cast("bigint"),
                   F.lit(1)).alias("rank")))
    hit = (targets.join(cum, cum.cum >= targets.rank)
           .groupBy("q", "rank").agg(F.min("bin").alias("bin")))
    est = (hit.join(cum.select("bin", "cnt", "cum_before"), "bin")
           .select("q", (F.col("bin") * QH_WIDTH
                         + QH_WIDTH * (F.col("rank") - F.col("cum_before"))
                         / F.col("cnt")).alias("est_q")))
    exact = (od.agg(F.percentile(
        F.col("o_totalprice"),
        F.array(*[F.lit(float(q)) for q in QH_QS])).alias("ex"))
        .select(F.posexplode("ex").alias("pos", "ex"))
        .select(F.element_at(F.array(*[F.lit(float(q)) for q in QH_QS]),
                             F.col("pos") + 1).alias("q"), "ex"))
    return (est.join(exact, "q")
            .select("q", F.round("est_q", 6).alias("est_quantile"),
                    F.round("ex", 6).alias("exact_quantile"),
                    F.round(F.abs(F.col("est_q") - F.col("ex")), 6)
                    .alias("abs_err"))
            .orderBy("q"))


# ---------------------------------------------------------------------------
# KMV SET ALGEBRA (theta-sketch style, Dasgupta et al. 2016): estimate
# |A ∩ B| and the Jaccard of two key sets from their k-sized sketches
# alone. Rule: θ = the k-th smallest hash of the UNION sketch; every
# stored hash below θ is a uniform sample of the union at rate θ/SPACE,
# so |A ∩ B| ≈ |{h < θ : h ∈ A's sketch ∧ h ∈ B's sketch}| · SPACE/θ.
# This is the audience-overlap query ("clickers ∩ purchasers") at the
# cost of two 256-row sketches — the exact form shuffles every key.
# The gate audits the estimate against the exact intersection.
#
# All arithmetic is integer (hash compares, counts) until the final
# 6-dp ratios; the k-th threshold is an exact order statistic with the
# hash itself as the total order — no float boundary anywhere.
# ---------------------------------------------------------------------------

@query(
    "sketch_kmv_set_algebra",
    oracle=f"""
    WITH a AS (
      SELECT DISTINCT user_id AS k FROM events
      WHERE event_type = 'click'
        AND CAST(strftime(ts, '%d') AS INT) BETWEEN 1 AND 10
    ),
    b AS (
      SELECT DISTINCT user_id AS k FROM events
      WHERE event_type = 'purchase'
        AND CAST(strftime(ts, '%d') AS INT) BETWEEN 8 AND 17
    ),
    ha AS (SELECT k, {_KMV_HASH_DUCK} AS h FROM a),
    hb AS (SELECT k, {_KMV_HASH_DUCK} AS h FROM b),
    ska AS (
      SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                     FROM ha) WHERE rn <= {KMV_K}
    ),
    skb AS (
      SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                     FROM hb) WHERE rn <= {KMV_K}
    ),
    un AS (
      SELECT h, row_number() OVER (ORDER BY h) AS rn
      FROM (SELECT DISTINCT h FROM (SELECT h FROM ska
                                    UNION ALL SELECT h FROM skb))
    ),
    theta AS (
      SELECT CASE WHEN MAX(rn) < {KMV_K} THEN {KMV_SPACE}
                  ELSE MAX(CASE WHEN rn = {KMV_K} THEN h END)
             END AS th,
             CAST(LEAST(MAX(rn), {KMV_K} - 1) AS BIGINT) AS n_un
      FROM un
    ),
    sample_inter AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m
      FROM ska JOIN skb USING (h), theta
      WHERE h < theta.th
    ),
    exact AS (
      SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
             CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
             CAST((SELECT COUNT(*) FROM a JOIN b USING (k)) AS BIGINT)
               AS exact_inter
    )
    SELECT exact.n_a, exact.n_b, exact.exact_inter,
           CAST(sample_inter.m * {KMV_SPACE} // theta.th AS BIGINT)
             AS est_inter,
           round(CAST(sample_inter.m AS DOUBLE)
                 / NULLIF(theta.n_un, 0), 6) AS est_jaccard
    FROM exact, sample_inter, theta
    """,
)
def sketch_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersection / Jaccard of clickers vs purchasers from two
    {KMV_K}-row KMV sketches, audited against the exact overlap."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")

    def sketch(tag, lo, hi):
        keys = (ev.filter((F.col("event_type") == tag)
                          & F.dayofmonth("ts").between(lo, hi))
                .select(F.col("user_id").alias("k")).distinct())
        hashed = keys.select(
            F.expr(f"cast(conv(substring(md5(cast(k as string)), 1,"
                   f" {KMV_HEX}), 16, 10) as bigint)").alias("h"))
        # bottom-k via sort+limit = TakeOrdered (per-partition bottom-k,
        # driver merge of k*P candidates) — never a global-sort window
        return hashed.orderBy("h").limit(KMV_K), keys

    # overlapping day-windowed cohorts: the all-month sets are identical
    # in the synthetic corpus (every user does every event type), which
    # would make the overlap estimate vacuous (Jaccard 1.0)
    ska, a = sketch("click", 1, 10)
    skb, b = sketch("purchase", 8, 17)
    un = (ska.unionByName(skb).distinct()
          .withColumn("rn", F.row_number().over(Window.orderBy("h"))))
    theta = un.agg(
        F.when(F.max("rn") < KMV_K, F.lit(KMV_SPACE))
         .otherwise(F.max(F.when(F.col("rn") == KMV_K, F.col("h"))))
         .alias("th"),
        F.least(F.max("rn"), F.lit(KMV_K - 1)).cast("bigint")
         .alias("n_un"))
    sample_inter = (ska.join(skb, "h").crossJoin(F.broadcast(theta))
                    .filter(F.col("h") < F.col("th"))
                    .agg(F.count("*").cast("bigint").alias("m")))
    exact = (a.agg(F.count("*").cast("bigint").alias("n_a"))
             .crossJoin(b.agg(F.count("*").cast("bigint").alias("n_b")))
             .crossJoin(a.join(b, "k")
                        .agg(F.count("*").cast("bigint")
                             .alias("exact_inter"))))
    return (exact.crossJoin(F.broadcast(sample_inter))
            .crossJoin(F.broadcast(theta))
            .select("n_a", "n_b", "exact_inter",
                    F.expr(f"cast(div(m * cast({KMV_SPACE} as bigint),"
                           " th) as bigint)").alias("est_inter"),
                    F.round(F.col("m").cast("double")
                            / F.nullif(F.col("n_un"),
                                       F.lit(0)), 6).alias("est_jaccard")))


# ---------------------------------------------------------------------------
# HyperLogLog registers, built by hand (r9) — Flajolet et al. 2007:
# the cardinality sketch behind every approx_count_distinct, but with
# the registers themselves materialized and ENGINE-EXACT so the whole
# estimation chain is auditable (the round-4 HLL audit trusts Spark's
# built-in; this one owns the math). m = 512 buckets; the rank is the
# TRAILING-zero geometric rank (rho = tz(w) + 1 — same geometric(1/2)
# law as leading zeros for a uniform hash, and computable exactly in
# both engines as bit_count((w & -w) - 1) + 1, no float log anywhere).
# Z is accumulated as the INTEGER sum of 2^(44-r) (each term a power
# of two <= 2^44, 512 terms -> < 2^53, exact), so the only doubles are
# the final alpha*m^2/Z estimate and the linear-counting branch —
# identical expressions over identical integers in both engines.
#
# Scale: one shuffle to (bucket) grain -> 512-row register table
# (constant size, broadcast-mergeable across streams/partitions); the
# exact COUNT(DISTINCT) it is audited against is the thing that does
# NOT scale — that contrast is the point.
# ---------------------------------------------------------------------------

HLL_P = 9
HLL_M = 1 << HLL_P            # 512 registers
HLL_WBITS = 4 * KMV_HEX - HLL_P    # 43 bits left after the bucket
HLL_RHO_CAP = HLL_WBITS + 1


@query(
    "sketch_hll_registers",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, {KMV_HEX}))
               ::BIGINT AS h
      FROM events
    ),
    bw AS (
      SELECT h % {HLL_M} AS bucket, h // {HLL_M} AS w FROM hashed
    ),
    rho AS (
      SELECT bucket,
             CASE WHEN w = 0 THEN {HLL_RHO_CAP}
                  ELSE bit_count(CAST((w & -w) - 1 AS BIGINT)) + 1
             END AS r
      FROM bw
    ),
    regs AS (
      SELECT g.b AS bucket, CAST(COALESCE(MAX(rho.r), 0) AS BIGINT) AS reg
      FROM UNNEST(generate_series(0, {HLL_M - 1})) AS g(b)
           LEFT JOIN rho ON rho.bucket = g.b
      GROUP BY 1
    ),
    zsum AS (
      SELECT CAST(SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - reg))
                  AS BIGINT) AS z_int,
             CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_regs
      FROM regs
    ),
    exact AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events
    )
    SELECT CAST({HLL_M} AS BIGINT) AS m, e.exact_distinct, z.zero_regs,
           round((0.7213 / (1 + 1.079 / {HLL_M})) * {HLL_M} * {HLL_M}
                 / (CAST(z.z_int AS DOUBLE)
                    / (CAST(1 AS BIGINT) << {HLL_RHO_CAP})), 6)
             AS est_raw,
           round(CASE WHEN z.zero_regs > 0
                 THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / z.zero_regs)
                 END, 6) AS est_linear
    FROM zsum z, exact e
    """,
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-built 512-register HLL over event users, audited against
    the exact distinct count (see block comment)."""
    events = load_table(spark, sf_dir, "events")
    hashed = events.select(F.expr(
        f"cast(conv(substring(md5(cast(user_id as string)), 1, {KMV_HEX}),"
        " 16, 10) as bigint)").alias("h")).distinct()
    rho = hashed.select(
        (F.col("h") % HLL_M).alias("bucket"),
        F.expr(f"h div {HLL_M}").alias("w")).select(
        "bucket",
        F.when(F.col("w") == 0, F.lit(HLL_RHO_CAP))
        .otherwise(F.expr("bit_count((w & -w) - 1) + 1")).alias("r"))
    grid = spark.range(HLL_M).select(F.col("id").alias("bucket"))
    regs = (grid.join(rho, "bucket", "left")
            .groupBy("bucket")
            .agg(F.coalesce(F.max("r"), F.lit(0)).cast("bigint")
                 .alias("reg")))
    zsum = regs.agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint),"
                     f" {HLL_RHO_CAP} - cast(reg as int))"))
        .cast("bigint").alias("z_int"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
        .cast("bigint").alias("zero_regs"))
    exact = events.agg(F.count_distinct("user_id").cast("bigint")
                       .alias("exact_distinct"))
    alpha = 0.7213 / (1 + 1.079 / HLL_M)
    z = F.col("z_int").cast("double") / float(1 << HLL_RHO_CAP)
    return (zsum.crossJoin(F.broadcast(exact))
            .select(F.lit(HLL_M).cast("bigint").alias("m"),
                    "exact_distinct", "zero_regs",
                    F.round(F.lit(alpha) * HLL_M * HLL_M / z, 6)
                    .alias("est_raw"),
                    F.round(F.when(F.col("zero_regs") > 0,
                                   HLL_M * F.log(F.lit(float(HLL_M))
                                                 / F.col("zero_regs"))), 6)
                    .alias("est_linear")))


# ---------------------------------------------------------------------------
# Bloom-filter false-positive rate, MEASURED (r9) — Bloom 1970: the
# round-7 bloom prefilter join uses Spark's built-in filter; this op
# builds the bit set BY HAND (k = 4 md5-derived positions) for two
# filter sizes and measures the actual FPR against a guaranteed-
# negative probe set (offset customer keys, disjoint from the member
# key range by construction — at this corpus EVERY customer has an
# order, so an anti-join probe set would be empty), next to the standard
# (1 - e^(-kn/m))^k prediction. The calibration a pipeline runs before
# sizing a semi-join prefilter at 100 TB — an undersized filter
# silently turns the prefilter into a no-op.
#
# Exactness: positions are integer md5 arithmetic; a probe is a false
# positive iff ALL k of its positions appear in the member-position
# set (a grouped semi-join count, no bit arrays needed — the SQL
# formulation of the same set logic). Theory column is the identical
# double formula in both engines.
# ---------------------------------------------------------------------------

BLOOM_K = 4
BLOOM_SIZES = (4096, 16384)


def _bloom_pos_duck(key: str, m: str) -> str:
    return (f"('0x' || substr(md5(CAST({key} AS VARCHAR) || '#' ||"
            f" CAST(i.i AS VARCHAR)), 1, 8))::BIGINT % {m}")


@query(
    "sketch_bloom_fpr_measured",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS k FROM orders
    ),
    probes AS (
      SELECT c_custkey + 10000000 AS k FROM customer
    ),
    cfg AS (SELECT * FROM (VALUES {", ".join(f"({m})" for m in BLOOM_SIZES)})
            AS t(m)),
    member_bits AS (
      SELECT DISTINCT cfg.m, {_bloom_pos_duck("members.k", "cfg.m")} AS pos
      FROM members, cfg,
           UNNEST(generate_series(0, {BLOOM_K - 1})) AS i(i)
    ),
    probe_bits AS (
      SELECT cfg.m, probes.k, {_bloom_pos_duck("probes.k", "cfg.m")} AS pos
      FROM probes, cfg,
           UNNEST(generate_series(0, {BLOOM_K - 1})) AS i(i)
    ),
    hits AS (
      SELECT pb.m, pb.k,
             CAST(COUNT(DISTINCT CASE WHEN mb.pos IS NOT NULL
                                 THEN pb.pos END) AS BIGINT) AS set_bits,
             CAST(COUNT(DISTINCT pb.pos) AS BIGINT) AS probe_bits
      FROM probe_bits pb LEFT JOIN member_bits mb
           ON mb.m = pb.m AND mb.pos = pb.pos
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM probes) AS n_probes
    )
    SELECT h.m AS m_bits, CAST({BLOOM_K} AS BIGINT) AS k_hashes,
           s.n_members, s.n_probes,
           CAST(SUM(CASE WHEN h.set_bits = h.probe_bits THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           round(CAST(SUM(CASE WHEN h.set_bits = h.probe_bits
                          THEN 1 ELSE 0 END) AS DOUBLE) / s.n_probes, 6)
             AS fpr_measured,
           round(power(1 - exp(-{BLOOM_K}.0 * s.n_members / h.m),
                       {BLOOM_K}), 6) AS fpr_theory
    FROM hits h, sizes s
    GROUP BY 1, 2, 3, 4 ORDER BY 1
    """,
)
def sketch_bloom_fpr_measured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-built Bloom filter FPR, measured vs theory for two sizes
    (see block comment)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    members = orders.select(F.col("o_custkey").alias("k")).distinct()
    probes = cust.select((F.col("c_custkey") + 10000000).alias("k"))
    cfg = spark.createDataFrame([(m,) for m in BLOOM_SIZES], "m bigint")
    i = spark.range(BLOOM_K).select(F.col("id").alias("i"))
    pos = F.expr("cast(conv(substring(md5(concat(cast(k as string), '#',"
                 " cast(i as string))), 1, 8), 16, 10) as bigint) % m")
    member_bits = (members.crossJoin(F.broadcast(cfg))
                   .crossJoin(F.broadcast(i))
                   .select("m", pos.alias("pos")).distinct())
    probe_bits = (probes.crossJoin(F.broadcast(cfg))
                  .crossJoin(F.broadcast(i))
                  .select("m", "k", pos.alias("pos")))
    hits = (probe_bits.join(member_bits.withColumn("hit", F.lit(1)),
                            ["m", "pos"], "left")
            .groupBy("m", "k")
            .agg(F.count_distinct(F.when(F.col("hit").isNotNull(),
                                         F.col("pos")))
                 .cast("bigint").alias("set_bits"),
                 F.count_distinct("pos").cast("bigint").alias("probe_bits")))
    sizes = (members.agg(F.count("*").cast("bigint").alias("n_members"))
             .crossJoin(probes.agg(F.count("*").cast("bigint")
                                   .alias("n_probes"))))
    fp = F.sum(F.when(F.col("set_bits") == F.col("probe_bits"), 1)
               .otherwise(0)).cast("bigint")
    agged = (hits.crossJoin(F.broadcast(sizes))
             .groupBy(F.col("m").alias("m_bits"),
                      F.lit(BLOOM_K).cast("bigint").alias("k_hashes"),
                      "n_members", "n_probes")
             .agg(fp.alias("n_false_positive")))
    return (agged.select(
        "m_bits", "k_hashes", "n_members", "n_probes", "n_false_positive",
        F.round(F.col("n_false_positive").cast("double")
                / F.col("n_probes"), 6).alias("fpr_measured"),
        F.round(F.pow(F.lit(1.0)
                      - F.exp(-float(BLOOM_K)
                              * F.col("n_members").cast("double")
                              / F.col("m_bits")),
                      float(BLOOM_K)), 6).alias("fpr_theory"))
        .orderBy("m_bits"))


# ---------------------------------------------------------------------------
# Table-stats NDV collection audit (r10) — the ANALYZE TABLE pass a
# lakehouse catalog runs to feed the optimizer: per column, the exact
# distinct count next to the 512-register HLL estimate (with the
# standard small-range linear-counting correction) and the resulting
# error in ppm. This is the operational readout for "can the sketch
# replace the exact scan for stats collection" — per column, not per
# corpus, because NDV regimes differ wildly (keys ~ n, enums ~ 3).
# One generator emits the identical per-column register pipeline for
# both engines; every compare boundary is the HLL-registers query's
# proven integer rank/Z arithmetic.
# ---------------------------------------------------------------------------

NDV_AUDIT_COLS = ("o_custkey", "o_orderpriority", "o_orderstatus")


def _ndv_audit_oracle() -> str:
    blocks = []
    for col in NDV_AUDIT_COLS:
        blocks.append(f"""
    SELECT '{col}' AS col_name, e.exact_ndv, z.zero_regs,
           round(CASE WHEN z.zero_regs > 0
                 THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / z.zero_regs)
                 ELSE (0.7213 / (1 + 1.079 / {HLL_M})) * {HLL_M} * {HLL_M}
                      / (CAST(z.z_int AS DOUBLE)
                         / (CAST(1 AS BIGINT) << {HLL_RHO_CAP}))
                 END, 6) AS est_ndv
    FROM (
      SELECT CAST(SUM(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - reg))
                  AS BIGINT) AS z_int,
             CAST(SUM(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_regs
      FROM (
        SELECT g.b AS bucket, CAST(COALESCE(MAX(r.r), 0) AS BIGINT) AS reg
        FROM UNNEST(generate_series(0, {HLL_M - 1})) AS g(b)
        LEFT JOIN (
          SELECT h % {HLL_M} AS bucket,
                 CASE WHEN h // {HLL_M} = 0 THEN {HLL_RHO_CAP}
                      ELSE bit_count(CAST(((h // {HLL_M})
                                           & -(h // {HLL_M})) - 1
                                          AS BIGINT)) + 1 END AS r
          FROM (SELECT DISTINCT
                       ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1,
                                       {KMV_HEX}))::BIGINT AS h
                FROM orders)
        ) r ON r.bucket = g.b
        GROUP BY 1
      )
    ) z,
    (SELECT CAST(COUNT(DISTINCT {col}) AS BIGINT) AS exact_ndv
     FROM orders) e"""
        )
    union = " UNION ALL ".join(blocks)
    return f"""
    SELECT col_name, exact_ndv, zero_regs, est_ndv,
           CAST(floor(ABS(est_ndv - exact_ndv)
                      / CAST(exact_ndv AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS err_ppm
    FROM ({union}) ORDER BY col_name
    """


@query("lake_ndv_stats_audit", oracle=_ndv_audit_oracle())
def lake_ndv_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column exact-vs-HLL NDV audit over orders (see block
    comment)."""
    orders = load_table(spark, sf_dir, "orders")
    outs = []
    for col in NDV_AUDIT_COLS:
        hashed = orders.select(F.expr(
            f"cast(conv(substring(md5(cast({col} as string)), 1,"
            f" {KMV_HEX}), 16, 10) as bigint)").alias("h")).distinct()
        rho = hashed.select(
            (F.col("h") % HLL_M).alias("bucket"),
            F.expr(f"h div {HLL_M}").alias("w")).select(
            "bucket",
            F.when(F.col("w") == 0, F.lit(HLL_RHO_CAP))
            .otherwise(F.expr("bit_count((w & -w) - 1) + 1")).alias("r"))
        grid = spark.range(HLL_M).select(F.col("id").alias("bucket"))
        regs = (grid.join(rho, "bucket", "left")
                .groupBy("bucket")
                .agg(F.coalesce(F.max("r"), F.lit(0)).cast("bigint")
                     .alias("reg")))
        zsum = regs.agg(
            F.sum(F.expr(f"shiftleft(cast(1 as bigint),"
                         f" {HLL_RHO_CAP} - cast(reg as int))"))
            .cast("bigint").alias("z_int"),
            F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
            .cast("bigint").alias("zero_regs"))
        exact = orders.agg(F.count_distinct(col).cast("bigint")
                           .alias("exact_ndv"))
        alpha = 0.7213 / (1 + 1.079 / HLL_M)
        z = F.col("z_int").cast("double") / float(1 << HLL_RHO_CAP)
        est = F.round(
            F.when(F.col("zero_regs") > 0,
                   F.lit(float(HLL_M))
                   * F.log(F.lit(float(HLL_M)) / F.col("zero_regs")))
            .otherwise(F.lit(alpha) * HLL_M * HLL_M / z), 6)
        outs.append(
            zsum.crossJoin(F.broadcast(exact))
            .select(F.lit(col).alias("col_name"), "exact_ndv",
                    "zero_regs", est.alias("est_ndv")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "col_name", "exact_ndv", "zero_regs", "est_ndv",
        F.floor(F.abs(F.col("est_ndv") - F.col("exact_ndv"))
                / F.col("exact_ndv").cast("double") * F.lit(1000000.0)
                + F.lit(0.5)).cast("bigint").alias("err_ppm")
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# AMS tug-of-war F2 sketch (r11; Alon-Matias-Szegedy 1996) — the
# second-moment estimator missing from the CM/KMV/HLL/Bloom family:
# K sign projections Z_j = sum_x s(x, j) * f_x, each Z_j^2 an unbiased
# F2 estimate; the classic readout is median-of-means (4 groups of 4).
# The join-size estimator (sketch_join_size_estimate) is this
# statistic's bilinear form — this audit measures the quadratic form
# against EXACT F2 on user event counts.  EXACTNESS: signs come from
# bit 16 of a 32-bit Knuth mix (engine-identical integer ops; the low
# bit would correlate with user parity), Z_j and F2 are exact BIGINTs,
# the median of the 4 group means is the average of the two middle
# values — everything stays a x8 integer until the one quantized
# readout.  SCALE: one (user, j) keyed aggregation, K = 16 constant.
# ---------------------------------------------------------------------------

AMS_K = 16


@query(
    "sketch_ams_f2",
    oracle=f"""
    WITH f AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events
      GROUP BY 1
    ),
    z AS (
      SELECT j.j,
             CAST(SUM((1 - 2 * (('0x' || substr(md5(user_id || '-' || j.j),
                                               1, 1))::BIGINT % 2)) * c)
               AS BIGINT) AS zj
      FROM f, UNNEST(generate_series(0, {AMS_K - 1})) AS j(j)
      GROUP BY 1
    ),
    grp AS (
      SELECT j // 4 AS g, CAST(SUM(zj * zj) AS BIGINT) AS s4
      FROM z GROUP BY 1
    ),
    med AS (
      SELECT s4, row_number() OVER (ORDER BY s4, g) AS rk FROM grp
    ),
    est AS (
      -- median of 4 group means: (2nd + 3rd) / 2 of the s4/4 values
      -- kept integer as x8: (s4_rk2 + s4_rk3)
      SELECT CAST(SUM(CASE WHEN rk IN (2, 3) THEN s4 ELSE 0 END)
                AS BIGINT) AS mom_x8
      FROM med
    ),
    truth AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2 FROM f)
    SELECT t.f2 AS f2_exact, e.mom_x8,
           CAST(CAST(floor(CAST(e.mom_x8 AS DOUBLE) / 8 / t.f2
                           * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS est_over_exact
    FROM est e, truth t
    """,
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS median-of-means F2 estimate vs exact second moment of user
    event counts (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("c"))
    z = (f.select("user_id", "c",
                  F.explode(F.sequence(F.lit(0), F.lit(AMS_K - 1)))
                  .alias("j"))
         .groupBy("j")
         .agg(F.sum((1 - 2 * (F.expr(
             "cast(conv(substring(md5(concat(cast(user_id as string),"
             " '-', cast(j as string))), 1, 1), 16, 10) as bigint) % 2")))
             * F.col("c"))
             .cast("bigint").alias("zj")))
    grp = (z.groupBy(F.expr("j div 4").alias("g"))
           .agg(F.sum(F.col("zj") * F.col("zj")).cast("bigint")
                .alias("s4")))
    med = grp.select(
        "s4", F.row_number().over(Window.orderBy("s4", "g")).alias("rk"))
    est = med.agg(
        F.sum(F.when(F.col("rk").isin(2, 3), F.col("s4")).otherwise(0))
        .cast("bigint").alias("mom_x8"))
    truth = f.agg(F.sum(F.col("c") * F.col("c")).cast("bigint")
                  .alias("f2"))
    return (est.crossJoin(F.broadcast(truth))
            .select(F.col("f2").alias("f2_exact"), "mom_x8",
                    (F.floor(F.col("mom_x8").cast("double") / 8
                             / F.col("f2") * F.lit(1000000.0)
                             + F.lit(0.5))
                     .cast("bigint").cast("double") / F.lit(1000000.0))
                    .alias("est_over_exact")))


# ---------------------------------------------------------------------------
# Count-Sketch (r12) — Charikar, Chen & Farach-Colton 2002: the SIGNED
# sibling of Count-Min.  Each of d=5 rows hashes a token to one of
# w=512 buckets AND flips a +-1 sign, so colliding tokens cancel in
# expectation instead of stacking — the estimate is UNBIASED (errors go
# both ways) where CM only overestimates; the price is variance, which
# the median over the 5 rows controls.  Same 20-token audit surface as
# sketch_countmin_freq_audit so the two error profiles are directly
# comparable (one-sided overestimate vs two-sided signed error).
#
# Hashing: one md5 per (seed, token) supplies both the bucket (first 15
# hex chars % 512) and the sign (16th hex char % 2 -> +-1) — the same
# split-one-digest trick as the AMS F2 sketch above (Count-Sketch IS
# the per-key readout of the AMS construction).  EXACTNESS: cells and
# estimates are exact BIGINTs; the median of 5 is the rank-3 order
# statistic with (estimate, seed) tiebreak — no averaging, no floats.
# SCALE: grid build is one groupBy to d*w = 2560 cells; the audit joins
# 20 probe tokens x 5 seeds against the broadcast grid.
# ---------------------------------------------------------------------------

CS_DEPTH = 5      # independent signed rows (odd -> clean median)
CS_WIDTH = 512    # buckets per row


def _cs_bucket_duck(seed: str, token: str) -> str:
    return (f"('0x' || substr(md5({seed} || ':' || {token}), 1, 15))"
            f"::BIGINT % {CS_WIDTH}")


def _cs_sign_duck(seed: str, token: str) -> str:
    return (f"(1 - 2 * (('0x' || substr(md5({seed} || ':' || {token}),"
            f" 16, 1))::BIGINT % 2))")


@query(
    "sketch_count_sketch",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY token
    ),
    seeds AS (SELECT unnest(generate_series(0, {CS_DEPTH - 1})) AS seed),
    cells AS (
      SELECT s.seed,
             {_cs_bucket_duck('s.seed', 'e.token')} AS bucket,
             CAST(SUM({_cs_sign_duck('s.seed', 'e.token')}
                      * e.exact_cnt) AS BIGINT) AS cell_val
      FROM exact e, seeds s
      GROUP BY 1, 2
    ),
    top AS (
      SELECT token, exact_cnt
      FROM exact
      ORDER BY exact_cnt DESC, token
      LIMIT {CM_TOPK}
    ),
    est AS (
      SELECT t.token, t.exact_cnt,
             {_cs_sign_duck('s.seed', 't.token')} * c.cell_val AS est,
             s.seed
      FROM top t
      JOIN seeds s ON TRUE
      JOIN cells c
        ON c.seed = s.seed
       AND c.bucket = {_cs_bucket_duck('s.seed', 't.token')}
    ),
    med AS (
      SELECT token, exact_cnt, est,
             row_number() OVER (PARTITION BY token
                                ORDER BY est, seed) AS rk
      FROM est
    )
    SELECT token, exact_cnt,
           CAST(est AS BIGINT) AS cs_estimate,
           CAST(est - exact_cnt AS BIGINT) AS signed_err
    FROM med WHERE rk = {(CS_DEPTH + 1) // 2}
    """,
)
def sketch_count_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch (5x512, signed) with a median-of-rows top-20 token
    audit against exact counts (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    seeds = spark.range(CS_DEPTH).withColumnRenamed("id", "seed")
    bucket = F.expr(
        f"cast(conv(substring(md5(concat(cast(seed as string), ':',"
        f" token)), 1, 15), 16, 10) as bigint) % {CS_WIDTH}")
    sign = F.expr(
        f"1 - 2 * (cast(conv(substring(md5(concat(cast(seed as string),"
        f" ':', token)), 16, 1), 16, 10) as bigint) % 2)")
    exact = (docs.select(F.explode(F.split("text", " ")).alias("token"))
             .groupBy("token")
             .agg(F.count("*").cast("bigint").alias("exact_cnt")))
    cells = (exact.crossJoin(F.broadcast(seeds))
             .groupBy("seed", bucket.alias("bucket"))
             .agg(F.sum(sign * F.col("exact_cnt")).cast("bigint")
                  .alias("cell_val")))
    top = (exact.orderBy(F.desc("exact_cnt"), F.asc("token"))
           .limit(CM_TOPK))
    probes = (top.crossJoin(F.broadcast(seeds))
              .select("token", "exact_cnt", "seed",
                      bucket.alias("bucket"), sign.alias("s")))
    est = (probes.join(F.broadcast(cells), ["seed", "bucket"])
           .select("token", "exact_cnt", "seed",
                   (F.col("s") * F.col("cell_val")).alias("est")))
    med = est.select(
        "token", "exact_cnt", "est",
        F.row_number().over(Window.partitionBy("token")
                            .orderBy("est", "seed")).alias("rk"))
    return (med.filter(F.col("rk") == (CS_DEPTH + 1) // 2)
            .select("token", "exact_cnt",
                    F.col("est").cast("bigint").alias("cs_estimate"),
                    (F.col("est") - F.col("exact_cnt")).cast("bigint")
                    .alias("signed_err")))
