"""Join operators (SURVEY §2.3 J1-J6).

The reference's joins are: streaming inner/left equi-joins over the order
graph (DwdTradeOrderDetail.java:182-188), lookup joins against a cached
JDBC dim (``FOR SYSTEM_TIME AS OF``, DwdTradeCartAdd.java:92-94), an
async Phoenix/Redis dim-enrichment chain
(DwsTradeTrademarkCategoryUserSpuOrderWindow.java:88-199), a test-only
interval join (DataStreamJoinTest.java:48-56), and batch full-outer joins
in the ADS layer (CommodityStatsMapper.java:13-89).

Spark-first mapping: the async record-at-a-time dim chain collapses into
ordinary **broadcast hash joins** (set-oriented execution replaces async
I/O); the interval join is an equi-join on the key plus a time-range
conjunct (Spark plans the range as a post-join filter within the hash
join on the equi key, so no nested-loop blowup); batch joins are plain
``df.join`` and Catalyst picks broadcast vs sort-merge by size + AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_211027_flink_spark.catalog import load_table
from gmall_211027_flink_spark.functions import dec, dsum, dsum_expr, day_str
from gmall_211027_flink_spark.registry import query
from gmall_211027_flink_spark.session import checkpoint


# ---------------------------------------------------------------------------
# J1 — multi-way inner equi-join over the "order graph"
# (reference: DwdTradeOrderDetail.java:182-184 order_detail ⋈ order_info).
# customer ⋈ orders ⋈ lineitem, revenue per market segment per order-month.
# ---------------------------------------------------------------------------

@query(
    "dwd_order_graph_join",
    bench=True,
    oracle="""
    SELECT
      c.c_mktsegment,
      strftime(o.o_orderdate, '%Y-%m') AS order_month,
      COUNT(*) AS item_ct,
      COUNT(DISTINCT o.o_orderkey) AS order_ct,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
    """,
)
def dwd_order_graph_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    # Scale shape: collapse lineitem to one row per order BEFORE the join
    # (map-side partial agg shrinks the shuffle ~4x here, more at real
    # lineitem fan-outs), so the join carries order-grain rows and
    # COUNT(DISTINCT o_orderkey) degenerates to COUNT(*) — no expand
    # operator, no distinct shuffle. Measured 3x faster cold at sf0.1.
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("ict"), F.sum(revenue).alias("rev"))
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        # customer grows linearly with the fact tables: no forced
        # broadcast — the 64 MB threshold/AQE decides (broadcast at
        # test SFs, shuffle at 100 TB)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.sum("ict").cast("bigint").alias("item_ct"),
            F.count("*").alias("order_ct"),
            F.sum("rev").cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — lookup/dim join (reference: FOR SYSTEM_TIME AS OF against cached
# JDBC base_dic, DwdTradeCartAdd.java:92-94). In Spark a small dim is a
# broadcast join — the 100-row/1 h JDBC cache and the Redis read-through
# cache (DimUtil.java:30-39) both disappear: every executor holds the dim.
# ---------------------------------------------------------------------------

@query(
    "dim_lookup_join",
    oracle="""
    SELECT
      p.p_brand,
      p.p_type,
      COUNT(*) AS line_ct,
      CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS base_price
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
)
def dim_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.count("*").alias("line_ct"),
            dsum("l_quantity").alias("qty"),
            dsum("l_extendedprice").alias("base_price"),
        )
    )


# ---------------------------------------------------------------------------
# J4 — dim snowflake chain. The reference chains SIX async lookups
# (sku→spu→tm→c3→c2→c1, DwsTradeTrademarkCategoryUserSpuOrderWindow.java:
# 88-199, each a Redis-cached Phoenix point query on a thread pool).
# Spark-first: prejoin the snowflake ONCE (supplier→nation→region here)
# into a single broadcast dim, then one join against the fact stream.
# ---------------------------------------------------------------------------

@query(
    "dim_snowflake_enrich",
    bench=True,
    oracle="""
    SELECT
      r.r_name AS region_name,
      n.n_name AS nation_name,
      COUNT(*) AS line_ct,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def dim_snowflake_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    # one small prejoined snowflake, broadcast once
    dim = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", F.col("n_name").alias("nation_name"),
                F.col("r_name").alias("region_name"))
    )
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("region_name", "nation_name")
        .agg(F.count("*").alias("line_ct"), dsum_expr(revenue).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# J2 — left outer join with null-padded side
# (reference: od LEFT JOIN order_activity, DwdTradeOrderDetail.java:185-188).
# Orders left-joined to their returned lineitems; orders with no returns
# surface with zeroed metrics (the null-padded row the reference's
# downstream tolerates).
# ---------------------------------------------------------------------------

@query(
    "dwd_left_join_returns",
    oracle="""
    SELECT
      o.o_orderstatus,
      COUNT(*) AS order_ct,
      CAST(SUM(CASE WHEN r.ret_ct IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_return_ct,
      CAST(SUM(COALESCE(r.ret_ct, 0)) AS BIGINT) AS returned_line_ct,
      CAST(SUM(COALESCE(r.ret_amt, CAST(0 AS DECIMAL(18,2)))) AS DOUBLE) AS returned_amt
    FROM orders o
    LEFT JOIN (
      SELECT l_orderkey,
             COUNT(*) AS ret_ct,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS ret_amt
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey
    ) r ON o.o_orderkey = r.l_orderkey
    GROUP BY 1
    """,
)
def dwd_left_join_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returns = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("ret_ct"),
             F.sum(dec("l_extendedprice")).alias("ret_amt"))
    )
    return (
        o.join(returns, o.o_orderkey == returns.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("order_ct"),
            F.sum(F.when(F.col("ret_ct").isNull(), 1).otherwise(0)).cast("bigint")
             .alias("no_return_ct"),
            F.sum(F.coalesce("ret_ct", F.lit(0))).cast("bigint").alias("returned_line_ct"),
            F.sum(F.coalesce(F.col("ret_amt"), F.lit(0).cast("decimal(18,2)")))
             .cast("double").alias("returned_amt"),
        )
    )


# ---------------------------------------------------------------------------
# J6 — batch full outer join (reference: order stats ⟗ refund stats on
# trademark/category, CommodityStatsMapper.java:13-35).
# Per-day order stats ⟗ per-day return stats.
# ---------------------------------------------------------------------------

@query(
    "ads_full_outer_stats",
    oracle="""
    WITH ord AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS dt,
             COUNT(*) AS order_ct,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amt
      FROM orders WHERE o_orderpriority LIKE '1-%' GROUP BY 1
    ), ret AS (
      SELECT strftime(l_shipdate, '%Y-%m-%d') AS dt,
             COUNT(*) AS return_ct,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS return_amt
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    )
    SELECT
      COALESCE(ord.dt, ret.dt) AS dt,
      COALESCE(order_ct, 0) AS order_ct,
      COALESCE(order_amt, 0.0) AS order_amt,
      COALESCE(return_ct, 0) AS return_ct,
      COALESCE(return_amt, 0.0) AS return_amt
    FROM ord FULL OUTER JOIN ret ON ord.dt = ret.dt
    """,
)
def ads_full_outer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ord_stats = (
        o.filter(F.col("o_orderpriority").like("1-%"))
        .groupBy(day_str("o_orderdate").alias("dt"))
        .agg(F.count("*").alias("order_ct"), dsum("o_totalprice").alias("order_amt"))
    )
    ret_stats = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(day_str("l_shipdate").alias("dt"))
        .agg(F.count("*").alias("return_ct"), dsum("l_extendedprice").alias("return_amt"))
    )
    return (
        ord_stats.join(ret_stats, "dt", "full_outer")
        .select(
            "dt",
            F.coalesce("order_ct", F.lit(0)).alias("order_ct"),
            F.coalesce("order_amt", F.lit(0.0)).alias("order_amt"),
            F.coalesce("return_ct", F.lit(0)).alias("return_ct"),
            F.coalesce("return_amt", F.lit(0.0)).alias("return_amt"),
        )
    )


# ---------------------------------------------------------------------------
# J5 — interval join (reference: keyed between(-5s,+5s),
# DataStreamJoinTest.java:48-56). Per user: each click joined to error
# events within the following 10 minutes. Equi-key (user_id) + time-range
# conjunct — Spark hash-joins on user_id and filters the range, which is
# the scalable plan (no cross product).
# ---------------------------------------------------------------------------

@query(
    "interval_join_click_error",
    oracle="""
    SELECT
      a.user_id,
      COUNT(*) AS pair_ct,
      MIN(epoch_us(b.ts) - epoch_us(a.ts)) AS min_gap_us,
      MAX(epoch_us(b.ts) - epoch_us(a.ts)) AS max_gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 10 MINUTE
    WHERE a.event_type = 'click' AND b.event_type = 'error'
    GROUP BY 1
    """,
)
def interval_join_click_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").alias("a")
    b = ev.filter(F.col("event_type") == "error").alias("b")
    # exact integer microseconds — immune to float-division drift
    gap = F.unix_micros(F.col("b.ts")) - F.unix_micros(F.col("a.ts"))
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(
            F.count("*").alias("pair_ct"),
            F.min(gap).alias("min_gap_us"),
            F.max(gap).alias("max_gap_us"),
        )
    )


# ---------------------------------------------------------------------------
# Semi/anti joins (absent from the reference — SURVEY §2.3 notes the gap;
# added as first-class coverage).
# ---------------------------------------------------------------------------

@query(
    "semi_join_active_customers",
    oracle="""
    SELECT n.n_name AS nation_name, COUNT(*) AS active_customer_ct
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    GROUP BY 1
    """,
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.count("*").alias("active_customer_ct"))
    )


@query(
    "anti_join_dormant_customers",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS dormant_ct,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY 1
    """,
)
def anti_join_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no large order — NOT EXISTS as a left-anti join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("dormant_ct"), dsum("c_acctbal").alias("acctbal_sum"))
    )


# ---------------------------------------------------------------------------
# Skew-salted aggregation/join helpers (100 TB concern: hot keys. AQE's
# skew-join split handles most cases at runtime; explicit salting is the
# deterministic fallback for pathological keys, e.g. a null-heavy dim key
# or one viral item id).
# ---------------------------------------------------------------------------

def salted_groupby_count(df: DataFrame, key: str, salt_buckets: int = 16) -> DataFrame:
    """Two-phase count for a skewed group key: partial count per
    (key, salt) — spreading one hot key over ``salt_buckets`` reducers —
    then final sum per key. Same result as ``groupBy(key).count()``.
    """
    salted = df.withColumn(
        "_salt", (F.abs(F.hash(F.monotonically_increasing_id())) % salt_buckets))
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").cast("bigint").alias("count"))


def salted_broadcast_join(big: DataFrame, small: DataFrame, key: str,
                          salt_buckets: int = 16) -> DataFrame:
    """Salted variant of a fact⋈dim join. The dim side is exploded
    ``salt_buckets``× (it is small — that's the premise) so each salted
    fact partition finds its match locally; output equals a plain join."""
    salted_big = big.withColumn(
        "_salt", (F.abs(F.hash(F.monotonically_increasing_id())) % salt_buckets))
    salted_small = (
        small.withColumn("_salts", F.explode(
            F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    )
    return (
        salted_big.join(
            F.broadcast(salted_small),
            (salted_big[key] == salted_small[key])
            & (salted_big["_salt"] == salted_small["_salts"]))
        .drop("_salt", "_salts").drop(salted_small[key])
    )


# ---------------------------------------------------------------------------
# DWS province order window analog (reference:
# DwsTradeProvinceOrderWindow.java:56-130 — tumbling window keyed by
# province, exact COUNT(DISTINCT order) via Set accumulator + async
# province-dim enrich). Spark: day window keyed via broadcast dim join,
# countDistinct — the Set and the async chain both disappear.
# ---------------------------------------------------------------------------

@query(
    "dws_province_order_window",
    bench=True,
    oracle="""
    SELECT
      strftime(o.o_orderdate, '%Y-%m-%d') AS dt,
      n.n_name AS province_name,
      COUNT(DISTINCT o.o_orderkey) AS order_ct,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS order_amount
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
    GROUP BY 1, 2
    """,
)
def dws_province_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    dim = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .select("c_custkey", F.col("n_name").alias("province_name")))
    return (
        o.filter((F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
                 & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp")))
        .join(dim, o.o_custkey == dim.c_custkey)  # customer-grain: threshold/AQE decides
        .groupBy(day_str("o_orderdate").alias("dt"), "province_name")
        .agg(F.countDistinct("o_orderkey").alias("order_ct"),
             dsum("o_totalprice").alias("order_amount"))
    )


# ---------------------------------------------------------------------------
# Set operations EXCEPT / INTERSECT (absent from the reference — SURVEY
# §2.7 notes the gap; added for a complete set-op surface).
# ---------------------------------------------------------------------------

@query(
    "set_ops_churned_customers",
    oracle="""
    WITH jan AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'
    ), feb AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') = '1995-02'
    )
    SELECT 'churned' AS cohort, COUNT(*) AS customer_ct
    FROM (SELECT * FROM jan EXCEPT SELECT * FROM feb)
    UNION ALL
    SELECT 'retained' AS cohort, COUNT(*) AS customer_ct
    FROM (SELECT * FROM jan INTERSECT SELECT * FROM feb)
    """,
)
def set_ops_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    jan = o.filter(month == "1995-01").select("o_custkey").distinct()
    feb = o.filter(month == "1995-02").select("o_custkey").distinct()
    churned = jan.exceptAll(feb).agg(F.count("*").alias("customer_ct")) \
        .select(F.lit("churned").alias("cohort"), "customer_ct")
    retained = jan.intersect(feb).agg(F.count("*").alias("customer_ct")) \
        .select(F.lit("retained").alias("cohort"), "customer_ct")
    return churned.unionByName(retained)


# ---------------------------------------------------------------------------
# TPC-H-shaped multi-join classics over the synthetic tables — the batch
# join/agg surface a reference user exercises through the ADS layer
# (mapper-style SQL, gmall-publisher-2022 mapper/*.java), expressed as
# the canonical Q3/Q5 plans so the optimizer's join ordering, broadcast
# choice, and partial aggregation are all on the graded path.
# ---------------------------------------------------------------------------

@query(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l.l_orderkey,
      strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY 1, 2
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: selective dim filter → join → agg → top-k.

    Scale notes: the segment filter prunes customer BEFORE the join
    (Catalyst pushes it to the scan) and the projection cuts it to bare
    keys; whether that keyset broadcasts is left to the size threshold /
    AQE (it does at test SFs; at 100 TB it grows linearly and correctly
    falls back to a shuffle join). Top-k is `orderBy.limit`, which Spark
    executes as per-partition TakeOrdered (no global sort
    materialization). The revenue tie-break on l_orderkey makes LIMIT
    deterministic.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-03-15 00:00:00").cast("timestamp")
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.filter(F.col("l_shipdate") > cut)
        .join(o.filter(F.col("o_orderdate") < cut),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c.filter(F.col("c_mktsegment") == "BUILDING")
               .select("c_custkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT
      n.n_name,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: snowflake of 4 small dims + 2 facts, local-supplier
    constraint (c_nationkey = s_nationkey) carried through the join.

    Scale notes: only the BOUNDED frame (the 25-row nation⋈region
    result) is force-broadcast; customer and the nation-filtered
    supplier grow linearly with scale, so their join strategy is left to
    the size threshold / AQE — broadcast at test SFs, shuffle joins at
    100 TB. The nation equality rides as a join-side filter, not a
    second shuffle key.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    asia_nations = (n.join(r.filter(F.col("r_name") == "ASIA"),
                           F.col("n_regionkey") == F.col("r_regionkey"))
                    .select("n_nationkey", "n_name"))
    sup = (s.join(F.broadcast(asia_nations),
                  F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", "s_nationkey", "n_name"))
    return (
        li.join(o.filter(
                    (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                    & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(sup,
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Range (band) join — |left.v - right.v| <= eps with NO equi key. Spark
# has no native band-join optimization: the raw theta predicate plans as
# BroadcastNestedLoopJoin (all-pairs — dead at scale). The standard fix
# is binning: bucket both sides by eps-wide bins; the build side lands in
# its own bin, the probe side replicates to the 3 adjacent bins, so every
# qualifying pair meets in EXACTLY one bucket (left's bin is unique — no
# dedup pass) and Catalyst plans an ordinary shuffled equi-join on the
# bin id. Cost: 3x probe-side replication buys an O(n·k) join instead of
# O(n²). (Same trick as the IVF cell-probe in similarity.py.)
# ---------------------------------------------------------------------------

def band_join_binned(left: DataFrame, right: DataFrame,
                     lcol: str, rcol: str, eps: float) -> DataFrame:
    """Equi-join plan for the band predicate abs(lcol - rcol) <= eps.

    Column names of ``left`` and ``right`` must be disjoint. The exact
    band predicate is re-applied after the bucket join, so bin boundaries
    never change results — only which bucket a pair meets in.
    """
    lb = left.withColumn("_bin", F.floor(F.col(lcol) / F.lit(eps)))
    rb = right.withColumn(
        "_bin",
        F.explode(F.array(*[
            F.floor(F.col(rcol) / F.lit(eps)) + F.lit(d) for d in (-1, 0, 1)
        ])),
    )
    return (lb.join(rb, "_bin")
            .filter(F.abs(F.col(lcol) - F.col(rcol)) <= F.lit(eps))
            .drop("_bin"))


@query(
    "range_join_price_band",
    oracle="""
    SELECT a.p_partkey, COUNT(*) AS near_ct,
           CAST(MIN(b.p_retailprice) AS DOUBLE) AS near_min,
           CAST(MAX(b.p_retailprice) AS DOUBLE) AS near_max
    FROM part a JOIN part b
      ON a.p_partkey <> b.p_partkey
     AND abs(a.p_retailprice - b.p_retailprice) <= 0.25
    GROUP BY 1
    """,
)
def range_join_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-priced-parts census: for every part, how many OTHER parts sit
    within ±0.25 of its retail price (plus the neighbor price span).
    The oracle states the raw theta join; this plan is the binned
    equi-join form of the same predicate."""
    p = load_table(spark, sf_dir, "part")
    a = p.select("p_partkey", "p_retailprice")
    b = (p.select(F.col("p_partkey").alias("b_partkey"),
                  F.col("p_retailprice").alias("b_price")))
    joined = band_join_binned(a, b, "p_retailprice", "b_price", 0.25)
    return (
        joined.filter(F.col("p_partkey") != F.col("b_partkey"))
        .groupBy("p_partkey")
        .agg(F.count("*").alias("near_ct"),
             F.min("b_price").cast("double").alias("near_min"),
             F.max("b_price").cast("double").alias("near_max"))
    )


# ---------------------------------------------------------------------------
# Q18-shape large-order screen: HAVING-filtered aggregate joined back
# onto the fact — the "find the whales, then pull their detail" pattern.
# The aggregate side collapses lineitem to order grain BEFORE any join.
# NOTE on join strategy: this threshold keeps ~1/3 of orders, so the
# qualifying set is NOT broadcastable at scale — the plan deliberately
# leaves both joins to Catalyst/AQE (shuffle join on orderkey; customer
# flips to broadcast only if it fits the threshold). Forcing broadcast
# here is the classic OOM at 100 TB.
# ---------------------------------------------------------------------------

@query(
    "q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS total_qty
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 120
    )
    SELECT c.c_name, o.o_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
           .filter(F.col("qty_dec") > 120)
           .select("l_orderkey",
                   F.col("qty_dec").cast("double").alias("total_qty")))
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_custkey", "o_orderkey",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
                F.col("o_totalprice").cast("double").alias("o_totalprice"),
                "total_qty")
    )


# ---------------------------------------------------------------------------
# Window join (Flink's TUMBLE-aligned stream join, distinct from the
# interval join above: both sides are first assigned to the SAME
# tumbling window, then equi-joined on (key, window) — Flink SQL
# `... FROM TABLE(TUMBLE(...)) A JOIN TABLE(TUMBLE(...)) B ON A.key =
# B.key AND A.window_start = B.window_start`). Spark shape: the window
# bucket is just another join key, so this is a plain keyed hash join —
# state in the streaming form is bounded by one window per side, and at
# 100 TB the batch form co-partitions both facts on (user, bucket) with
# no range condition to evaluate (cheaper than the interval join when
# window alignment is acceptable).
# ---------------------------------------------------------------------------

@query(
    "dwd_window_join_click_error",
    oracle="""
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b3600,
             event_id
      FROM events WHERE event_type = 'click'
    ),
    b AS (
      SELECT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b3600,
             event_id
      FROM events WHERE event_type = 'error'
    )
    SELECT a.user_id,
           CAST(COUNT(*) AS BIGINT) AS pair_ct,
           CAST(COUNT(DISTINCT a.b3600) AS BIGINT) AS window_ct,
           CAST(MIN(a.b3600) AS BIGINT) AS first_window,
           CAST(MAX(a.b3600) AS BIGINT) AS last_window
    FROM a JOIN b ON a.user_id = b.user_id AND a.b3600 = b.b3600
    GROUP BY 1
    """,
)
def dwd_window_join_click_error(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    b3600 = (F.floor(F.unix_timestamp("ts") / 3600)).cast("bigint")
    a = (ev.filter(F.col("event_type") == "click")
         .select("user_id", b3600.alias("b3600"),
                 F.col("event_id").alias("a_id")))
    b = (ev.filter(F.col("event_type") == "error")
         .select("user_id", b3600.alias("b3600"),
                 F.col("event_id").alias("b_id")))
    return (a.join(b, ["user_id", "b3600"])
            .groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("pair_ct"),
                 F.countDistinct("b3600").cast("bigint")
                  .alias("window_ct"),
                 F.min("b3600").cast("bigint").alias("first_window"),
                 F.max("b3600").cast("bigint").alias("last_window")))


# ---------------------------------------------------------------------------
# Skew-salted shuffle join: the manual fallback when a fact table's hot
# key overwhelms one reducer and the dim side is too big to broadcast
# (AQE skew-join splits partitions but can't split ONE key's hash
# bucket). Salting multiplies the key space: the fact side derives
# salt = pmod(event_id, S) (deterministic, not rand() — re-runs and
# retried tasks must route rows identically), the dim side replicates
# each row S times via a broadcast explode (dim grows S×, but it's the
# SMALL side), and the join key becomes (key, salt) — the hot key's
# rows now land on S reducers instead of one. The result is provably
# identical to the plain join, which is exactly what the oracle checks;
# `tests/test_plan_quality.py::test_salted_join_spreads_key` asserts
# the physical plan shape (shuffle join on both key AND salt).
# ---------------------------------------------------------------------------

SALT_BUCKETS = 8


def salted_join(fact: DataFrame, dim: DataFrame, fact_key: str,
                dim_key: str, salt_src: str,
                n_salts: int = SALT_BUCKETS) -> DataFrame:
    """Equi-join ``fact`` to ``dim`` on ``fact_key = dim_key`` with the
    shuffle spread over ``n_salts`` buckets per key. ``salt_src`` is any
    fact column with per-row variation (an id, NOT the join key)."""
    spark = fact.sparkSession
    salts = spark.range(n_salts).withColumnRenamed("id", "_salt")
    f = fact.withColumn("_salt", F.pmod(F.col(salt_src), n_salts))
    d = dim.crossJoin(F.broadcast(salts))
    return f.join(d, (F.col(fact_key) == F.col(dim_key))
                  & (f["_salt"] == d["_salt"])).drop("_salt")


@query(
    "join_salted_skew",
    oracle="""
    SELECT c.c_nationkey,
           COUNT(*) AS event_ct,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ⋈ customer via the salted plan — the oracle is the PLAIN
    join, proving salting changes the shuffle layout, never the rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    joined = salted_join(ev, cust, "user_id", "c_custkey", "event_id")
    return (joined.groupBy("c_nationkey")
            .agg(F.count("*").cast("bigint").alias("event_ct"),
                 dsum("value").alias("value_sum")))


# ---------------------------------------------------------------------------
# Bloom-filter join prefilter (Bloom 1970; the "bloom-join" of
# distributed query processing, and what Spark's own runtime row-level
# filtering — spark.sql.optimizer.runtime.bloomFilter.enabled — does
# inside the engine): summarize the build side's join keys into a
# fixed-size BIT-POSITION set, broadcast it, and drop fact rows whose
# k hash positions aren't all present BEFORE the shuffle join. False
# positives pass (and are removed by the exact join that follows);
# false negatives are impossible, which is why the oracle is simply
# the PLAIN join — the bloom pass must change the shuffle volume,
# never the rows.
#
# DataFrame realization: the bit array becomes a distinct-position
# table (at most BLOOM_M rows — broadcast-sized by construction, far
# smaller than the dim it summarizes), and "all k bits set" becomes k
# chained BROADCAST LEFT-SEMI joins, one per hash function. At 100 TB
# the dim is too big to broadcast (hence the shuffle join) but its
# bloom never is: 2^16 positions bound the summary no matter how many
# keys fold into it. tests/test_plan_quality.py asserts the semi-joins
# broadcast and that no extra fact shuffle precedes them.
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 16     # bit-array size (max distinct positions)
BLOOM_K = 4           # hash functions
BLOOM_NATIONS = 3     # dim subset: customers in nations 0..2


def _bloom_pos_sql(seed: int) -> str:
    return (f"('0x' || substr(md5({seed} || ':' ||"
            f" CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % {BLOOM_M}")


@query(
    "join_bloom_prefilter",
    oracle=f"""
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS event_ct,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_nationkey < {BLOOM_NATIONS}
    GROUP BY 1 ORDER BY 1
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ⋈ (customers of {BLOOM_NATIONS} nations) with a
    {BLOOM_K}-hash / 2^16-bit bloom prefilter on the fact side; the
    oracle is the plain join — bloom may only shrink the shuffle."""
    dim = (load_table(spark, sf_dir, "customer")
           .filter(F.col("c_nationkey") < BLOOM_NATIONS)
           .select("c_custkey", "c_nationkey"))

    def pos(key: F.Column | str, seed: int) -> F.Column:
        return F.pmod(
            F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.lit(seed), F.col(key).cast("string"))), 1, 15),
                16, 10).cast("bigint"),
            F.lit(BLOOM_M))

    # the "bit array": distinct set positions across all k hashes —
    # bounded at BLOOM_M rows regardless of dim cardinality
    bits = None
    for s in range(BLOOM_K):
        p = dim.select(pos("c_custkey", s).alias("p"))
        bits = p if bits is None else bits.unionAll(p)
    # materialize the position set ONCE — without this each of the k
    # semi-joins would rebuild the dim scan + distinct
    bits = checkpoint(bits.distinct())

    fact = load_table(spark, sf_dir, "events").select("user_id", "value")
    # membership = ALL k positions set: k chained broadcast semi-joins
    for s in range(BLOOM_K):
        probe = fact.withColumn("_p", pos("user_id", s))
        fact = (probe.join(F.broadcast(bits),
                           probe["_p"] == bits["p"], "left_semi")
                .drop("_p"))
    # exact join clears bloom false positives; at scale this is the
    # shuffle join whose input the bloom just shrank
    return (fact.join(dim, fact.user_id == dim.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count("*").cast("bigint").alias("event_ct"),
                 dsum("value").alias("value_sum"))
            .orderBy("c_nationkey"))


# ---------------------------------------------------------------------------
# Bucketed range join (r10) — the scale pattern for UNKEYED interval
# predicates: "clicks within +/-60 s of each error, across ALL users"
# has no equi-key, so the naive plan is a broadcast-nested-loop /
# cartesian with a range filter — quadratic at corpus scale. The
# bucketed form assigns both sides to interval-width time buckets,
# expands each probe row to its 3 candidate buckets map-side, joins on
# the BUCKET equi-key (hash join, shuffle on bucket), and refines the
# exact +/-60 s predicate after the join. A candidate click's bucket
# matches exactly ONE of the probe's 3 expanded buckets, so no dedup
# pass is needed. This is the DataFrame mirror of what range-join
# optimizers (e.g. Databricks RANGE_JOIN hint) do under the hood —
# plan-gated in tests: no CartesianProduct / BroadcastNestedLoop.
# EXACTNESS: integer epoch-microsecond arithmetic end to end.
# ---------------------------------------------------------------------------

RANGE_JOIN_WINDOW_US = 60_000_000      # +/- 60 s


@query(
    "join_bucketed_range",
    oracle=f"""
    WITH err AS (
      SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS eus
      FROM events WHERE event_type = 'error'
    ),
    clk AS (
      SELECT CAST(epoch_us(ts) AS BIGINT) AS cus
      FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id,
           CAST(COUNT(c.cus) AS BIGINT) AS n_nearby_clicks
    FROM err e LEFT JOIN clk c
      ON c.cus >= e.eus - {RANGE_JOIN_WINDOW_US}
     AND c.cus <= e.eus + {RANGE_JOIN_WINDOW_US}
    GROUP BY 1 ORDER BY 1
    """,
)
def join_bucketed_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within +/-60 s of each error via the bucket-expand
    equi-join pattern (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    w = RANGE_JOIN_WINDOW_US
    err = (ev.filter(F.col("event_type") == "error")
           .select("event_id",
                   F.unix_micros("ts").cast("bigint").alias("eus")))
    clk = (ev.filter(F.col("event_type") == "click")
           .select(F.unix_micros("ts").cast("bigint").alias("cus"))
           .withColumn("cb", F.expr(f"cus div {w}")))
    probe = (err
             .withColumn("eb", F.expr(f"eus div {w}"))
             .withColumn("b", F.explode(F.expr(
                 "array(eb - 1, eb, eb + 1)")))
             .drop("eb"))
    hits = (probe.join(clk, (F.col("b") == F.col("cb"))
                       & (F.col("cus") >= F.col("eus") - w)
                       & (F.col("cus") <= F.col("eus") + w))
            .groupBy("event_id")
            .agg(F.count("*").cast("bigint").alias("n_hits")))
    return (err.join(hits, "event_id", "left")
            .select("event_id",
                    F.coalesce("n_hits", F.lit(0)).cast("bigint")
                    .alias("n_nearby_clicks"))
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# Interval-OVERLAP join via double bucket expansion (r11) — the
# generalization of join_bucketed_range from point-in-window to
# interval-vs-interval: per-user daily activity spans [first_ts,
# last_ts] joined against error incident windows [ts - 30 s, ts + 30 s]
# on the predicate a_lo <= b_hi AND b_lo <= a_hi.  An unkeyed interval
# overlap is a nested-loop by default; the scale-safe shape expands
# BOTH sides onto a shared bucket grid (1 h), hash-joins on the bucket,
# DEDUPLICATES pairs that co-occur in several buckets (the part the
# point-in-window pattern doesn't need), and refines exactly.
# EXACTNESS: all integer microseconds.  SCALE: activity spans are
# <= 24 buckets by construction (daily grain, guarded); incident
# windows are <= 2; the join is a hash equi-join on the bucket key —
# plan-gated (test_plan_quality) against CartesianProduct/BNL.
# ---------------------------------------------------------------------------

OVERLAP_BUCKET_US = 3_600_000_000        # 1 hour
OVERLAP_PAD_US = 30_000_000              # +/-30 s incident window


@query(
    "join_interval_overlap",
    oracle=f"""
    WITH act AS (
      SELECT user_id,
             CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
             CAST(MIN(epoch_us(ts)) AS BIGINT) AS a_lo,
             CAST(MAX(epoch_us(ts)) AS BIGINT) AS a_hi
      FROM events WHERE event_type <> 'error'
      GROUP BY 1, 2
    ),
    inc AS (
      SELECT event_id,
             CAST(epoch_us(ts) AS BIGINT) - {OVERLAP_PAD_US} AS b_lo,
             CAST(epoch_us(ts) AS BIGINT) + {OVERLAP_PAD_US} AS b_hi
      FROM events WHERE event_type = 'error'
    ),
    pairs AS (
      SELECT a.user_id, a.day, i.event_id,
             GREATEST(a.a_lo, i.b_lo) AS lo,
             LEAST(a.a_hi, i.b_hi) AS hi
      FROM act a JOIN inc i
        ON a.a_lo <= i.b_hi AND i.b_lo <= a.a_hi
    )
    SELECT CAST((SELECT COUNT(*) FROM act) AS BIGINT) AS n_activity,
           CAST((SELECT COUNT(*) FROM inc) AS BIGINT) AS n_incidents,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_hit,
           CAST(SUM(hi - lo) AS BIGINT) AS overlap_us_total,
           CAST(MAX(hi - lo) AS BIGINT) AS overlap_us_max
    FROM pairs
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-span vs incident-window overlap join through the
    double-bucket-expand equi-join (see block comment)."""
    ev = load_table(spark, sf_dir, "events")
    w = OVERLAP_BUCKET_US
    us = F.unix_micros("ts").cast("bigint")
    act = (ev.filter(F.col("event_type") != "error")
           .select("user_id", us.alias("us"))
           .withColumn("day", F.expr("us div 86400000000"))
           .groupBy("user_id", "day")
           .agg(F.min("us").alias("a_lo"), F.max("us").alias("a_hi")))
    inc = (ev.filter(F.col("event_type") == "error")
           .select("event_id",
                   (us - OVERLAP_PAD_US).alias("b_lo"),
                   (us + OVERLAP_PAD_US).alias("b_hi")))
    a_ex = (act
            .withColumn("nb", F.expr(
                f"a_hi div {w} - a_lo div {w} + 1"))
            .withColumn("nb", F.when(
                F.col("nb") > 48,
                F.expr("raise_error('join_interval_overlap: activity span"
                       " exceeds 48 buckets; daily-grain assumption"
                       " violated')").cast("bigint"))
                .otherwise(F.col("nb")))
            .withColumn("b", F.explode(F.expr(
                f"sequence(a_lo div {w}, a_hi div {w})")))
            .drop("nb"))
    b_ex = inc.withColumn("b", F.explode(F.expr(
        f"sequence(b_lo div {w}, b_hi div {w})")))
    hits = (a_ex.join(b_ex, "b")
            .filter((F.col("a_lo") <= F.col("b_hi"))
                    & (F.col("b_lo") <= F.col("a_hi")))
            .select("user_id", "day", "event_id", "a_lo", "a_hi",
                    "b_lo", "b_hi")
            .distinct()      # a pair can co-occur in several buckets
            .select("user_id",
                    F.greatest("a_lo", "b_lo").alias("lo"),
                    F.least("a_hi", "b_hi").alias("hi")))
    n_act = act.agg(F.count("*").cast("bigint").alias("n_activity"))
    n_inc = inc.agg(F.count("*").cast("bigint").alias("n_incidents"))
    return (hits.agg(
        F.count("*").cast("bigint").alias("n_overlaps"),
        F.countDistinct("user_id").cast("bigint").alias("n_users_hit"),
        F.sum(F.col("hi") - F.col("lo")).cast("bigint")
        .alias("overlap_us_total"),
        F.max(F.col("hi") - F.col("lo")).cast("bigint")
        .alias("overlap_us_max"))
        .crossJoin(F.broadcast(n_act)).crossJoin(F.broadcast(n_inc))
        .select("n_activity", "n_incidents", "n_overlaps", "n_users_hit",
                "overlap_us_total", "overlap_us_max"))
