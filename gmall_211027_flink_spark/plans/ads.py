"""ADS query pack — the reference's publisher layer re-expressed as
Spark SQL over registered views (SURVEY §3.4: HTTP → MyBatis @Select
ClickHouse SQL; here each endpoint is a named spark.sql query — the REST
shell is out of engine scope).

These run as plain SQL text so Catalyst handles the whole
parse→analyze→optimize→execute lifecycle — same lifecycle the reference
delegates to the Flink/Calcite stack (SURVEY §3).

Dashboards poll the same panels while the tables under them change only
on a commit, so every panel is ``catalog.prepared``: built once per
session and ``sf_dir``, then re-executed until one of its tables
changes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from gmall_211027_flink_spark import registry
from gmall_211027_flink_spark.catalog import TABLES, prepared, register_views


def query(name: str, **kw):
    """``registry.query`` for this module: every panel registered here
    is ``prepared``."""
    return lambda build: registry.query(name, **kw)(prepared(build))


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Plan ``text`` over the tables it names as words. Their views are
    registered on every build, just before it plans, so a view that
    other code replaced, or one from another ``sf_dir``, never leaks
    into this query.

    Every panel here is ``prepared``: a repeat call over unchanged
    tables replays only the loads and returns the DataFrame planned on
    the first call, whose analyzed plan already holds the relations.
    So this text is not parsed or planned again, and no view is
    registered again (each registration is a Spark SQL command of about
    6 ms, SCALE.md §23). That plan keeps every session conf it was
    planned under, including ones that change results such as ANSI
    mode; only a change to a table or to a conf in
    ``catalog._MEMO_CONFS`` makes the next call plan anew."""
    words = set(re.findall(r"\w+", text.lower()))
    register_views(spark, sf_dir, tuple(n for n in TABLES if n in words))
    return spark.sql(text)


# ---------------------------------------------------------------------------
# U3 — UNION ALL multi-metric rows (reference: TradeStatsMapper.java:18-36
# emits one row per metric name via UNION ALL).
# ---------------------------------------------------------------------------

_UNION_METRICS = """
SELECT 'order_count' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM orders
UNION ALL
SELECT 'order_gmv' AS metric,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS value FROM orders
UNION ALL
SELECT 'lineitem_count' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM lineitem
UNION ALL
SELECT 'customer_count' AS metric, CAST(COUNT(*) AS DOUBLE) AS value FROM customer
UNION ALL
SELECT 'event_users' AS metric,
       CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS value FROM events
"""


@query("ads_union_metrics", oracle=_UNION_METRICS)
def ads_union_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _UNION_METRICS)


# ---------------------------------------------------------------------------
# F1 — keyword tokenizer UDTF → split + explode (reference:
# SplitFunction.java:12-28 + LATERAL TABLE at
# DwsTrafficSourceKeywordPageViewWindow.java:61-68). Word frequencies over
# the documents corpus; `LATERAL VIEW explode` is the Spark UDTF form.
# ---------------------------------------------------------------------------

_KEYWORD_SPLIT_SPARK = """
SELECT word AS keyword, COUNT(*) AS keyword_ct,
       COUNT(DISTINCT doc_id) AS doc_ct
FROM documents
LATERAL VIEW explode(split(text, ' ')) t AS word
GROUP BY word
HAVING COUNT(*) >= 10
"""

_KEYWORD_SPLIT_DUCK = """
SELECT word AS keyword, COUNT(*) AS keyword_ct,
       COUNT(DISTINCT doc_id) AS doc_ct
FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents)
GROUP BY word
HAVING COUNT(*) >= 10
"""


@query("ads_keyword_split", oracle=_KEYWORD_SPLIT_DUCK)
def ads_keyword_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _KEYWORD_SPLIT_SPARK)


# ---------------------------------------------------------------------------
# Traffic channel stats (reference: TrafficChannelStatsMapper.java:11-49 —
# per-channel uv/sv/pv/duration rollups; events stand in for page logs,
# event_type for channel).
# ---------------------------------------------------------------------------

_TRAFFIC_STATS = """
SELECT
  event_type AS channel,
  COUNT(DISTINCT user_id) AS uv_ct,
  COUNT(*) AS pv_ct,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS value_per_pv,
  CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT user_id) AS pv_per_uv
FROM events
GROUP BY event_type
"""


@query("ads_traffic_channel_stats", oracle=_TRAFFIC_STATS)
def ads_traffic_channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _TRAFFIC_STATS)


# ---------------------------------------------------------------------------
# User stats UNION ALL of cohorts (reference: UserStatsMapper.java:12-63 —
# back-to-back UNION ALL of registered vs active counts per day).
# ---------------------------------------------------------------------------

_USER_STATS = """
WITH signup AS (
  SELECT strftime(ts, '%Y-%m-%d') AS dt, COUNT(DISTINCT user_id) AS ct
  FROM events WHERE event_type = 'signup' GROUP BY 1
), active AS (
  SELECT strftime(ts, '%Y-%m-%d') AS dt, COUNT(DISTINCT user_id) AS ct
  FROM events GROUP BY 1
)
SELECT dt, 'signup_uu' AS metric, ct FROM signup
UNION ALL
SELECT dt, 'active_uu' AS metric, ct FROM active
"""

_USER_STATS_SPARK = _USER_STATS.replace(
    "strftime(ts, '%Y-%m-%d')", "date_format(ts, 'yyyy-MM-dd')")


@query("ads_user_stats_union", oracle=_USER_STATS)
def ads_user_stats_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _USER_STATS_SPARK)


# ---------------------------------------------------------------------------
# Hour-of-day visitor profile (reference: toHour(stt) bucketing in
# TrafficVisitorStatsMapper; hour() + conditional agg in Spark).
# ---------------------------------------------------------------------------

_HOURLY = """
SELECT
  CAST(hour(ts) AS BIGINT) AS hr,
  COUNT(*) AS pv_ct,
  COUNT(DISTINCT user_id) AS uv_ct,
  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_ct,
  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error_ct
FROM events
GROUP BY 1
"""


@query("ads_hourly_visitor_stats", oracle=_HOURLY)
def ads_hourly_visitor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _HOURLY)


# ---------------------------------------------------------------------------
# Commodity stats: order amounts ⟗ refund amounts per brand (reference:
# CommodityStatsMapper.java:13-35 full-outer-joins order stats and refund
# stats on trademark; brand stands in for trademark).
# ---------------------------------------------------------------------------

_COMMODITY = """
WITH ord AS (
  SELECT p.p_brand AS brand,
         COUNT(*) AS order_line_ct,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS order_amount
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_returnflag <> 'R' GROUP BY 1
), ret AS (
  SELECT p.p_brand AS brand,
         COUNT(*) AS refund_line_ct,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS refund_amount
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_returnflag = 'R' GROUP BY 1
)
SELECT COALESCE(ord.brand, ret.brand) AS brand,
       COALESCE(order_line_ct, 0) AS order_line_ct,
       COALESCE(order_amount, 0.0) AS order_amount,
       COALESCE(refund_line_ct, 0) AS refund_line_ct,
       COALESCE(refund_amount, 0.0) AS refund_amount
FROM ord FULL OUTER JOIN ret ON ord.brand = ret.brand
"""


@query("ads_commodity_stats", oracle=_COMMODITY)
def ads_commodity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _COMMODITY)


# ---------------------------------------------------------------------------
# Activity/subsidy-rate ratio (reference: ActivityStatsMapper.java:10-17 —
# reduce_amount / origin_total_amount per activity; here discount given /
# gross price per order priority).
# ---------------------------------------------------------------------------

_SUBSIDY = """
SELECT
  o.o_orderpriority AS priority,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
           * CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS discount_amount,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS gross_amount,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
           * CAST(l.l_discount AS DECIMAL(18,2))) AS DOUBLE)
    / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS subsidy_rate
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


@query("ads_subsidy_rate", oracle=_SUBSIDY)
def ads_subsidy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _SUBSIDY)


# ---------------------------------------------------------------------------
# Keyword scoring with a CASE chain (reference: TrafficKeywordsMapper.java:
# 10-21 — multiIf() weights keyword sources; weights by word length here).
# ---------------------------------------------------------------------------

_KEYWORD_SCORE = """
SELECT keyword,
       CAST(SUM(CASE WHEN length(keyword) >= 7 THEN 3
                     WHEN length(keyword) >= 5 THEN 2
                     ELSE 1 END) AS BIGINT) AS weighted_ct,
       COUNT(*) AS raw_ct
FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS keyword FROM documents)
GROUP BY keyword
HAVING COUNT(*) >= 5
"""

_KEYWORD_SCORE_SPARK = """
SELECT keyword,
       CAST(SUM(CASE WHEN length(keyword) >= 7 THEN 3
                     WHEN length(keyword) >= 5 THEN 2
                     ELSE 1 END) AS BIGINT) AS weighted_ct,
       COUNT(*) AS raw_ct
FROM documents
LATERAL VIEW explode(split(text, ' ')) t AS keyword
GROUP BY keyword
HAVING COUNT(*) >= 5
"""


@query("ads_keyword_score", oracle=_KEYWORD_SCORE)
def ads_keyword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _KEYWORD_SCORE_SPARK)


# ---------------------------------------------------------------------------
# Pivot (beyond the reference — wide-format reporting over the ADS store).
# ---------------------------------------------------------------------------

@query(
    "ads_pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority AS priority,
      CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f_ct,
      CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o_ct,
      CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p_ct
    FROM orders GROUP BY 1
    """,
)
def ads_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_211027_flink_spark.catalog import load_table
    from pyspark.sql import functions as F
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "priority",
            F.coalesce("F", F.lit(0)).alias("f_ct"),
            F.coalesce("O", F.lit(0)).alias("o_ct"),
            F.coalesce("P", F.lit(0)).alias("p_ct"),
        )
    )


# ---------------------------------------------------------------------------
# Cube (beyond the reference): all grouping-set combos over two dims.
# ---------------------------------------------------------------------------

@query(
    "ads_cube_returnflag_linestatus",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS line_ct,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def ads_cube_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.functions import dsum
    from pyspark.sql import functions as F
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("line_ct"), dsum("l_quantity").alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "line_ct", "qty",
        )
    )


# ---------------------------------------------------------------------------
# Category stats: MULTI-KEY full outer join (reference:
# CommodityStatsMapper.java:45-89 selectCategoryStats full-outer-joins
# order and refund aggregates on (category1, category2, category3);
# (p_brand, p_type, p_size) stands in for the 3-level category tree).
# COALESCE over every key column — the reference's downstream bean
# tolerates either side being absent.
# ---------------------------------------------------------------------------

_CATEGORY = """
WITH ord AS (
  SELECT p.p_brand AS c1, p.p_type AS c2, p.p_size AS c3,
         COUNT(*) AS order_line_ct,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS order_amount
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_returnflag <> 'R' GROUP BY 1, 2, 3
), ret AS (
  SELECT p.p_brand AS c1, p.p_type AS c2, p.p_size AS c3,
         COUNT(*) AS refund_line_ct,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS refund_amount
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_returnflag = 'R' GROUP BY 1, 2, 3
)
SELECT COALESCE(ord.c1, ret.c1) AS category1,
       COALESCE(ord.c2, ret.c2) AS category2,
       COALESCE(ord.c3, ret.c3) AS category3,
       COALESCE(order_line_ct, 0) AS order_line_ct,
       COALESCE(order_amount, 0.0) AS order_amount,
       COALESCE(refund_line_ct, 0) AS refund_line_ct,
       COALESCE(refund_amount, 0.0) AS refund_amount
FROM ord FULL OUTER JOIN ret
  ON ord.c1 = ret.c1 AND ord.c2 = ret.c2 AND ord.c3 = ret.c3
"""


@query("ads_category_stats", oracle=_CATEGORY)
def ads_category_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _CATEGORY)


# ---------------------------------------------------------------------------
# GROUPING SETS (beyond the reference — completes the rollup/cube family
# with the general form; same SQL text runs on Spark and DuckDB).
# ---------------------------------------------------------------------------

_GROUPING_SETS = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS line_ct,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                        (l_returnflag, l_linestatus))
"""


@query("ads_grouping_sets", oracle=_GROUPING_SETS)
def ads_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _GROUPING_SETS)


# ---------------------------------------------------------------------------
# Correlated scalar subquery (beyond the reference's mapper SQL, which is
# flat — completes the SQL surface; Catalyst decorrelates it into a
# join + aggregate, which is the plan that scales).
# ---------------------------------------------------------------------------

# EXACTNESS (round-10 float-discipline sweep): `price > AVG(price)` put
# an engine-specific average at the compare boundary (DuckDB avg(DECIMAL)
# is a double accumulation; Spark's is exact decimal) — rows with price
# at the mean could flip. Cross-multiplied to the exact integer test
# cents * n > sum_cents; still two CORRELATED scalar subqueries, which
# is the point of the query (Catalyst decorrelates them into joins).
_ABOVE_AVG = """
SELECT o.o_custkey,
       COUNT(*) AS above_avg_order_ct
FROM orders o
WHERE CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * (
  SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
) > (
  SELECT SUM(CAST(CAST(o2.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
  FROM orders o2 WHERE o2.o_custkey = o.o_custkey
)
GROUP BY 1
"""


@query("ads_above_avg_orders", oracle=_ABOVE_AVG)
def ads_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _ABOVE_AVG)


# ---------------------------------------------------------------------------
# Cohort retention matrix (beyond the reference's ADS pack — the
# product-analytics query its publisher layer would grow next): cohort =
# first-order month, cell = share of the cohort active k months later.
# Month arithmetic is year*12+month (portable integer math — identical
# in Spark and DuckDB, no dialect-specific date_diff).
# ---------------------------------------------------------------------------

_COHORT_RETENTION = """
WITH cohort AS (
  SELECT o_custkey,
         MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
  FROM orders GROUP BY o_custkey
),
activity AS (
  SELECT DISTINCT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS m
  FROM orders
),
cells AS (
  SELECT c.cohort_m, a.m - c.cohort_m AS month_offset,
         COUNT(*) AS active_customers
  FROM cohort c JOIN activity a ON c.o_custkey = a.o_custkey
  GROUP BY c.cohort_m, a.m - c.cohort_m
),
sizes AS (
  SELECT cohort_m, COUNT(*) AS cohort_size FROM cohort GROUP BY cohort_m
)
SELECT ce.cohort_m, ce.month_offset, ce.active_customers, s.cohort_size,
       CAST(ce.active_customers AS DOUBLE) / s.cohort_size AS retention_rate
FROM cells ce JOIN sizes s ON ce.cohort_m = s.cohort_m
"""


@query("ads_cohort_retention", oracle=_COHORT_RETENTION)
def ads_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _COHORT_RETENTION)


# ---------------------------------------------------------------------------
# Sequential funnel (view → click → purchase, strictly ordered per user
# by event time): each stage counts users whose stage event happens
# AFTER their previous stage's first event — the order-sensitive funnel,
# not three independent filters. One scan per stage, joins on user_id.
# ---------------------------------------------------------------------------

_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT 1 AS stage_no, 'view' AS stage, COUNT(*) AS users,
       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM v) AS conversion
FROM v
UNION ALL
SELECT 2, 'click', COUNT(*),
       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM v) FROM c
UNION ALL
SELECT 3, 'purchase', COUNT(*),
       CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM v) FROM p
"""


@query("ads_funnel_view_click_purchase", oracle=_FUNNEL)
def ads_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _FUNNEL)


# ---------------------------------------------------------------------------
# Market-basket co-purchase pairs (recommendation-feed shape): part
# pairs appearing together in >= 3 orders, with support and lift.
# Pairs come from `operators.graph.copurchase_pairs` (posting list per
# order, pairs expanded map-side) — never a lineitem self-join. Lift
# denominators come from the tiny per-part order counts, broadcast back
# onto the pair rows. Doubles are rounded to 6 dp so both engines
# rank/filter identically.
# ---------------------------------------------------------------------------

_COPURCHASE = """
WITH order_parts AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM order_parts),
part_ct AS (
  SELECT l_partkey, COUNT(*) AS ct FROM order_parts GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS together_ct
  FROM order_parts a
  JOIN order_parts b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
)
SELECT p.part_a, p.part_b, p.together_ct,
       round(CAST(p.together_ct AS DOUBLE) / n.n, 6) AS support,
       round(CAST(p.together_ct AS DOUBLE) * n.n
             / (ca.ct * CAST(cb.ct AS DOUBLE)), 6) AS lift
FROM pairs p
JOIN part_ct ca ON p.part_a = ca.l_partkey
JOIN part_ct cb ON p.part_b = cb.l_partkey
CROSS JOIN n_orders n
"""


@query("ads_copurchase_pairs", oracle=_COPURCHASE)
def ads_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.graph import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.select(F.countDistinct("l_orderkey").alias("n"))
    part_ct = op.groupBy("l_partkey").agg(F.count("*").alias("ct"))
    pairs = copurchase_pairs(spark, sf_dir, 3)
    ca = part_ct.select(F.col("l_partkey").alias("part_a"),
                        F.col("ct").alias("ct_a"))
    cb = part_ct.select(F.col("l_partkey").alias("part_b"),
                        F.col("ct").alias("ct_b"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "together_ct",
            F.round(F.col("together_ct").cast("double") / F.col("n"), 6)
             .alias("support"),
            F.round(F.col("together_ct").cast("double") * F.col("n")
                    / (F.col("ct_a") * F.col("ct_b").cast("double")), 6)
             .alias("lift"))
    )


# ---------------------------------------------------------------------------
# Supplier scorecard: revenue, return share, and nation, one pass over
# lineitem (returns counted via conditional aggregation, not a second
# scan or self-join) + broadcast nation name. A9's conditional-agg
# pattern applied at supplier grain.
# ---------------------------------------------------------------------------

_SUPPLIER_SCORECARD = """
SELECT s.s_suppkey, s.s_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       COUNT(*) AS line_ct,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS returned_ct,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS return_rate
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
"""


@query("ads_supplier_scorecard", oracle=_SUPPLIER_SCORECARD)
def ads_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _SUPPLIER_SCORECARD)


# ---------------------------------------------------------------------------
# Nation market share within region: window function OVER the nation-
# grain aggregate (25 rows), not the fact — share-of-parent is free once
# the heavy lifting is a plain two-phase agg.
# ---------------------------------------------------------------------------

_NATION_SHARE = """
WITH rev AS (
  SELECT r.r_name, n.n_name,
         CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS revenue
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, revenue,
       round(revenue / SUM(revenue) OVER (PARTITION BY r_name), 6)
         AS region_share,
       CAST(RANK() OVER (PARTITION BY r_name ORDER BY revenue DESC, n_name)
            AS BIGINT) AS rank_in_region
FROM rev
"""


@query("ads_nation_market_share", oracle=_NATION_SHARE)
def ads_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(spark, sf_dir, _NATION_SHARE)


# ---------------------------------------------------------------------------
# Unpivot (wide → long): the inverse of the pivot above — reporting
# stores land wide metric columns (ClickHouse ADS tables are wide by
# design) and downstream consumers want tidy (dim, metric, value) rows.
# Spark's native form is the stack() table-generating expression: pure
# map-side row amplification, no shuffle until the consumer aggregates.
# ---------------------------------------------------------------------------

@query(
    "ads_unpivot_metrics",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority AS priority,
             COUNT(*) AS order_ct,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gmv,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS buyer_ct
      FROM orders GROUP BY 1
    )
    SELECT priority, metric, value FROM (
      SELECT priority, 'order_ct' AS metric, CAST(order_ct AS DOUBLE) AS value
      FROM wide
      UNION ALL
      SELECT priority, 'gmv', gmv FROM wide
      UNION ALL
      SELECT priority, 'buyer_ct', CAST(buyer_ct AS DOUBLE) FROM wide
    )
    """,
)
def ads_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.functions import dsum

    wide = (load_table(spark, sf_dir, "orders")
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count("*").alias("order_ct"),
                 dsum("o_totalprice").alias("gmv"),
                 F.countDistinct("o_custkey").alias("buyer_ct")))
    return wide.select(
        "priority",
        F.expr("stack(3, 'order_ct', cast(order_ct as double),"
               " 'gmv', gmv,"
               " 'buyer_ct', cast(buyer_ct as double))")
        .alias("metric", "value"))


# ---------------------------------------------------------------------------
# Association rules from the co-purchase pairs: directed confidence
# P(B|A) = sup(A,B)/sup(A) for both directions of every frequent pair —
# the "customers who bought A also bought B" feed (the rule form of
# ads_copurchase_pairs' symmetric lift). Same posting-list pair plan;
# the only additions are the two direction rows (map-side union) and
# the broadcast antecedent counts.
# ---------------------------------------------------------------------------

_BASKET_RULES = """
WITH order_parts AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
part_ct AS (
  SELECT l_partkey, COUNT(*) AS ct FROM order_parts GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS together_ct
  FROM order_parts a
  JOIN order_parts b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 3
),
rules AS (
  SELECT part_a AS antecedent, part_b AS consequent, together_ct FROM pairs
  UNION ALL
  SELECT part_b, part_a, together_ct FROM pairs
)
SELECT r.antecedent, r.consequent,
       CAST(r.together_ct AS BIGINT) AS together_ct,
       round(CAST(r.together_ct AS DOUBLE) / ca.ct, 6) AS confidence
FROM rules r
JOIN part_ct ca ON r.antecedent = ca.l_partkey
"""


@query("ads_basket_rules", oracle=_BASKET_RULES)
def ads_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.graph import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    part_ct = op.groupBy("l_partkey").agg(F.count("*").alias("ct"))
    pairs = copurchase_pairs(spark, sf_dir, 3)
    rules = (pairs.select(F.col("part_a").alias("antecedent"),
                          F.col("part_b").alias("consequent"),
                          "together_ct")
             .unionAll(pairs.select(F.col("part_b").alias("antecedent"),
                                    F.col("part_a").alias("consequent"),
                                    "together_ct")))
    ca = part_ct.select(F.col("l_partkey").alias("antecedent"),
                        F.col("ct").alias("ct_a"))
    return (rules.join(F.broadcast(ca), "antecedent")
            .select("antecedent", "consequent",
                    F.col("together_ct").cast("bigint")
                    .alias("together_ct"),
                    F.round(F.col("together_ct").cast("double")
                            / F.col("ct_a"), 6).alias("confidence")))


# ---------------------------------------------------------------------------
# Price elasticity of demand (r9) — the log-log OLS every pricing team
# runs: regress ln(weekly quantity) on ln(weekly avg price) over
# lineitem; the slope IS the elasticity estimate (%-demand change per
# %-price change). Closed-form OLS over the calendar-bounded week grid
# (the r8 two-factor OLS machinery at its most famous application).
#
# Determinism: weekly qty and price-sum are exact integers/decimals;
# ln() runs on those identical inputs in both engines, and the OLS
# closed form is the identical double expression, 6-dp rounded. Week
# grain -> the DAY-GRAIN CONTRACT (aggregates.py module docstring).
# ---------------------------------------------------------------------------

@query(
    "ads_price_elasticity_ols",
    oracle="""
    WITH wkly AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               // 7 AS wk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
      FROM lineitem GROUP BY 1
    ),
    pts AS (
      SELECT ln(CAST(qty AS DOUBLE)) AS y,
             ln(CAST(rev AS DOUBLE) / qty) AS x
      FROM wkly WHERE qty > 0
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts
    )
    SELECT n AS n_weeks,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             AS elasticity,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n, 6) AS intercept
    FROM mom
    """,
)
def ads_price_elasticity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price-elasticity OLS on weekly lineitem volume
    (see block comment)."""
    from pyspark.sql import functions as F

    from gmall_211027_flink_spark.catalog import load_table
    li = load_table(spark, sf_dir, "lineitem")
    wkly = (li.groupBy(
        (F.datediff("l_shipdate", F.lit("1970-01-01"))
         .cast("bigint") / 7).cast("bigint").alias("wk"))
        .agg(F.sum(F.col("l_quantity").cast("bigint"))
             .cast("bigint").alias("qty"),
             F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
             .alias("rev")))
    pts = (wkly.filter(F.col("qty") > 0)
           .select(F.log(F.col("qty").cast("double")).alias("y"),
                   F.log(F.col("rev").cast("double") / F.col("qty"))
                   .alias("x")))
    mom = pts.agg(F.count("*").cast("bigint").alias("n"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return mom.select(
        F.col("n").alias("n_weeks"),
        F.round(slope, 6).alias("elasticity"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"))
