"""Model-fitting readouts: exact isotonic (PAVA) calibration and
closed-form ridge regression.

Beyond-reference operators for the training-data-pipeline mandate (the
reference computes only streaming BI aggregates; a data-curation
pipeline additionally needs calibrated quality scores before
thresholding them — reference parity anchor: the ADS aggregation tier,
e.g. app/dws/DwsTradeProvinceOrderWindow.java, is where such model
readouts would live).

EXACTNESS — isotonic without iteration: the isotonic-regression
solution (weighted least squares under a monotone constraint) has the
closed-form minimax characterization (Barlow-Bartholomew-Bremner-Brunk
1972; Robertson-Wright-Dykstra 1988)

    fit[i] = max_{j<=i} min_{k>=i} mean(y[j..k])

which equals what pool-adjacent-violators converges to — but with NO
data-dependent merge loop, so there is no convergence-flip risk across
engines (the hazard VERDICT r10 flagged for a round-bounded PAVA).
All pool means are rationals sum/cnt with sum <= n; they are compared
through the exact total-order key (sum * 10^13) // cnt — two rationals
with denominators <= 3e5 differ by >= 1/9e10, i.e. >= ~111 at the 1e13
scale, so the floor key separates all distinct means and maps equal
means equal.  Everything is BIGINT; the only doubles are the final
quantized readouts.

SCALE — the raw scan aggregates into B={B_ISO} score bins (one
shuffle, partial aggregation); the minimax expansion runs on the
binned grid only: O(B^3/6) ~ 6k rows regardless of input size.  At
100 TB the plan is scan -> groupBy(bin) -> constant-size grid math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gmall_211027_flink_spark.catalog import load_table
from gmall_211027_flink_spark.registry import query
from gmall_211027_flink_spark.session import checkpoint

B_ISO = 32
# (sum * ISO_KEY_SCALE) // cnt is exact while sum <= 9.2e5 (BIGINT
# headroom); guarded with a named raise_error below (Greenwood pattern).
ISO_KEY_SCALE = 10_000_000_000_000  # 1e13, integer literal (DuckDB rule)
ISO_TOKEN_T = 55   # median-ish token count.  The label adds a
# deterministic Knuth-hash jitter in [-20, 20] tokens so the transition
# zone spans ~12 score bins with noisy per-bin rates: at sf0.01 the raw
# rates have 5 adjacent inversions (measured), so the fit genuinely
# POOLS; at sf0.1 the larger bins smooth the rates monotone, and the
# minimax fit must reproduce the raw rates exactly — both regimes gated.

_ISO_ORACLE = f"""
    WITH base AS (
      SELECT n_chars AS score,
             CASE WHEN len(string_split(text, ' '))
                       + (doc_id * 2654435761) % 41 - 20 >= {ISO_TOKEN_T}
                  THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    mm AS (SELECT MIN(score) AS mn, MAX(score) AS mx FROM base),
    binned AS (
      SELECT ((score - mn) * {B_ISO}) // (mx - mn + 1) AS bin, y
      FROM base, mm
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM binned GROUP BY 1
    ),
    posd AS (
      SELECT bin, cnt, pos,
             CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS p,
             CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cc,
             CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cs
      FROM bins
    ),
    pairs AS (
      SELECT j.p AS pj, k.p AS pk,
             k.cs - j.cs + j.pos AS s,
             k.cc - j.cc + j.cnt AS c
      FROM posd j, posd k WHERE j.p <= k.p
    ),
    keys AS (
      SELECT pj, pk, (s * {ISO_KEY_SCALE}) // c AS key13 FROM pairs
    ),
    tri AS (
      SELECT u.i AS p, pj, MIN(key13) AS mk
      FROM keys, UNNEST(generate_series(pj, pk)) AS u(i)
      GROUP BY 1, 2
    ),
    fit AS (SELECT p, MAX(mk) AS iso13 FROM tri GROUP BY 1)
    SELECT d.bin, d.cnt AS n, d.pos AS n_pos,
           CAST((d.pos * 1000000) // d.cnt AS DOUBLE) / 1000000.0
             AS raw_rate,
           CAST(f.iso13 // 10000000 AS DOUBLE) / 1000000.0 AS iso_rate
    FROM fit f JOIN posd d USING (p) ORDER BY d.bin
"""


@query("ml_isotonic_calibration_pava", oracle=_ISO_ORACLE)
def ml_isotonic_calibration_pava(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Exact isotonic calibration of token-count propensity vs doc length.

    Score = document length (n_chars), label = token count >=
    ISO_TOKEN_T — a genuinely monotone relation with a noisy transition
    zone (the only monotone signal in the synthetic corpus: every
    attribute pair is independent by construction, measured r11).
    B_ISO equal-width score bins, then the closed-form minimax isotonic
    fit (== PAVA's fixed point, see module docstring) in exact integer
    arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        F.col("n_chars").cast("bigint").alias("score"),
        F.when(F.size(F.split("text", " "))
               + (F.col("doc_id") * F.lit(2654435761)) % 41 - 20
               >= ISO_TOKEN_T, 1)
        .otherwise(0).cast("bigint").alias("y"))
    mm = base.agg(F.min("score").alias("mn"), F.max("score").alias("mx"))
    binned = base.crossJoin(F.broadcast(mm)).select(
        F.expr(f"((score - mn) * {B_ISO}) div (mx - mn + 1)").alias("bin"),
        "y")
    bins = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("pos"))
    # <= B_ISO rows from here on: unpartitioned windows / grid joins are
    # the documented bounded-grid pattern, not a scale hazard.
    w = Window.orderBy("bin")
    posd = checkpoint(bins.select(
        "bin", "cnt", "pos",
        F.row_number().over(w).cast("bigint").alias("p"),
        F.sum("cnt").over(w).cast("bigint").alias("cc"),
        F.sum("pos").over(w).cast("bigint").alias("cs")))
    j = posd.select(F.col("p").alias("pj"), F.col("pos").alias("jpos"),
                    F.col("cnt").alias("jcnt"),
                    F.col("cs").alias("jcs"), F.col("cc").alias("jcc"))
    k = posd.select(F.col("p").alias("pk"), F.col("cs").alias("kcs"),
                    F.col("cc").alias("kcc"))
    pairs = (j.crossJoin(k).filter(F.col("pj") <= F.col("pk"))
             .select("pj", "pk",
                     (F.col("kcs") - F.col("jcs") + F.col("jpos"))
                     .alias("s"),
                     (F.col("kcc") - F.col("jcc") + F.col("jcnt"))
                     .alias("c")))
    keys = pairs.select(
        "pj", "pk",
        F.when(F.col("s") > F.lit(900_000),
               F.expr("raise_error('ml_isotonic_calibration_pava: "
                      "positive count > 9e5 exceeds the 1e13 rational-"
                      "key BIGINT headroom; lower ISO_KEY_SCALE')")
               .cast("bigint"))
        .otherwise(F.expr(f"(s * {ISO_KEY_SCALE}) div c")).alias("key13"))
    tri = (keys.select(F.explode(F.sequence("pj", "pk")).alias("p"),
                       "pj", "key13")
           .groupBy("p", "pj").agg(F.min("key13").alias("mk"))
           .groupBy("p").agg(F.max("mk").alias("iso13")))
    return (posd.join(tri, "p")
            .select("bin", F.col("cnt").alias("n"),
                    F.col("pos").alias("n_pos"),
                    F.expr("cast((pos * 1000000) div cnt as double)"
                           " / 1000000.0").alias("raw_rate"),
                    F.expr("cast(iso13 div 10000000 as double)"
                           " / 1000000.0").alias("iso_rate"))
            .orderBy("bin"))


# ---------------------------------------------------------------------------
# OneR rule induction (r11; Holte 1993 — "very simple classification
# rules perform well"). The honesty baseline every model comparison
# needs: for each candidate categorical feature, predict the majority
# label per feature value; the best single-feature rule's accuracy is
# the floor any real model must beat.  Sibling of
# ml_decision_stump_split (which optimizes Gini on ONE numeric split);
# OneR ranks WHOLE categorical features by exact accuracy.
# EXACTNESS: per-(feature, value) counts are exact; n_correct =
# sum(max(pos, neg)); accuracy is one quantized rational per feature.
# Majority ties break to label 0 (fixed convention, both engines).
# SCALE: one unpivot + one groupBy per feature set; all counts partial-
# aggregate map-side.
# ---------------------------------------------------------------------------

@query(
    "ml_one_rule",
    oracle="""
    WITH base AS (
      SELECT o.o_orderpriority AS f_priority,
             o.o_orderstatus AS f_status,
             cu.c_mktsegment AS f_segment,
             CASE WHEN c.n_items >= 4 THEN 1 ELSE 0 END AS y
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items
            FROM lineitem GROUP BY 1) c ON c.l_orderkey = o.o_orderkey
    ),
    unp AS (
      SELECT 'priority' AS feature, f_priority AS val, y FROM base
      UNION ALL
      SELECT 'status', f_status, y FROM base
      UNION ALL
      SELECT 'segment', f_segment, y FROM base
    ),
    cells AS (
      SELECT feature, val,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
      FROM unp GROUP BY 1, 2
    ),
    scored AS (
      SELECT feature,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(GREATEST(pos, neg)) AS BIGINT) AS n_correct,
             CAST(SUM(pos + neg) AS BIGINT) AS n
      FROM cells GROUP BY 1
    )
    SELECT feature, n_values, n_correct, n,
           CAST(CAST(floor(CAST(n_correct AS DOUBLE) / n * 1000000 + 0.5)
                AS BIGINT) AS DOUBLE) / 1000000.0 AS accuracy,
           CASE WHEN row_number() OVER (ORDER BY n_correct DESC, feature)
                     = 1 THEN 1 ELSE 0 END AS chosen
    FROM scored ORDER BY feature
    """,
)
def ml_one_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OneR: exact accuracy of the best single-feature majority rule
    over three categorical features (see block comment)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    n_items = li.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("n_items"))
    base = (orders
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(n_items, orders.o_orderkey == n_items.l_orderkey)
            .select(F.col("o_orderpriority").alias("f_priority"),
                    F.col("o_orderstatus").alias("f_status"),
                    F.col("c_mktsegment").alias("f_segment"),
                    F.when(F.col("n_items") >= 4, 1).otherwise(0)
                    .cast("bigint").alias("y")))
    unp = base.select(F.expr(
        "stack(3, 'priority', f_priority, 'status', f_status,"
        " 'segment', f_segment)").alias("feature", "val"), "y")
    cells = unp.groupBy("feature", "val").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("neg"))
    scored = cells.groupBy("feature").agg(
        F.count("*").cast("bigint").alias("n_values"),
        F.sum(F.greatest("pos", "neg")).cast("bigint").alias("n_correct"),
        F.sum(F.col("pos") + F.col("neg")).cast("bigint").alias("n"))
    return (scored.select(
        "feature", "n_values", "n_correct", "n",
        (F.floor(F.col("n_correct").cast("double") / F.col("n")
                 * F.lit(1000000.0) + F.lit(0.5))
         .cast("bigint").cast("double") / F.lit(1000000.0))
        .alias("accuracy"),
        F.when(F.row_number().over(
            Window.orderBy(F.desc("n_correct"), F.asc("feature"))) == 1, 1)
        .otherwise(0).cast("int").alias("chosen"))
        .orderBy("feature"))


# ---------------------------------------------------------------------------
# Closed-form ridge regression path (r11) — the regularized sibling of
# stats_ols_two_factor (same two-feature design: extendedprice on
# quantity + discount, same exact DECIMAL moments): solve
# (C + lambda*I) beta = c_y on the CENTERED second-moment matrix for a
# 3-point lambda path scaled by n (lambda = s*n so the path is
# SF-invariant).  The 2x2 closed form needs no iteration:
#   b_q = (cqy*(cdd+l) - cdy*cqd) / ((cqq+l)*(cdd+l) - cqd^2)
# EXACTNESS: moments are exact DECIMAL(18,2) sums cast once to double;
# every beta is the same double expression shape in both engines;
# readouts 6-dp floor-quantized.  SCALE: one aggregation, 3-row grid.
# ---------------------------------------------------------------------------

RIDGE_PATH = (0, 1, 10)      # lambda = s * n for s in RIDGE_PATH

_RIDGE_MOMS = """
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sd,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sqq,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
               AS sqd,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
               AS sdd,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sqy,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sdy
      FROM lineitem
"""


@query(
    "ml_ridge_path",
    oracle=f"""
    WITH m AS ({_RIDGE_MOMS}),
    c AS (
      SELECT n,
             sqq - sq * sq / n AS cqq,
             sqd - sq * sd / n AS cqd,
             sdd - sd * sd / n AS cdd,
             sqy - sq * sy / n AS cqy,
             sdy - sd * sy / n AS cdy
      FROM m
    ),
    grid AS (
      SELECT c.*, s.s, s.s * c.n AS lam
      FROM c, (SELECT UNNEST([{', '.join(str(s) for s in RIDGE_PATH)}])
               AS s) s
    )
    SELECT CAST(s AS BIGINT) AS lambda_scale,
           CAST(n AS BIGINT) AS n_rows,
           CAST(CAST(floor(
             (cqy * (cdd + lam) - cdy * cqd)
             / ((cqq + lam) * (cdd + lam) - cqd * cqd)
             * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
             AS beta_qty,
           CAST(CAST(floor(
             (cdy * (cqq + lam) - cqy * cqd)
             / ((cqq + lam) * (cdd + lam) - cqd * cqd)
             * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
             AS beta_disc
    FROM grid ORDER BY lambda_scale
    """,
)
def ml_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form 2-feature ridge betas for lambda = s*n,
    s in RIDGE_PATH (see block comment); s=0 reproduces OLS."""
    li = load_table(spark, sf_dir, "lineitem")
    d2 = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    m = li.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(d2("l_quantity")).cast("double").alias("sq"),
        F.sum(d2("l_discount")).cast("double").alias("sd"),
        F.sum(d2("l_extendedprice")).cast("double").alias("sy"),
        F.sum(d2("l_quantity") * d2("l_quantity")).cast("double")
        .alias("sqq"),
        F.sum(d2("l_quantity") * d2("l_discount")).cast("double")
        .alias("sqd"),
        F.sum(d2("l_discount") * d2("l_discount")).cast("double")
        .alias("sdd"),
        F.sum(d2("l_quantity") * d2("l_extendedprice")).cast("double")
        .alias("sqy"),
        F.sum(d2("l_discount") * d2("l_extendedprice")).cast("double")
        .alias("sdy"))
    c = m.select(
        "n",
        (F.col("sqq") - F.col("sq") * F.col("sq") / F.col("n"))
        .alias("cqq"),
        (F.col("sqd") - F.col("sq") * F.col("sd") / F.col("n"))
        .alias("cqd"),
        (F.col("sdd") - F.col("sd") * F.col("sd") / F.col("n"))
        .alias("cdd"),
        (F.col("sqy") - F.col("sq") * F.col("sy") / F.col("n"))
        .alias("cqy"),
        (F.col("sdy") - F.col("sd") * F.col("sy") / F.col("n"))
        .alias("cdy"))
    grid = c.select(
        "*", F.explode(F.array(*[F.lit(s) for s in RIDGE_PATH]))
        .alias("s")).withColumn("lam", F.col("s") * F.col("n"))
    den = ((F.col("cqq") + F.col("lam")) * (F.col("cdd") + F.col("lam"))
           - F.col("cqd") * F.col("cqd"))
    q6 = lambda col: (F.floor(col * F.lit(1000000.0) + F.lit(0.5))  # noqa: E731
                      .cast("bigint").cast("double") / F.lit(1000000.0))
    return (grid.select(
        F.col("s").cast("bigint").alias("lambda_scale"),
        F.col("n").cast("bigint").alias("n_rows"),
        q6((F.col("cqy") * (F.col("cdd") + F.col("lam"))
            - F.col("cdy") * F.col("cqd")) / den).alias("beta_qty"),
        q6((F.col("cdy") * (F.col("cqq") + F.col("lam"))
            - F.col("cqy") * F.col("cqd")) / den).alias("beta_disc"))
        .orderBy("lambda_scale"))


# ---------------------------------------------------------------------------
# Exact ROC AUC via the rank/pair formula (r11) — the model-eval
# primitive every training pipeline needs at scale: AUC of a score
# column against a binary label WITHOUT sorting all rows into one task.
# AUC = P(score_pos > score_neg) + P(tie)/2 over all pos x neg pairs
# (Hanley & McNeil 1982; equals Mann-Whitney U / n1*n0, so this also
# closes the loop with stats_mann_whitney_u on the eval side).
#
# Demo readout: does order value predict fulfilled status 'F'?  Score =
# whole-dollar price bucket (o_totalprice // 100 dollars) — a QUANTIZED
# score, which is what a calibrated model emits anyway, and the reason
# the plan scales: per-bucket (n_pos, n_neg) counts shuffle ~6k rows,
# the cumulative-below sweep is a window over the bounded bucket grid
# (BOUNDED-GRID pattern), never a global per-row rank.  At 100 TB the
# per-bucket aggregate is the only full-data pass.
#
# EXACTNESS: concordant = sum_b n1_b * cum_n0_below, ties = sum_b
# n1_b * n0_b are exact BIGINT (~5e9 at sf0.1); AUC numerator
# 2*concordant + ties and denominator 2*n1*n0 are published as exact
# integers, the double ratio is 6-dp floor-quantized.
# ---------------------------------------------------------------------------

@query(
    "ml_roc_auc_exact",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(o_totalprice / 100.0) AS BIGINT) AS b,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    per_b AS (
      SELECT b,
             CAST(SUM(pos) AS BIGINT) AS n1b,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n0b
      FROM scored GROUP BY 1
    ),
    sweep AS (
      SELECT b, n1b, n0b,
             CAST(COALESCE(SUM(n0b) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum0
      FROM per_b
    ),
    agg AS (
      SELECT CAST(SUM(n1b) AS BIGINT) AS n1,
             CAST(SUM(n0b) AS BIGINT) AS n0,
             CAST(SUM(n1b * cum0) AS BIGINT) AS conc,
             CAST(SUM(n1b * n0b) AS BIGINT) AS ties
      FROM sweep
    )
    SELECT n1 AS n_pos, n0 AS n_neg,
           2 * conc + ties AS auc_num2,
           2 * n1 * n0 AS auc_den2,
           CAST(CAST(floor(
             CAST(2 * conc + ties AS DOUBLE)
             / CAST(2 * n1 * n0 AS DOUBLE) * 1000000 + 0.5)
             AS BIGINT) AS DOUBLE) / 1000000.0 AS auc
    FROM agg
    """,
)
def ml_roc_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the price-bucket score vs fulfilled status via
    per-bucket pair counting (see block comment)."""
    orders = load_table(spark, sf_dir, "orders")
    scored = orders.select(
        F.floor(F.col("o_totalprice") / F.lit(100.0))
        .cast("bigint").alias("b"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"))
    per_b = scored.groupBy("b").agg(
        F.sum("pos").cast("bigint").alias("n1b"),
        (F.count("*") - F.sum("pos")).cast("bigint").alias("n0b"))
    # bounded bucket grid (~6k price buckets): single-task window by
    # design, never a per-row global rank
    w = (Window.orderBy("b")
         .rowsBetween(Window.unboundedPreceding, -1))
    sweep = per_b.select(
        "n1b", "n0b",
        F.coalesce(F.sum("n0b").over(w), F.lit(0))
        .cast("bigint").alias("cum0"))
    agg = sweep.agg(
        F.sum("n1b").cast("bigint").alias("n1"),
        F.sum("n0b").cast("bigint").alias("n0"),
        F.sum(F.col("n1b") * F.col("cum0")).cast("bigint").alias("conc"),
        F.sum(F.col("n1b") * F.col("n0b")).cast("bigint").alias("ties"))
    return agg.select(
        F.col("n1").alias("n_pos"), F.col("n0").alias("n_neg"),
        (2 * F.col("conc") + F.col("ties")).alias("auc_num2"),
        (2 * F.col("n1") * F.col("n0")).alias("auc_den2"),
        (F.floor((2 * F.col("conc") + F.col("ties")).cast("double")
                 / (2 * F.col("n1") * F.col("n0")).cast("double")
                 * F.lit(1000000.0) + F.lit(0.5))
         .cast("bigint").cast("double") / F.lit(1000000.0)).alias("auc"))


# ---------------------------------------------------------------------------
# Matthews correlation coefficient readout (r12) — the single-number
# confusion summary that stays honest under class imbalance (unlike
# accuracy/F1, MCC is symmetric in classes and zero for any constant
# classifier).  Reads the SAME NB sufficient-statistics build as
# ml_naive_bayes_binary / ml_calibration_bins (one stats pass, three
# evaluation readouts): cells are exact BIGINTs, MCC / accuracy / F1
# are 6-dp floor-quantized doubles over exact integers (cell products
# ~1e8 at sf0.1 — double-exact).
# ---------------------------------------------------------------------------

def _mcc_oracle() -> str:
    from gmall_211027_flink_spark.operators.aggregates import _NB_CTES

    return f"""
    WITH {_NB_CTES},
    cell AS (
      SELECT
        CAST(SUM(CASE WHEN y AND score1 > score0 THEN 1 ELSE 0 END)
          AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN NOT y AND score1 > score0 THEN 1 ELSE 0 END)
          AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN y AND NOT score1 > score0 THEN 1 ELSE 0 END)
          AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN NOT y AND NOT score1 > score0 THEN 1 ELSE 0
                 END) AS BIGINT) AS tn
      FROM scored
    )
    SELECT tp, fp, fn, tn,
           CAST(CAST(floor(
             CAST(tp * tn - fp * fn AS DOUBLE)
             / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                    * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS mcc,
           CAST(CAST(floor(
             CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
             * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
             AS accuracy,
           CAST(CAST(floor(
             CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
             * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 AS f1
    FROM cell
    """


@query("ml_mcc_confusion", oracle=_mcc_oracle())
def ml_mcc_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MCC / accuracy / F1 over the NB classifier's exact confusion
    cells (see block comment)."""
    from gmall_211027_flink_spark.operators.aggregates import _nb_scored

    scored = _nb_scored(spark, sf_dir)
    pred = F.col("score1") > F.col("score0")
    cell = scored.agg(
        F.sum(F.when(F.col("y") & pred, 1).otherwise(0))
        .cast("bigint").alias("tp"),
        F.sum(F.when(~F.col("y") & pred, 1).otherwise(0))
        .cast("bigint").alias("fp"),
        F.sum(F.when(F.col("y") & ~pred, 1).otherwise(0))
        .cast("bigint").alias("fn"),
        F.sum(F.when(~F.col("y") & ~pred, 1).otherwise(0))
        .cast("bigint").alias("tn"))
    q6 = lambda col: (F.floor(col * F.lit(1000000.0) + F.lit(0.5))  # noqa: E731
                      .cast("bigint").cast("double") / F.lit(1000000.0))
    return cell.select(
        "tp", "fp", "fn", "tn",
        q6((F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn"))
           .cast("double")
           / F.sqrt((F.col("tp") + F.col("fp")).cast("double")
                    * (F.col("tp") + F.col("fn")).cast("double")
                    * (F.col("tn") + F.col("fp")).cast("double")
                    * (F.col("tn") + F.col("fn")).cast("double")))
        .alias("mcc"),
        q6((F.col("tp") + F.col("tn")).cast("double")
           / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")))
        .alias("accuracy"),
        q6((2 * F.col("tp")).cast("double")
           / (2 * F.col("tp") + F.col("fp") + F.col("fn")))
        .alias("f1"))


# ---------------------------------------------------------------------------
# Lift / gains decile table (r12) — the campaign-targeting readout that
# pairs with ml_roc_auc_exact: sort by score, cut the population into
# ten equal slices, report what share of all positives each cumulative
# slice captures (gains) and how much better than random that is
# (cumulative lift).  Same quantized price-bucket score and same
# BOUNDED-GRID plan as the AUC query: per-bucket (n, n_pos) counts are
# the only full-data pass; the sweep is a window over the ~6k-bucket
# grid, never a global per-row rank.
#
# Tied scores straddling a decile boundary use the UNIFORM-WITHIN-TIE
# convention (the fractional-rank standard): taking t of the bucket's
# nb rows captures t*n1b/nb positives.  EXACTNESS: the interpolation
# numerator captured_x_nb = cum_pos_prev*nb + t*n1b is an exact BIGINT
# (~1e8); gains = captured_x_nb/(nb*P) and cum_lift = gains*N/cutoff
# are 6-dp floor-quantized doubles of identical shape in both engines.
# ---------------------------------------------------------------------------

@query(
    "ml_lift_gains_deciles",
    oracle="""
    WITH scored AS (
      SELECT CAST(floor(o_totalprice / 100.0) AS BIGINT) AS b,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    per_b AS (
      SELECT b,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(pos) AS BIGINT) AS n1b
      FROM scored GROUP BY 1
    ),
    sweep AS (
      SELECT b, nb, n1b,
             CAST(COALESCE(SUM(nb) OVER (ORDER BY b DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_n_prev,
             CAST(COALESCE(SUM(n1b) OVER (ORDER BY b DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_pos_prev
      FROM per_b
    ),
    tot AS (
      SELECT CAST(SUM(nb) AS BIGINT) AS n, CAST(SUM(n1b) AS BIGINT) AS p
      FROM per_b
    ),
    dec AS (
      SELECT d.d, (t.n * d.d) // 10 AS cutoff, t.n, t.p
      FROM (SELECT unnest(generate_series(1, 10)) AS d) d, tot t
    ),
    hit AS (
      SELECT dec.d, dec.cutoff, dec.n, dec.p, s.nb, s.n1b,
             s.cum_pos_prev,
             dec.cutoff - s.cum_n_prev AS t_rows
      FROM dec JOIN sweep s
        ON s.cum_n_prev < dec.cutoff
       AND dec.cutoff <= s.cum_n_prev + s.nb
    )
    SELECT d AS decile, cutoff AS cutoff_rows,
           cum_pos_prev * nb + t_rows * n1b AS captured_x_nb,
           nb AS edge_bucket_n,
           CAST(CAST(floor(
             CAST(cum_pos_prev * nb + t_rows * n1b AS DOUBLE)
             / (CAST(nb AS DOUBLE) * p) * 1000000 + 0.5)
             AS BIGINT) AS DOUBLE) / 1000000.0 AS gains,
           CAST(CAST(floor(
             CAST(cum_pos_prev * nb + t_rows * n1b AS DOUBLE)
             / (CAST(nb AS DOUBLE) * p) * n / cutoff
             * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
             AS cum_lift
    FROM hit ORDER BY decile
    """,
)
def ml_lift_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift at each population decile of the
    price-bucket score (see block comment)."""
    orders = load_table(spark, sf_dir, "orders")
    scored = orders.select(
        F.floor(F.col("o_totalprice") / F.lit(100.0))
        .cast("bigint").alias("b"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pos"))
    per_b = scored.groupBy("b").agg(
        F.count("*").cast("bigint").alias("nb"),
        F.sum("pos").cast("bigint").alias("n1b"))
    # bounded bucket grid (~6k price buckets): single-task window by
    # design, never a per-row global rank (the ml_roc_auc_exact plan)
    w = (Window.orderBy(F.desc("b"))
         .rowsBetween(Window.unboundedPreceding, -1))
    sweep = per_b.select(
        "b", "nb", "n1b",
        F.coalesce(F.sum("nb").over(w), F.lit(0))
        .cast("bigint").alias("cum_n_prev"),
        F.coalesce(F.sum("n1b").over(w), F.lit(0))
        .cast("bigint").alias("cum_pos_prev"))
    tot = per_b.agg(F.sum("nb").cast("bigint").alias("n"),
                    F.sum("n1b").cast("bigint").alias("p"))
    dec = (spark.range(1, 11).select(F.col("id").alias("d"))
           .crossJoin(F.broadcast(tot))
           .select("d", F.expr("(n * d) div 10").alias("cutoff"),
                   "n", "p"))
    hit = (F.broadcast(dec)
           .join(sweep,
                 (F.col("cum_n_prev") < F.col("cutoff"))
                 & (F.col("cutoff")
                    <= F.col("cum_n_prev") + F.col("nb"))))
    cap = (F.col("cum_pos_prev") * F.col("nb")
           + (F.col("cutoff") - F.col("cum_n_prev")) * F.col("n1b"))
    q6 = lambda col: (F.floor(col * F.lit(1000000.0) + F.lit(0.5))  # noqa: E731
                      .cast("bigint").cast("double") / F.lit(1000000.0))
    return (hit.select(
        F.col("d").alias("decile"),
        F.col("cutoff").alias("cutoff_rows"),
        cap.alias("captured_x_nb"),
        F.col("nb").alias("edge_bucket_n"),
        q6(cap.cast("double") / (F.col("nb").cast("double") * F.col("p")))
        .alias("gains"),
        q6(cap.cast("double") / (F.col("nb").cast("double") * F.col("p"))
           * F.col("n") / F.col("cutoff")).alias("cum_lift"))
        .orderBy("decile"))
