"""Bucketed (pre-shuffled) table layout — the co-located-join lever.

The reference hash-partitions every stream by its join/agg key per job
(`keyBy`, e.g. app/dws/DwsTradeProvinceOrderWindow.java:82) — the shuffle
happens on every run. At 100 TB the equivalent Spark lever is to pay the
shuffle ONCE at write time: `bucketBy(N, key)` persists each table
pre-hash-partitioned, and every subsequent join or aggregation on that
key runs shuffle-free (the scan exposes the hash distribution to
Catalyst, which elides the Exchange).

Rules that make it work, encoded in `write_bucketed`:
- both sides of a co-located join need the SAME bucket count and key;
- `sortBy` within buckets lets SortMergeJoin skip its sort too;
- bucket pruning applies to point predicates on the bucket key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, key: str,
                   num_buckets: int = 32, sort: bool = True) -> None:
    """Persist ``df`` as a managed parquet table bucketed by ``key``.

    One shuffle now, zero shuffles for every later join/groupBy on
    ``key`` against a table bucketed with the same (key, num_buckets).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def executed_plan(df: DataFrame) -> str:
    """Final physical plan as text (post-AQE where applicable)."""
    return df._jdf.queryExecution().executedPlan().toString()


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the physical plan."""
    plan = executed_plan(df)
    return sum(1 for line in plan.splitlines() if "Exchange hashpartitioning" in line)


def write_range_sorted(df: DataFrame, path: str, key: str,
                       num_files: int = 32) -> None:
    """Globally-sorted parquet export: repartitionByRange(key) +
    sortWithinPartitions(key). Each output file covers a disjoint key
    range (file i's max < file i+1's min), and rows are sorted inside —
    the layout consumers want for merge-reads, binary-search point
    lookups, and min/max-statistics data skipping.

    This is how a "global ORDER BY export" scales: a true global sort
    into one file serializes on a single writer; range partitioning
    samples the key distribution (RangePartitioner) to cut balanced
    ranges, then every partition sorts independently — one pass, fully
    parallel, and the concatenation of files in range order IS the
    total order.
    """
    (df.repartitionByRange(num_files, key)
       .sortWithinPartitions(key)
       .write.mode("overwrite").parquet(path))


def compact_small_files(spark: SparkSession, path: str,
                        target_bytes: int = 128 * 1024 * 1024,
                        partition_col: str | None = None) -> dict:
    """Small-file compaction — the maintenance pass every streaming sink
    eventually needs: micro-batch commits leave O(batches) tiny parquet
    files, scan parallelism degrades to file count, and the NameNode /
    listing cost grows unbounded. Rewrite the dataset so each output
    file is ~``target_bytes``.

    Mechanics: measure the current on-disk size, compute the file count
    that hits the target, and rewrite via a crash-recoverable
    stage -> swap (unique-suffix dirs; interrupted swaps are repaired on
    the next call) using
    ``repartition(n)`` — or ``repartition(n, partition_col)`` to keep a
    downstream-join key clustered through the rewrite. Returns
    before/after file counts and bytes. At 100 TB this runs per
    partition-directory (bounded unit of work), not whole-table; the
    same stage->swap pattern as ParquetUpsertSink keeps readers
    consistent (parquet dirs are swapped under a rename).
    """
    import os
    import shutil

    def _stats(p: str) -> tuple[int, int]:
        n = b = 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(root, f))
        return n, b

    import glob
    import uuid

    import time

    base = path.rstrip("/")
    # Stale stage/backup dirs from a prior CRASHED run would make the
    # renames below fail; clear them first.  Two guards so the sweep
    # can't eat a CONCURRENT run's in-flight dirs: (a) glob.escape the
    # base so paths containing glob metacharacters ([, *, ?) match
    # literally; (b) only reap leftovers older than ``stale_s`` — an
    # in-flight sibling compaction's staged dir is seconds old, a
    # crashed run's leftover is not.  A leftover ._precompact.* means a
    # prior run crashed AFTER moving the live dataset aside but BEFORE
    # promoting its staged copy — restore it if the live path is gone
    # (recovery beats the age gate: the dataset is otherwise lost),
    # else drop it once stale (the live path superseded it).
    stale_s = 3600.0
    now = time.time()

    def _stale(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) > stale_s
        except OSError:
            return False   # vanished underneath us — someone else owns it
    for leftover in glob.glob(glob.escape(base) + "._compacting.*"):
        if _stale(leftover):
            shutil.rmtree(leftover, ignore_errors=True)
    for leftover in glob.glob(glob.escape(base) + "._precompact.*"):
        if not os.path.exists(path):
            os.rename(leftover, path)
        elif _stale(leftover):
            shutil.rmtree(leftover, ignore_errors=True)

    files_before, bytes_total = _stats(path)
    n_out = max(1, -(-bytes_total // target_bytes))  # ceil
    df = spark.read.parquet(path)
    rep = (df.repartition(n_out, partition_col) if partition_col
           else df.repartition(n_out))
    run_id = uuid.uuid4().hex[:12]
    staged = f"{base}._compacting.{run_id}"
    old = f"{base}._precompact.{run_id}"
    rep.write.mode("overwrite").parquet(staged)
    # Two renames can't be one atomic op on POSIX; make the gap
    # recoverable instead: move live aside, promote staged, and roll the
    # original back if promotion fails.  A crash inside the gap leaves a
    # ._precompact.* dir that the stale-leftover sweep above restores on
    # the next invocation, so no state is ever stranded.
    os.rename(path, old)
    try:
        os.rename(staged, path)
    except OSError:
        os.rename(old, path)   # roll back to the original dataset
        shutil.rmtree(staged, ignore_errors=True)
        raise
    shutil.rmtree(old)
    files_after, bytes_after = _stats(path)
    return {"files_before": files_before, "files_after": files_after,
            "bytes_before": bytes_total, "bytes_after": bytes_after}


# ---------------------------------------------------------------------------
# Z-order (Morton) multi-dimensional clustering + locality audit.
#
# Bucketing co-locates ONE key; when scans filter on TWO independent
# dimensions, linear sort order gives perfect pruning on the leading
# dim and none on the other. Interleaving the dimensions' bits (the
# Delta/Iceberg OPTIMIZE ZORDER layout) bounds every file's bounding
# box in BOTH dims, so min/max file statistics prune on either
# predicate. The audit below measures exactly that: per-tile bounding
# spans under linear vs z-order layout over the same rows.
# ---------------------------------------------------------------------------

ZORDER_BITS = 16     # per-dimension resolution
ZORDER_TILES = 64    # simulated file count


def zorder_write_path(df: DataFrame, xcol: str, ycol: str,
                      xmin: int, xrng: int, ymin: int, yrng: int,
                      num_files: int = 32) -> DataFrame:
    """The z-order WRITE path exactly as it runs at 100 TB: scan →
    map-side bit-interleave projection (bx/by/zval are pure expressions,
    no shuffle) → ONE range exchange on zval → within-partition sort.
    Writing the result with ``.write.parquet`` yields files whose
    (x, y) bounding boxes are bounded in BOTH dims — the layout
    `layout_zorder_locality` audits.

    The extents come in as scalars: at scale they're computed once by a
    separate bounded agg (or known from table statistics), so the write
    plan itself stays a single-pass scan + one Exchange — asserted by
    ``tests/test_plan_quality.py::test_zorder_write_path_single_range_exchange``.
    """
    from pyspark.sql import functions as F

    b = ZORDER_BITS
    mx = (1 << b) - 1
    z = (df.withColumn("bx", F.expr(f"div(({xcol} - {xmin}) * {mx}, {xrng})"))
           .withColumn("by", F.expr(f"div(({ycol} - {ymin}) * {mx}, {yrng})"))
           .withColumn("zval", F.expr(
               f"aggregate(sequence(0, {b - 1}), cast(0 as bigint),"
               " (acc, i) -> acc"
               "   + shiftleft(cast((bx >> i) & 1 as bigint), 2 * i)"
               "   + shiftleft(cast((by >> i) & 1 as bigint), 2 * i + 1))"))
           .drop("bx", "by"))
    return z.repartitionByRange(num_files, "zval").sortWithinPartitions("zval")


def hilbert_write_path(df: DataFrame, xcol: str, ycol: str,
                       xmin: int, xrng: int, ymin: int, yrng: int,
                       num_files: int = 32) -> DataFrame:
    """The Hilbert-curve WRITE path (r15 — completing the family whose
    curve `layout_hilbert_locality` audits): scan → map-side grid
    normalization → the unrolled per-level bit machine as chained
    projections (`operators/hilbert.py hilbert_level_selects`, all
    inside whole-stage codegen, no UDF) → ONE range exchange on the
    curve key ``hd`` → within-partition sort.  Writing the result
    yields files whose (x, y) bounding boxes are bounded in BOTH dims
    AND whose consecutive files are 4-adjacent along the curve — the
    strictly-better locality the audit measures against z-order.

    Same contract as :func:`zorder_write_path`: extents come in as
    scalars (computed once by a separate bounded agg or known from
    table statistics), so the write plan stays a single-pass scan +
    one Exchange — asserted by ``tests/test_plan_quality.py::
    test_hilbert_write_path_single_range_exchange``.  Exposes the
    input columns plus (bx, by, hd).
    """
    from pyspark.sql import functions as F

    from gmall_211027_flink_spark.operators.hilbert import (
        HILBERT_ORDER, hilbert_level_selects)

    mx = (1 << HILBERT_ORDER) - 1
    keep = list(df.columns)
    h = (df.withColumn("bx", F.expr(
            f"div(({xcol} - {xmin}) * {mx}, {xrng})"))
           .withColumn("by", F.expr(
            f"div(({ycol} - {ymin}) * {mx}, {yrng})")))
    for level in hilbert_level_selects("bx", "by", "spark",
                                       HILBERT_ORDER):
        h = h.selectExpr("*", *level)
    h = h.select(*keep, "bx", "by", "hd")
    return h.repartitionByRange(num_files, "hd").sortWithinPartitions("hd")


def _zorder_audit_oracle() -> str:
    b = ZORDER_BITS
    return f"""
    WITH base AS (
      SELECT l_orderkey, l_linenumber, l_partkey AS x, l_suppkey AS y
      FROM lineitem
    ),
    ext AS (
      SELECT MIN(x) AS xmin, GREATEST(MAX(x) - MIN(x), 1) AS xrng,
             MIN(y) AS ymin, GREATEST(MAX(y) - MIN(y), 1) AS yrng
      FROM base
    ),
    norm AS (
      SELECT l_orderkey, l_linenumber,
             (x - e.xmin) * {(1 << b) - 1} // e.xrng AS bx,
             (y - e.ymin) * {(1 << b) - 1} // e.yrng AS by
      FROM base, ext e
    ),
    keyed AS (
      SELECT l_orderkey, l_linenumber, bx, by,
             CAST(list_sum(list_transform(range(0, {b}), i ->
               ((bx >> i) & 1) * (1::BIGINT << (2 * i))
               + ((by >> i) & 1) * (1::BIGINT << (2 * i + 1))))
               AS BIGINT) AS zval
      FROM norm
    ),
    tiled AS (
      SELECT 'zorder' AS layout, bx, by,
             NTILE({ZORDER_TILES}) OVER
               (ORDER BY zval, l_orderkey, l_linenumber) AS tile
      FROM keyed
      UNION ALL
      SELECT 'linear', bx, by,
             NTILE({ZORDER_TILES}) OVER
               (ORDER BY bx, by, l_orderkey, l_linenumber)
      FROM keyed
    ),
    spans AS (
      SELECT layout, tile,
             MAX(bx) - MIN(bx) + 1 AS span_x,
             MAX(by) - MIN(by) + 1 AS span_y
      FROM tiled GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(span_x) AS BIGINT) AS total_span_x,
           CAST(SUM(span_y) AS BIGINT) AS total_span_y
    FROM spans GROUP BY layout
    """


def _register_zorder() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.registry import query

    @query("layout_zorder_locality", oracle=_zorder_audit_oracle())
    def layout_zorder_locality(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
        """Per-tile bounding-box audit: z-order vs linear clustering of
        lineitem on (l_partkey, l_suppkey), {ZORDER_TILES} simulated
        files. total_span_y collapses by orders of magnitude under
        z-order (both dims prunable) while linear keeps span_y at full
        range in every tile.

        Scale shape: the audited WRITE path at 100 TB is
        repartitionByRange(zval) + sortWithinPartitions(zval) — a
        single range shuffle, same cost class as any sorted export; the
        z-value itself is a map-side bit-interleave expression. The
        audit's NTILE total order exists only to make the tile
        assignment deterministic for the oracle at test scale."""
        b = ZORDER_BITS
        base = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber",
            F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y"))
        ext = base.agg(
            F.min("x").alias("xmin"),
            F.greatest(F.max("x") - F.min("x"), F.lit(1)).alias("xrng"),
            F.min("y").alias("ymin"),
            F.greatest(F.max("y") - F.min("y"), F.lit(1)).alias("yrng"))
        norm = base.crossJoin(F.broadcast(ext)).select(
            "l_orderkey", "l_linenumber",
            F.expr(f"div((x - xmin) * {(1 << b) - 1}, xrng)").alias("bx"),
            F.expr(f"div((y - ymin) * {(1 << b) - 1}, yrng)").alias("by"))
        keyed = norm.withColumn("zval", F.expr(
            f"aggregate(sequence(0, {b - 1}), cast(0 as bigint),"
            " (acc, i) -> acc"
            "   + shiftleft(cast((bx >> i) & 1 as bigint), 2 * i)"
            "   + shiftleft(cast((by >> i) & 1 as bigint), 2 * i + 1))"))
        ztile = keyed.select(
            F.lit("zorder").alias("layout"), "bx", "by",
            F.ntile(ZORDER_TILES).over(
                Window.orderBy("zval", "l_orderkey", "l_linenumber"))
            .alias("tile"))
        ltile = keyed.select(
            F.lit("linear").alias("layout"), "bx", "by",
            F.ntile(ZORDER_TILES).over(
                Window.orderBy("bx", "by", "l_orderkey", "l_linenumber"))
            .alias("tile"))
        spans = (ztile.unionAll(ltile)
                 .groupBy("layout", "tile")
                 .agg((F.max("bx") - F.min("bx") + 1).alias("span_x"),
                      (F.max("by") - F.min("by") + 1).alias("span_y")))
        return (spans.groupBy("layout")
                .agg(F.count("*").cast("bigint").alias("n_tiles"),
                     F.sum("span_x").cast("bigint").alias("total_span_x"),
                     F.sum("span_y").cast("bigint").alias("total_span_y")))


_register_zorder()


# ---------------------------------------------------------------------------
# MERGE INTO (apply-changes upsert): the lake's write-side primitive —
# given a base snapshot and a keyed changelog, produce the next
# snapshot with UPDATE / DELETE / INSERT semantics in ONE keyed
# full-outer join + CASE resolution (the shape Delta/Iceberg MERGE
# compiles to). dataset_snapshot_diff computes WHAT changed; this is
# the half that APPLIES it. Changelog synthesized deterministically
# from the customer table: key%5==0 -> update (+100 balance),
# key%5==1 -> delete, and a disjoint new-key range -> insert.
#
# Scale: the join is the only corpus-sized stage and runs on the merge
# key — on a bucketed base table (write_bucketed above) it is
# Exchange-free on the base side; the audit output is a constant-size
# per-action/per-nation rollup. All-decimal balance sums.
# ---------------------------------------------------------------------------

MERGE_INSERT_OFFSET = 1_000_000   # new-key range for synthesized inserts


def _register_merge() -> None:
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..registry import query
    from ..session import checkpoint

    @query(
        "lake_merge_upsert",
        oracle=f"""
        WITH base AS (
          SELECT c_custkey AS k, c_nationkey AS nk,
                 CAST(c_acctbal AS DECIMAL(18,2)) AS bal
          FROM customer
        ),
        changes AS (
          SELECT k, nk, bal + 100 AS bal, 'update' AS op
          FROM base WHERE k % 5 = 0
          UNION ALL
          SELECT k, nk, bal, 'delete' FROM base WHERE k % 5 = 1
          UNION ALL
          SELECT k + {MERGE_INSERT_OFFSET}, nk,
                 CAST(500 AS DECIMAL(18,2)), 'insert'
          FROM base WHERE k % 5 = 2
        ),
        merged AS (
          SELECT COALESCE(c.k, b.k) AS k,
                 COALESCE(c.nk, b.nk) AS nk,
                 CASE WHEN c.op IN ('update', 'insert') THEN c.bal
                      ELSE b.bal END AS bal,
                 COALESCE(c.op, 'carry') AS action
          FROM base b FULL OUTER JOIN changes c ON c.k = b.k
          WHERE c.op IS DISTINCT FROM 'delete'
        )
        SELECT action, CAST(nk AS BIGINT) AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS row_ct,
               CAST(SUM(bal) AS DOUBLE) AS bal_sum
        FROM merged GROUP BY 1, 2 ORDER BY 1, 2
        """,
    )
    def lake_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
        base = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"),
            F.col("c_nationkey").alias("nk"),
            F.col("c_acctbal").cast("decimal(18,2)").alias("bal"))
        base = checkpoint(base, eager=False)  # source of the changes too
        changes = (
            base.filter(F.col("k") % 5 == 0)
            .select("k", "nk", (F.col("bal") + 100).alias("bal"),
                    F.lit("update").alias("op"))
            .unionByName(base.filter(F.col("k") % 5 == 1)
                         .select("k", "nk", "bal",
                                 F.lit("delete").alias("op")))
            .unionByName(base.filter(F.col("k") % 5 == 2)
                         .select((F.col("k") + MERGE_INSERT_OFFSET)
                                 .alias("k"), "nk",
                                 F.lit(500).cast("decimal(18,2)")
                                 .alias("bal"),
                                 F.lit("insert").alias("op"))))
        c = changes.select(F.col("k").alias("ck"), F.col("nk").alias("cnk"),
                           F.col("bal").alias("cbal"), "op")
        merged = (base.join(c, base.k == c.ck, "full_outer")
                  # IS DISTINCT FROM 'delete': keep non-matched base rows
                  .filter(F.col("op").isNull() | (F.col("op") != "delete"))
                  .select(
                      F.coalesce("ck", "k").alias("k"),
                      F.coalesce("cnk", "nk").alias("nk"),
                      F.when(F.col("op").isin("update", "insert"),
                             F.col("cbal")).otherwise(F.col("bal"))
                      .alias("bal"),
                      F.coalesce("op", F.lit("carry")).alias("action")))
        return (merged.groupBy("action",
                               F.col("nk").cast("bigint").alias("nationkey"))
                .agg(F.count("*").cast("bigint").alias("row_ct"),
                     F.sum("bal").cast("double").alias("bal_sum"))
                .orderBy("action", "nationkey"))


_register_merge()


# ---------------------------------------------------------------------------
# Compaction plan (r8) — the table-maintenance half the lake family
# was missing: given a file inventory (here a deterministic one
# derived from orders: one "file" per (dt, order-priority), sized by
# row count), produce the binpack plan a Delta/Iceberg OPTIMIZE
# executes — per partition, sort files largest-first and fill bins to
# COMPACT_TARGET_BYTES. The emitted (dt, bin, n_files, bin_bytes)
# rows ARE the rewrite tasks.
#
# Bin rule (exact integer arithmetic, both engines): order files by
# (size DESC, file id), bin = cumulative-bytes-before-this-file //
# target — the sequential fill that binpack compaction uses;
# over-target files land alone in their own bin by construction.
#
# Scale: planning runs on the FILE INVENTORY (metadata grain), not
# the data — the windows are partitioned BY dt, so the plan
# parallelizes across partitions exactly like a real table service;
# no global sort, no corpus-sized shuffle beyond the initial
# inventory aggregate.
# ---------------------------------------------------------------------------

COMPACT_ROW_BYTES = 512          # synthetic per-row footprint
COMPACT_TARGET_BYTES = 8_192     # bin target: merges ~2-16 daily files


def _register_compaction() -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..catalog import load_table
    from ..registry import query

    @query(
        "lake_compaction_plan",
        oracle=f"""
        WITH inv AS (
          SELECT CAST(o_orderdate AS DATE) AS dt,
                 o_orderpriority AS fid,
                 CAST(COUNT(*) * {COMPACT_ROW_BYTES} AS BIGINT) AS bytes
          FROM orders GROUP BY 1, 2
        ),
        planned AS (
          SELECT dt, fid, bytes,
                 COALESCE(CAST(SUM(bytes) OVER (PARTITION BY dt
                     ORDER BY bytes DESC, fid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS BIGINT), 0) // {COMPACT_TARGET_BYTES} AS bin
          FROM inv
        )
        SELECT dt, CAST(bin AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(bytes) AS BIGINT) AS bin_bytes
        FROM planned GROUP BY 1, 2
        """,
    )
    def lake_compaction_plan(spark, sf_dir: str):
        """Binpack compaction plan over the synthetic per-(dt,
        priority) file inventory (see block comment)."""
        orders = load_table(spark, sf_dir, "orders")
        inv = (orders.groupBy(F.to_date("o_orderdate").alias("dt"),
                              F.col("o_orderpriority").alias("fid"))
               .agg((F.count("*") * COMPACT_ROW_BYTES).cast("bigint")
                    .alias("bytes")))
        w = (Window.partitionBy("dt")
             .orderBy(F.desc("bytes"), "fid")
             .rowsBetween(Window.unboundedPreceding, -1))
        planned = inv.withColumn(
            "bin",
            F.floor(F.coalesce(F.sum("bytes").over(w),
                               F.lit(0).cast("bigint"))
                    / COMPACT_TARGET_BYTES).cast("bigint"))
        return (planned.groupBy("dt", "bin")
                .agg(F.count("*").cast("bigint").alias("n_files"),
                     F.sum("bytes").cast("bigint").alias("bin_bytes")))


_register_compaction()


from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from gmall_211027_flink_spark.catalog import load_table  # noqa: E402
from gmall_211027_flink_spark.registry import query  # noqa: E402


# ---------------------------------------------------------------------------
# Partition-skew audit (r9) — the table-service readout next to the
# compaction planner above: per month-partition row counts reduced to
# the skew numbers an ops rota actually alerts on (max/mean ratio,
# exact median, how many partitions run > 2x mean). A 100 TB
# date-partitioned fact whose hottest month is 5x the median needs
# salting or sub-partitioning BEFORE the nightly job discovers it.
#
# Exactness: counts are exact; the median is the exact order statistic
# at rank ceil(n/2) over the ~80-month grid; ratios are identical
# double expressions 6-dp rounded. Scale: one groupBy to month grain;
# everything after is constant-size.
# ---------------------------------------------------------------------------

@query(
    "lake_partition_skew_audit",
    oracle="""
    WITH parts AS (
      SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS dt,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT dt, n_rows,
             row_number() OVER (ORDER BY n_rows, dt) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS np,
             CAST(SUM(n_rows) OVER () AS BIGINT) AS total
      FROM parts
    )
    SELECT any_value(np) AS n_partitions,
           CAST(MAX(n_rows) AS BIGINT) AS max_rows,
           round(CAST(any_value(total) AS DOUBLE) / any_value(np), 6)
             AS mean_rows,
           CAST(MAX(CASE WHEN rk = CAST(ceil(np / 2.0) AS BIGINT)
                    THEN n_rows END) AS BIGINT) AS median_rows,
           round(MAX(n_rows) / (CAST(any_value(total) AS DOUBLE)
                                / any_value(np)), 6) AS max_over_mean,
           CAST(SUM(CASE WHEN n_rows * any_value_np > 2 * any_value_total
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_over_2x_mean
    FROM (SELECT *, MAX(np) OVER () AS any_value_np,
                 MAX(total) OVER () AS any_value_total
          FROM ranked)
    """,
)
def lake_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-partition skew summary for the orders fact
    (see block comment)."""
    orders = load_table(spark, sf_dir, "orders")
    parts = (orders.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                            .alias("dt"))
             .agg(F.count("*").cast("bigint").alias("n_rows")))
    # ~80-month grid: single-task rank window on a constant-size frame
    ranked = parts.select(
        "dt", "n_rows",
        F.row_number().over(Window.orderBy("n_rows", "dt")).alias("rk"),
        F.count("*").over(Window.partitionBy()).cast("bigint").alias("np"),
        F.sum("n_rows").over(Window.partitionBy()).cast("bigint")
        .alias("total"))
    return ranked.agg(
        F.first("np").alias("n_partitions"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
        F.round(F.first("total").cast("double") / F.first("np"), 6)
        .alias("mean_rows"),
        F.max(F.when(F.col("rk")
                     == F.ceil(F.col("np") / 2.0).cast("bigint"),
                     F.col("n_rows"))).cast("bigint").alias("median_rows"),
        F.round(F.max("n_rows")
                / (F.first("total").cast("double") / F.first("np")), 6)
        .alias("max_over_mean"),
        F.sum(F.when(F.col("n_rows") * F.col("np")
                     > 2 * F.col("total"), 1).otherwise(0))
        .cast("bigint").alias("n_over_2x_mean"))


# ---------------------------------------------------------------------------
# Clustering-depth audit (r11) — the Delta/Iceberg OPTIMIZE planning
# metric: model data files as orderkey-chunked groups, take each file's
# [min, max] orderdate range, and measure how deeply the ranges overlap
# (depth 1 = perfectly clustered: any date predicate prunes to one
# file; depth ~ n_files = worst case: every scan touches every file).
# Computed as an exact sweep line: +1 at each file's min day, -1 past
# its max day, net deltas per day, running depth, gap-weighted mean.
# EXACTNESS: all integers (days, depths, gaps); mean depth is one
# quantized rational.  SCALE: per-file min/max is one groupBy; the
# sweep runs on <= 2*n_files boundary rows (DAY-GRAIN bounded).
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from gmall_211027_flink_spark.catalog import load_table  # noqa: E402
from gmall_211027_flink_spark.registry import query  # noqa: E402

LAKE_FILE_CHUNK = 4096     # orders per modeled file


@query(
    "lake_clustering_depth_audit",
    oracle=f"""
    WITH files AS (
      SELECT o_orderkey // {LAKE_FILE_CHUNK} AS file_id,
             CAST(MIN(datediff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE))) AS BIGINT) AS lo,
             CAST(MAX(datediff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE))) AS BIGINT) AS hi
      FROM orders GROUP BY 1
    ),
    ev AS (
      SELECT lo AS day, 1 AS delta FROM files
      UNION ALL
      SELECT hi + 1 AS day, -1 AS delta FROM files
    ),
    net AS (
      SELECT day, CAST(SUM(delta) AS BIGINT) AS d FROM ev GROUP BY 1
    ),
    sweep AS (
      SELECT day,
             CAST(SUM(d) OVER (ORDER BY day) AS BIGINT) AS depth,
             lead(day) OVER (ORDER BY day) - day AS gap
      FROM net
    )
    SELECT CAST((SELECT COUNT(*) FROM files) AS BIGINT) AS n_files,
           CAST(MAX(depth) AS BIGINT) AS max_depth,
           CAST(SUM(depth * gap) AS BIGINT) AS depth_day_area,
           CAST(SUM(CASE WHEN depth > 0 THEN gap ELSE 0 END) AS BIGINT)
             AS span_days,
           CAST(CAST(floor(
             CAST(SUM(depth * gap) AS DOUBLE)
             / SUM(CASE WHEN depth > 0 THEN gap ELSE 0 END)
             * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
             AS mean_depth
    FROM sweep WHERE gap IS NOT NULL
    """,
)
def lake_clustering_depth_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Range-overlap depth of modeled data files on the orderdate
    clustering key (see block comment)."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1970-01-01")).cast("bigint")
    files = (orders.groupBy(
        F.expr(f"o_orderkey div {LAKE_FILE_CHUNK}").alias("file_id"))
        .agg(F.min(day).alias("lo"), F.max(day).alias("hi")))
    n_files = files.agg(F.count("*").cast("bigint").alias("n_files"))
    ev = (files.select(F.col("lo").alias("day"), F.lit(1).alias("delta"))
          .unionByName(files.select((F.col("hi") + 1).alias("day"),
                                    F.lit(-1).alias("delta"))))
    net = ev.groupBy("day").agg(F.sum("delta").cast("bigint").alias("d"))
    # sweep over <= 2*n_files boundary days: bounded single partition
    w = Window.orderBy("day")
    sweep = net.select(
        "day",
        F.sum("d").over(w).cast("bigint").alias("depth"),
        (F.lead("day").over(w) - F.col("day")).alias("gap")
    ).filter(F.col("gap").isNotNull())
    pos_gap = F.when(F.col("depth") > 0, F.col("gap")).otherwise(0)
    return (sweep.agg(
        F.max("depth").cast("bigint").alias("max_depth"),
        F.sum(F.col("depth") * F.col("gap")).cast("bigint")
        .alias("depth_day_area"),
        F.sum(pos_gap).cast("bigint").alias("span_days"),
        (F.floor(F.sum(F.col("depth") * F.col("gap")).cast("double")
                 / F.sum(pos_gap) * F.lit(1000000.0) + F.lit(0.5))
         .cast("bigint").cast("double") / F.lit(1000000.0))
        .alias("mean_depth"))
        .crossJoin(F.broadcast(n_files))
        .select("n_files", "max_depth", "depth_day_area", "span_days",
                "mean_depth"))


# ---------------------------------------------------------------------------
# Hilbert-curve clustering + 3-way locality audit (r14) — the
# locality-preserving companion to layout_zorder_locality.  Morton
# interleave is cheap but jumps: consecutive z-values can sit half the
# key space apart in one dimension, so some tile bounding boxes
# straddle those seams.  Consecutive HILBERT indices are always
# 4-adjacent (operators/hilbert.py pins the property), so a
# Hilbert-clustered layout's per-file bounding boxes are never worse
# and typically tighter — this audit measures all three layouts
# (hilbert / zorder / linear) on the SAME 2^8 x 2^8 normalized grid
# over lineitem (l_partkey, l_suppkey), {ZORDER_TILES} simulated
# files, and reports per-layout total bounding spans.
#
# Engine and oracle compute hd from the SAME generated per-level
# fragments (hilbert_level_selects — engine folds them as chained
# selectExpr projections, oracle nests them as subqueries), so the
# two sides cannot drift.  zval is the 8-bit Morton interleave (the
# proven 16-bit expression at the audit's grid resolution).
#
# Scale shape: identical to the z-order audit — the 100 TB WRITE path
# is repartitionByRange(hd) + sortWithinPartitions(hd) (one range
# exchange; hd is ~16 chained map-side projections, all whole-stage
# codegen); the audit's NTILE total order exists only to make tile
# assignment deterministic for the oracle at test scale.
# ---------------------------------------------------------------------------

def _hilbert_audit_oracle() -> str:
    from gmall_211027_flink_spark.operators.hilbert import (
        HILBERT_ORDER, hilbert_sql)

    b = HILBERT_ORDER
    mx = (1 << b) - 1
    hil = hilbert_sql("norm", "bx", "by", "duckdb")
    return f"""
    WITH base AS (
      SELECT l_orderkey, l_linenumber, l_partkey AS x, l_suppkey AS y
      FROM lineitem
    ),
    ext AS (
      SELECT MIN(x) AS xmin, GREATEST(MAX(x) - MIN(x), 1) AS xrng,
             MIN(y) AS ymin, GREATEST(MAX(y) - MIN(y), 1) AS yrng
      FROM base
    ),
    norm AS (
      SELECT l_orderkey, l_linenumber,
             (x - e.xmin) * {mx} // e.xrng AS bx,
             (y - e.ymin) * {mx} // e.yrng AS by
      FROM base, ext e
    ),
    hil AS ({hil}),
    keyed AS (
      SELECT l_orderkey, l_linenumber, bx, by, hd,
             CAST(list_sum(list_transform(range(0, {b}), i ->
               ((bx >> i) & 1) * (1::BIGINT << (2 * i))
               + ((by >> i) & 1) * (1::BIGINT << (2 * i + 1))))
               AS BIGINT) AS zval
      FROM hil
    ),
    tiled AS (
      SELECT 'hilbert' AS layout, bx, by,
             NTILE({ZORDER_TILES}) OVER
               (ORDER BY hd, l_orderkey, l_linenumber) AS tile
      FROM keyed
      UNION ALL
      SELECT 'zorder', bx, by,
             NTILE({ZORDER_TILES}) OVER
               (ORDER BY zval, l_orderkey, l_linenumber)
      FROM keyed
      UNION ALL
      SELECT 'linear', bx, by,
             NTILE({ZORDER_TILES}) OVER
               (ORDER BY bx, by, l_orderkey, l_linenumber)
      FROM keyed
    ),
    spans AS (
      SELECT layout, tile,
             MAX(bx) - MIN(bx) + 1 AS span_x,
             MAX(by) - MIN(by) + 1 AS span_y
      FROM tiled GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(span_x) AS BIGINT) AS total_span_x,
           CAST(SUM(span_y) AS BIGINT) AS total_span_y
    FROM spans GROUP BY layout
    """


def _register_hilbert() -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.hilbert import (
        HILBERT_ORDER, hilbert_level_selects)
    from gmall_211027_flink_spark.registry import query

    @query("layout_hilbert_locality", oracle=_hilbert_audit_oracle())
    def layout_hilbert_locality(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
        """3-way per-tile bounding-box audit: hilbert vs zorder vs
        linear clustering of lineitem on (l_partkey, l_suppkey) over
        the same 2^8 grid (see block comment)."""
        b = HILBERT_ORDER
        mx = (1 << b) - 1
        base = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber",
            F.col("l_partkey").alias("x"), F.col("l_suppkey").alias("y"))
        ext = base.agg(
            F.min("x").alias("xmin"),
            F.greatest(F.max("x") - F.min("x"), F.lit(1)).alias("xrng"),
            F.min("y").alias("ymin"),
            F.greatest(F.max("y") - F.min("y"), F.lit(1)).alias("yrng"))
        norm = base.crossJoin(F.broadcast(ext)).select(
            "l_orderkey", "l_linenumber",
            F.expr(f"div((x - xmin) * {mx}, xrng)").alias("bx"),
            F.expr(f"div((y - ymin) * {mx}, yrng)").alias("by"))
        # hd from the SAME generated fragments the oracle nests — one
        # chained projection per level (all map-side, codegen)
        hil = norm
        for level in hilbert_level_selects("bx", "by", "spark", b):
            hil = hil.selectExpr("*", *level)
        keyed = hil.select(
            "l_orderkey", "l_linenumber", "bx", "by", "hd",
            F.expr(
                f"aggregate(sequence(0, {b - 1}), cast(0 as bigint),"
                " (acc, i) -> acc"
                "   + shiftleft(cast((bx >> i) & 1 as bigint), 2 * i)"
                "   + shiftleft(cast((by >> i) & 1 as bigint), 2 * i + 1))"
            ).alias("zval"))
        tiles = []
        for layout, key in (("hilbert", "hd"), ("zorder", "zval"),
                            ("linear", None)):
            order_cols = ([key] if key else ["bx", "by"]) + [
                "l_orderkey", "l_linenumber"]
            tiles.append(keyed.select(
                F.lit(layout).alias("layout"), "bx", "by",
                F.ntile(ZORDER_TILES).over(Window.orderBy(*order_cols))
                .alias("tile")))
        union = tiles[0].unionAll(tiles[1]).unionAll(tiles[2])
        spans = (union.groupBy("layout", "tile")
                 .agg((F.max("bx") - F.min("bx") + 1).alias("span_x"),
                      (F.max("by") - F.min("by") + 1).alias("span_y")))
        return (spans.groupBy("layout")
                .agg(F.count("*").cast("bigint").alias("n_tiles"),
                     F.sum("span_x").cast("bigint").alias("total_span_x"),
                     F.sum("span_y").cast("bigint").alias("total_span_y")))


_register_hilbert()
