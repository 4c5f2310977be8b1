"""File-based sources (test/prod parquet paths + streaming readers).

Every streaming job in this engine takes a DataFrame, not a topic name —
so tests drive them with these file streams (availableNow) while prod
wires sources/kafka.py builders. This is the reference's
stream/table duality (SURVEY §1.3) expressed as dependency injection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..tempdir import temp_store


def stream_parquet(spark: SparkSession, path: str,
                   schema: T.StructType | None = None) -> DataFrame:
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def stream_json(spark: SparkSession, path: str,
                schema: T.StructType) -> DataFrame:
    return spark.readStream.schema(schema).json(path)


def rate_source(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic load source for smoke tests (reference uses socket/print
    experiments in its test dir; rate is Spark's built-in equivalent)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second).load()
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table (normalizes the ts column the same way
    catalog.load_table does for batch reads — bigint-nanos, TIMESTAMP_NTZ
    and plain TIMESTAMP encodings all surface as TimestampType)."""
    from ..catalog import normalize_event_ts
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the streaming file source requires a directory: point it at sf_dir
    # and glob-filter to the one table file
    stream = (spark.readStream.schema(batch_schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    return normalize_event_ts(stream)


def read_json(spark: SparkSession, path: str,
              schema: T.StructType) -> DataFrame:
    """Batch JSON reader with EXPLICIT schema — never inferSchema in a
    pipeline (a schema inferred from one day's files silently drifts on
    the next; the reference's Flink jobs declare every topic's schema in
    DDL for the same reason, MyKafkaUtil.java:65-72)."""
    return spark.read.schema(schema).json(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType,
             header: bool = True, sep: str = ",") -> DataFrame:
    """Batch CSV reader, schema-explicit, PERMISSIVE with a corrupt-
    record column so dirty rows land in a quarantine filter instead of
    killing the job (same dirty-side-output posture as P1)."""
    full = T.StructType(schema.fields
                        + [T.StructField("_corrupt", T.StringType())])
    return (spark.read.schema(full)
            .option("header", str(header).lower())
            .option("sep", sep)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path))


# ---------------------------------------------------------------------------
# Format round-trip gate queries: prove the CSV and JSON sources above
# are lossless for the engine's core scalar types (bigint / string /
# double) by exporting the events table through each format, reading it
# back with the EXPLICIT schemas declared here, and aggregating — the
# result must hash-match the DuckDB oracle computed on the original
# parquet. Doubles survive because Spark writes shortest-round-trip
# decimal text; the aggregate sums ride as DECIMAL(18,2) per repo
# convention. Each gate runs under ``temp_store``, which materializes the
# result and removes the temp export.
# ---------------------------------------------------------------------------

_RT_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY 1
"""

_RT_SCHEMA = ("event_id bigint, user_id bigint, event_type string, "
              "value double")


def _roundtrip(spark: SparkSession, sf_dir: str, tmp_dir: str,
               fmt: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..catalog import load_table

    src = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    path = f"{tmp_dir}/events_{fmt}"
    if fmt == "csv":
        src.write.option("header", "true").csv(path)
        back = read_csv(spark, path,
                        T.StructType.fromDDL(_RT_SCHEMA)).drop("_corrupt")
    else:
        src.write.json(path)
        back = read_json(spark, path, T.StructType.fromDDL(_RT_SCHEMA))
    return (back.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 F.countDistinct("user_id").cast("bigint")
                  .alias("n_users"),
                 F.sum(F.col("value").cast("decimal(18,2)"))
                  .cast("double").alias("value_sum"),
                 F.min("event_id").cast("bigint").alias("min_event_id"),
                 F.max("event_id").cast("bigint").alias("max_event_id")))


def _register_roundtrips() -> None:
    from ..registry import query

    @query("source_csv_roundtrip", oracle=_RT_ORACLE)
    @temp_store
    def source_csv_roundtrip(spark: SparkSession, sf_dir: str,
                             tmp_dir: str) -> DataFrame:
        return _roundtrip(spark, sf_dir, tmp_dir, "csv")

    @query("source_json_roundtrip", oracle=_RT_ORACLE)
    @temp_store
    def source_json_roundtrip(spark: SparkSession, sf_dir: str,
                              tmp_dir: str) -> DataFrame:
        return _roundtrip(spark, sf_dir, tmp_dir, "json")


_register_roundtrips()


# ---------------------------------------------------------------------------
# Hive-style partitioned write + partition-pruned read: the layout
# discipline that makes a 100 TB fact table queryable — data written
# under dt=YYYY-MM-DD directories, and a dt filter resolved by the
# CATALOG (directory listing), never by scanning file contents. The
# reference leans on Kafka topic retention for the same time-slicing;
# on a lake the partition directory IS the retention/pruning unit.
# tests/test_r6_additions-adjacent plan test asserts PartitionFilters
# actually carries the predicate (pruning, not post-scan filtering).
# ---------------------------------------------------------------------------

_PRUNE_LO, _PRUNE_HI = "2024-01-10", "2024-01-15"

_PRUNE_ORACLE = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{_PRUNE_LO}' AND '{_PRUNE_HI}'
GROUP BY 1
"""


def write_partitioned_events(spark: SparkSession, sf_dir: str,
                             path: str) -> None:
    """Write events Hive-partitioned by event date."""
    from pyspark.sql import functions as F

    from ..catalog import load_table

    (load_table(spark, sf_dir, "events")
     .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
     .write.mode("overwrite").partitionBy("dt").parquet(path))


def read_pruned(spark: SparkSession, path: str, lo: str, hi: str) -> DataFrame:
    """Read a dt-partitioned dataset with the range predicate on the
    PARTITION column — Catalyst turns it into PartitionFilters, so only
    the matching directories are listed and scanned."""
    from pyspark.sql import functions as F

    return (spark.read.parquet(path)
            .filter(F.col("dt").between(lo, hi)))


def _register_partition_pruning() -> None:
    from ..registry import query

    @query("source_partitioned_pruning", oracle=_PRUNE_ORACLE)
    @temp_store
    def source_partitioned_pruning(spark: SparkSession, sf_dir: str,
                                   tmp_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        p = f"{tmp_dir}/events_by_dt"
        write_partitioned_events(spark, sf_dir, p)
        return (read_pruned(spark, p, _PRUNE_LO, _PRUNE_HI)
                .groupBy("event_type")
                .agg(F.count("*").cast("bigint").alias("n_events"),
                     F.countDistinct("user_id").cast("bigint")
                      .alias("n_users")))


_register_partition_pruning()


# ---------------------------------------------------------------------------
# DYNAMIC partition pruning (the 100 TB join-pruning lever): the dt
# filter arrives at the fact scan not as a literal predicate but as a
# runtime subquery over the FILTERED DIM — Spark broadcasts the dim,
# collects its join keys, and prunes fact partitions before scanning
# them. The static gate above proves literal PartitionFilters; this one
# proves the `dynamicpruning#N` subquery form (SubqueryBroadcast /
# SubqueryAdaptiveBroadcast under AQE), which is what saves the scan
# when the dt set comes from data instead of the query text.
# DPP preconditions worth encoding (learned by probe): the dim-side
# predicate must be LIKELY-SELECTIVE (an equality/IN against a literal
# — a bare boolean attribute does NOT qualify), and the fact-side join
# key must be the bare partition attribute (put any casts on the dim
# side).
# ---------------------------------------------------------------------------

_DPP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE CAST(strftime(ts, '%d') AS INT) % 7 = 3
GROUP BY 1
"""


def write_events_dt_dim(spark: SparkSession, sf_dir: str,
                        path: str) -> None:
    """A small dt-keyed dim: one row per event date, with a 'kind'
    attribute whose 'promo' value marks day-of-month % 7 == 3."""
    from pyspark.sql import functions as F

    from ..catalog import load_table

    (load_table(spark, sf_dir, "events")
     .select(F.date_format("ts", "yyyy-MM-dd").alias("dt")).distinct()
     .withColumn("kind", F.when(
         F.substring("dt", 9, 2).cast("int") % 7 == 3, "promo")
         .otherwise("normal"))
     .write.mode("overwrite").parquet(path))


def read_dpp_pruned_join(spark: SparkSession, fact_path: str,
                         dim_path: str) -> DataFrame:
    """Join a dt-partitioned fact to the dim filtered kind='promo' so
    Catalyst inserts a dynamicpruning subquery on the fact scan. The
    fact's dt partition column is directory-inferred as DATE, so the
    string->date cast goes on the DIM side — casting the fact key
    would defeat DPP."""
    from pyspark.sql import functions as F

    fact = spark.read.parquet(fact_path)
    dim = (spark.read.parquet(dim_path)
           .filter(F.col("kind") == "promo")
           .withColumn("dt", F.to_date("dt")))
    return fact.join(F.broadcast(dim), "dt")


def _register_dpp() -> None:
    from ..registry import query

    @query("source_dpp_pruned_join", oracle=_DPP_ORACLE)
    @temp_store
    def source_dpp_pruned_join(spark: SparkSession, sf_dir: str,
                               tmp_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        write_partitioned_events(spark, sf_dir, f"{tmp_dir}/fact")
        write_events_dt_dim(spark, sf_dir, f"{tmp_dir}/dim")
        return (read_dpp_pruned_join(spark, f"{tmp_dir}/fact",
                                     f"{tmp_dir}/dim")
                .groupBy("event_type")
                .agg(F.count("*").cast("bigint").alias("n_events"),
                     F.countDistinct("user_id").cast("bigint")
                      .alias("n_users")))


_register_dpp()


# ---------------------------------------------------------------------------
# Schema evolution on the lake: a CDC-fed table gains a column
# mid-stream (the upstream DDL the reference's Maxwell pipeline ships
# as `bootstrap`/`alter` events). On parquet the contract is
# mergeSchema=true at read: old files surface the new column as NULL,
# new files carry it — no rewrite of history. The gate writes two
# epochs with different schemas, rereads merged, and aggregates over
# the union; the oracle replays the same two epochs in SQL. At 100 TB
# the point is what this does NOT cost: zero data rewritten, schema
# resolved per file footer at scan time (pay it once, then pin the
# merged schema in the catalog — schema inference over millions of
# footers is the anti-pattern).
# ---------------------------------------------------------------------------

_EVOLVE_ORACLE = """
WITH epoch1 AS (
  SELECT o_orderkey AS id, o_orderstatus AS status,
         CAST(NULL AS VARCHAR) AS priority
  FROM orders WHERE o_orderkey % 2 = 0
),
epoch2 AS (
  SELECT o_orderkey AS id, o_orderstatus AS status, o_orderpriority AS priority
  FROM orders WHERE o_orderkey % 2 = 1
),
merged AS (SELECT * FROM epoch1 UNION ALL SELECT * FROM epoch2)
SELECT status,
       priority IS NOT NULL AS has_priority,
       CAST(COUNT(*) AS BIGINT) AS row_ct,
       CAST(COUNT(DISTINCT id) AS BIGINT) AS id_ct
FROM merged GROUP BY 1, 2 ORDER BY 1, 2
"""


def _register_schema_evolution() -> None:
    from ..registry import query

    @query("cdc_schema_evolution_replay", oracle=_EVOLVE_ORACLE)
    @temp_store
    def cdc_schema_evolution_replay(spark: SparkSession, sf_dir: str,
                                    tmp_dir: str) -> DataFrame:
        from pyspark.sql import functions as F

        from ..catalog import load_table

        orders = load_table(spark, sf_dir, "orders")
        (orders.filter(F.col("o_orderkey") % 2 == 0)
         .select(F.col("o_orderkey").alias("id"),
                 F.col("o_orderstatus").alias("status"))
         .write.mode("overwrite").parquet(f"{tmp_dir}/t/epoch=1"))
        (orders.filter(F.col("o_orderkey") % 2 == 1)
         .select(F.col("o_orderkey").alias("id"),
                 F.col("o_orderstatus").alias("status"),
                 F.col("o_orderpriority").alias("priority"))
         .write.mode("overwrite").parquet(f"{tmp_dir}/t/epoch=2"))
        merged = (spark.read.option("mergeSchema", "true")
                  .parquet(f"{tmp_dir}/t"))
        return (merged.groupBy(
                    "status", F.col("priority").isNotNull()
                    .alias("has_priority"))
                .agg(F.count("*").cast("bigint").alias("row_ct"),
                     F.countDistinct("id").cast("bigint").alias("id_ct"))
                .orderBy("status", "has_priority"))


_register_schema_evolution()
