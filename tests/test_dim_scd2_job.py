"""End-to-end DIM SCD2 job (jobs/dim_scd2.py): Maxwell-style envelopes
→ parse_cdc → changelog → foreachBatch merge → versioned store, checked
against the batch SCD2 core over the same changelog."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import await_stream


def _envelopes(spark, sf_dir):
    """3 envelope rows per order: insert 'N' at t, update to the real
    status at t+1d, and a no-change update at t+2d (must collapse)."""
    o = (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .limit(200)
         .select("o_orderkey", "o_orderstatus",
                 F.col("o_orderdate").cast("timestamp").alias("t0")))
    def env(typ, status_col, ts_col):
        return F.to_json(F.struct(
            F.lit("gmall").alias("database"),
            F.lit("order_info").alias("table"),
            F.lit(typ).alias("type"),
            F.unix_millis(ts_col).alias("ts"),
            F.create_map(
                F.lit("id"), F.col("o_orderkey").cast("string"),
                F.lit("order_status"), status_col,
            ).alias("data"),
        )).alias("value")
    day = F.expr("INTERVAL 1 DAY")
    return (
        o.select(env("insert", F.lit("N"), F.col("t0")))
        .unionByName(o.select(env("update", F.col("o_orderstatus"),
                                  F.col("t0") + day)))
        .unionByName(o.select(env("update", F.col("o_orderstatus"),
                                  F.col("t0") + day + day)))
    )


def test_dim_scd2_job_end_to_end(spark, sf_dir, tmp_path):
    from gmall_211027_flink_spark.jobs.dim_scd2 import (
        dim_changelog, run_dim_scd2)
    from gmall_211027_flink_spark.operators.windows import scd2_versions

    env_dir = str(tmp_path / "envelopes")
    _envelopes(spark, sf_dir).write.parquet(env_dir)

    raw = (spark.readStream.schema("value string").parquet(env_dir))
    store_path = str(tmp_path / "dim_store")
    q = run_dim_scd2(raw, "order_info", "id", "order_status",
                     store_path, str(tmp_path / "ckpt"))
    await_stream(q)

    store = spark.read.parquet(store_path)
    batch_log = dim_changelog(
        spark.read.parquet(env_dir), "order_info", "id", "order_status")
    want = scd2_versions(batch_log)

    fmt = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.select(
            "pk", "status",
            F.date_format("eff_from", "yyyy-MM-dd HH:mm:ss"),
            F.date_format("eff_to", "yyyy-MM-dd HH:mm:ss"),
            "is_current").collect())
    assert fmt(store) == fmt(want)
    # the no-change third envelope must NOT open a version: per pk,
    # either 1 version (real status was already 'N') or 2
    per_pk = store.groupBy("pk").count().collect()
    assert all(r["count"] <= 2 for r in per_pk)
    assert any(r["count"] == 2 for r in per_pk)
