"""Streaming SCD2 maintenance (streaming/scd2.py): the incremental
foreachBatch merge must be equivalent to recomputing the batch operator
over the full concatenated changelog — per-PK event-time order across
batches is the delivery contract (the reference's Maxwell-partitioned
CDC makes the same assumption)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from tests.conftest import await_stream


def _log_df(spark, rows):
    return spark.createDataFrame(
        rows, "pk bigint, ts timestamp, seq int, status string")


_T = datetime


def _fmt(df):
    return {tuple(r) for r in df.select(
        "pk", "status",
        F.date_format("eff_from", "yyyy-MM-dd HH:mm:ss").alias("f"),
        F.date_format("eff_to", "yyyy-MM-dd HH:mm:ss").alias("t"),
        "is_current").collect()}


def test_scd2_merge_equals_batch_recompute(spark):
    from gmall_211027_flink_spark.operators.windows import scd2_versions
    from gmall_211027_flink_spark.streaming.scd2 import scd2_merge_batch

    rows = [
        # pk 1: A A B B A  (consecutive dups collapse, reopening allowed)
        (1, _T(2024, 1, 1, 0, 0, 0), 1, "A"),
        (1, _T(2024, 1, 2, 0, 0, 0), 2, "A"),
        (1, _T(2024, 1, 3, 0, 0, 0), 3, "B"),
        (1, _T(2024, 1, 4, 0, 0, 0), 4, "B"),
        (1, _T(2024, 1, 5, 0, 0, 0), 5, "A"),
        # pk 2: same-instant tie broken by (seq, status)
        (2, _T(2024, 1, 1, 0, 0, 0), 1, "X"),
        (2, _T(2024, 1, 6, 0, 0, 0), 2, "Y"),
        (2, _T(2024, 1, 6, 0, 0, 0), 3, "Z"),
        # pk 3: single event, stays current forever
        (3, _T(2024, 1, 2, 0, 0, 0), 1, "Q"),
        # pk 4: batch boundary splits a run of equal statuses
        (4, _T(2024, 1, 2, 0, 0, 0), 1, "K"),
        (4, _T(2024, 1, 8, 0, 0, 0), 2, "K"),
        (4, _T(2024, 1, 9, 0, 0, 0), 3, "L"),
    ]
    full = scd2_versions(_log_df(spark, rows))

    # three ts-ordered chunks (per-pk order preserved across chunks)
    chunks = [
        [r for r in rows if r[1] < _T(2024, 1, 3)],
        [r for r in rows if _T(2024, 1, 3) <= r[1] < _T(2024, 1, 6)],
        [r for r in rows if r[1] >= _T(2024, 1, 6)],
    ]
    store = spark.createDataFrame(
        [], "pk bigint, status string, eff_from timestamp, "
            "eff_to timestamp, is_current int")
    for chunk in chunks:
        store = scd2_merge_batch(store, _log_df(spark, chunk))
        store = spark.createDataFrame(store.collect(), store.schema)

    assert _fmt(store) == _fmt(full)
    # exactly one current row per pk
    cur = store.filter("is_current = 1").groupBy("pk").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_scd2_stream_store_matches_batch_operator(spark, sf_dir, tmp_path):
    from gmall_211027_flink_spark.operators.windows import dim_scd2_history
    from gmall_211027_flink_spark.streaming.scd2 import run_scd2_stream

    log_dir = str(tmp_path / "log")
    (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
     .select(F.col("l_orderkey").alias("pk"),
             F.col("l_shipdate").cast("timestamp").alias("ts"),
             F.col("l_linenumber").alias("seq"),
             F.col("l_linestatus").alias("status"))
     .write.parquet(log_dir))
    stream = (spark.readStream
              .schema("pk bigint, ts timestamp, seq int, status string")
              .parquet(log_dir))
    store_path = str(tmp_path / "store")
    q = run_scd2_stream(stream, store_path, str(tmp_path / "ckpt"))
    await_stream(q)

    store = spark.read.parquet(store_path)
    got = {tuple(r) for r in store.select(
        "pk", "status",
        F.date_format("eff_from", "yyyy-MM-dd HH:mm:ss"),
        F.date_format("eff_to", "yyyy-MM-dd HH:mm:ss"),
        "is_current").collect()}
    want = {tuple(r) for r in dim_scd2_history(spark, sf_dir).collect()}
    assert got == want


def test_scd2_stream_replayed_epoch_is_noop(spark, tmp_path):
    """Crash-replay safety: re-delivering a committed epoch must not
    touch the store (the merge itself is not idempotent — the guard is
    the epoch marker, as in ParquetUpsertSink)."""
    from gmall_211027_flink_spark.streaming.scd2 import run_scd2_stream

    log_dir = str(tmp_path / "log")
    rows = [(1, _T(2024, 1, 1), 1, "A"), (1, _T(2024, 1, 2), 2, "B")]
    _log_df(spark, rows).write.parquet(log_dir)
    stream = (spark.readStream
              .schema("pk bigint, ts timestamp, seq int, status string")
              .parquet(log_dir))
    store_path = str(tmp_path / "store")
    q = run_scd2_stream(stream, store_path, str(tmp_path / "ckpt"))
    await_stream(q)
    before = _fmt(spark.read.parquet(store_path))

    # simulate a crash-replay: a FRESH checkpoint restarts epoch ids at
    # 0, which the marker must treat as already-committed
    stream2 = (spark.readStream
               .schema("pk bigint, ts timestamp, seq int, status string")
               .parquet(log_dir))
    q2 = run_scd2_stream(stream2, store_path, str(tmp_path / "ckpt2"))
    await_stream(q2)
    after = _fmt(spark.read.parquet(store_path))
    assert after == before
