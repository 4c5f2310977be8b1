"""Layered-warehouse integration: a CDC stream flows ODS → DWD (streaming
foreachBatch, upsert store) → DWS (windowed rollup) → ADS (SQL over the
store) — the reference's full DimApp/DWD/DWS/ADS stack in one test
(SURVEY §3, §7.2 M1).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_211027_flink_spark.jobs.trade_cart_pipeline import (
    ads_cart_uu, dwd_cart_add, dws_cart_add_uu,
)
from gmall_211027_flink_spark.streaming.sinks import ParquetUpsertSink
from tests.conftest import await_stream


def _cdc(i, user, num, day, ts):
    return json.dumps({
        "database": "gmall", "table": "cart_info", "type": "insert", "ts": ts,
        "data": {"id": str(i), "user_id": str(user), "sku_id": "1",
                 "cart_price": "10.00", "sku_num": str(num),
                 "source_type": "2401",
                 "create_time": f"2022-02-0{day} 10:00:00"}})


def test_streaming_layers_end_to_end(spark, tmp_path):
    src = tmp_path / "ods"
    src.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    (src / "b1.json").write_text("\n".join([
        _cdc(1, 101, 2, 1, 1), _cdc(2, 102, 1, 1, 2)]))
    (src / "b2.json").write_text("\n".join([
        _cdc(3, 101, 1, 2, 3),              # same user, next day
        _cdc(2, 102, 9, 1, 4),              # replay of id=2 (last-wins)
    ]))

    dwd_store = ParquetUpsertSink(str(tmp_path / "dwd_cart_add"), ["id"], "ts")

    def to_dwd(batch, epoch_id):
        out = dwd_cart_add(batch.select(F.col("value")))
        if out.take(1):
            dwd_store.write_batch(out, epoch_id)

    raw = (spark.readStream
           .schema(T.StructType([T.StructField("value", T.StringType())]))
           .option("maxFilesPerTrigger", 1)
           .text(str(src)))
    q = (raw.writeStream.foreachBatch(to_dwd)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    await_stream(q)

    # DWD layer: keyed upsert store, replay compacted by last-wins
    dwd = dwd_store.read(spark)
    assert dwd.count() == 3
    assert dwd.filter("id = 2").first()["sku_num_delta"] == 9

    # DWS layer: per-day cart-add unique users over the DWD store
    dws = dws_cart_add_uu(dwd)
    dws_path = str(tmp_path / "dws_cart_add_uu")
    dws.write.mode("overwrite").parquet(dws_path)
    per_day = {r["dt"]: r["cart_add_uu_ct"]
               for r in spark.read.parquet(dws_path).collect()}
    assert per_day == {"2022-02-01": 2, "2022-02-02": 1}

    # ADS layer: SQL over the DWS store
    spark.read.parquet(dws_path).createOrReplaceTempView("dws_cart_add_uu_window")
    ads = spark.sql("""
        SELECT CAST(SUM(cart_add_uu_ct) AS BIGINT) AS cart_add_uu_total,
               COUNT(*) AS days
        FROM dws_cart_add_uu_window
    """).first()
    assert ads["cart_add_uu_total"] == 3 and ads["days"] == 2
    # and the helper produces the same numbers
    helper = ads_cart_uu(dws).first()
    assert helper["cart_add_uu_total"] == 3 and helper["days"] == 2


def test_parquet_schema_evolution_policy(spark, tmp_path):
    """Ingestion policy for schema drift on parquet landings: a new
    column appearing in later files is invisible to a plain read (Spark
    takes one footer's schema — which file wins is not guaranteed) and
    surfaces ONLY under mergeSchema=true, null-padded for old files.
    Pipelines here pin explicit schemas for JSON/CSV (sources/files.py)
    and must opt in to mergeSchema for evolving parquet landings — this
    test documents that contract."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "landing")
    spark.createDataFrame([(1, "a")], "id int, v string") \
        .coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame([(2, "b", "new")],
                          "id int, v string, extra string") \
        .coalesce(1).write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "v", "extra"}
    rows = {r["id"]: r["extra"] for r in merged.collect()}
    assert rows == {1: None, 2: "new"}
    # explicit-schema read is the other safe form: drift is simply
    # projected away, old and new files both conform
    pinned = spark.read.schema("id int, v string").parquet(d)
    assert pinned.count() == 2 and set(pinned.columns) == {"id", "v"}
