"""True streaming forms of J1 (stream-stream inner join with watermarks +
time bound) and A6 (dropDuplicatesWithinWatermark) — SURVEY §2.3/§2.4.

The reference bounds join state with idle-state TTL
(DwdTradeOrderDetail.java:26, 3 days); Spark bounds it with watermarks +
an event-time range conjunct. Both sides arrive via file streams here.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from tests.conftest import await_stream


def _run(spark, df, name, mode="append"):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    await_stream(q)
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_stream_inner_join_with_time_bound(spark, tmp_path):
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    details = [(i, i % 3, t0 + timedelta(seconds=i)) for i in range(30)]
    orders = [(k, f"user_{k}", t0 + timedelta(seconds=k)) for k in range(3)]
    d_path, o_path = str(tmp_path / "details"), str(tmp_path / "orders")
    spark.createDataFrame(details, ["detail_id", "order_id", "ts"]) \
        .write.parquet(d_path)
    spark.createDataFrame(orders, ["order_id", "user", "ts"]) \
        .write.parquet(o_path)

    d = (spark.readStream.schema(spark.read.parquet(d_path).schema)
         .parquet(d_path).withWatermark("ts", "10 seconds").alias("d"))
    o = (spark.readStream.schema(spark.read.parquet(o_path).schema)
         .parquet(o_path).withWatermark("ts", "10 seconds").alias("o"))

    joined = d.join(
        o,
        (F.col("d.order_id") == F.col("o.order_id"))
        # event-time bound replaces the reference's state TTL: a detail
        # matches its order only within 60 s — bounded state either side
        & (F.col("d.ts") >= F.col("o.ts"))
        & (F.col("d.ts") <= F.col("o.ts") + F.expr("INTERVAL 60 SECONDS")),
    ).select("detail_id", "d.order_id", "user")

    got = _run(spark, joined, "ss_join")
    rows = got.collect()
    assert len(rows) == 30           # every detail finds its order
    assert all(r["user"] == f"user_{r['order_id']}" for r in rows)


def test_drop_duplicates_within_watermark(spark, tmp_path):
    t0 = datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, t0),                            # first
        (1, t0 + timedelta(seconds=2)),     # dup within watermark -> dropped
        (2, t0 + timedelta(seconds=3)),
        (1, t0 + timedelta(seconds=4)),     # dup -> dropped
    ]
    path = str(tmp_path / "dups")
    spark.createDataFrame(rows, ["k", "ts"]).write.parquet(path)
    stream = (spark.readStream.schema(spark.read.parquet(path).schema)
              .parquet(path).withWatermark("ts", "10 seconds"))
    got = _run(spark, stream.dropDuplicatesWithinWatermark(["k"]), "ddw")
    assert got.count() == 2
    assert {r["k"] for r in got.collect()} == {1, 2}
