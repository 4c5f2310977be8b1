"""Streaming window aggregation + CEP bounce detection
(SURVEY W1/W2/W7/W8) driven by file streams.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from gmall_211027_flink_spark.catalog import load_table
from gmall_211027_flink_spark.sources.files import stream_parquet
from gmall_211027_flink_spark.streaming.bounce import detect_bounces
from gmall_211027_flink_spark.streaming.windows import session_agg, tumbling_agg
from tests.conftest import await_stream


@pytest.fixture(scope="module")
def events_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_win"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    return path


def _run(spark, df, name, mode="complete"):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    await_stream(q)
    return spark.sql(f"SELECT * FROM {name}")


def _run_until(spark, df, name, predicate, deadline_s=120, mode="append"):
    """For ProcessingTimeTimeout queries: availableNow never terminates
    while the timeout mode is set (pyspark 4.1 keeps polling for timers
    even after all state is gone), so poll the sink until ``predicate``
    holds, then stop the query explicitly."""
    import time

    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    end = time.time() + deadline_s
    try:
        while time.time() < end:
            if predicate(spark.sql(f"SELECT * FROM {name}")):
                break
            time.sleep(1)
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_agg_matches_batch(spark, events_path):
    stream = stream_parquet(spark, events_path)
    agg = tumbling_agg(
        stream, "ts", "10 minutes", "2 seconds", ["event_type"],
        [F.count("*").alias("pv_ct"),
         F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum")],
    )
    got = _run(spark, agg, "tumble_out")

    batch = spark.read.parquet(events_path)
    expected = (
        batch.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("pv_ct"))
    )
    assert got.count() == expected.count()
    # spot-check one bucket end-to-end
    row = got.orderBy("stt", "event_type").first()
    exp = (
        batch.filter(
            (F.date_format(F.window("ts", "10 minutes").start,
                           "yyyy-MM-dd HH:mm:ss") == row["stt"])
            & (F.col("event_type") == row["event_type"]))
        .count()
    )
    assert row["pv_ct"] == exp


def test_session_agg_smoke(spark, events_path):
    stream = stream_parquet(spark, events_path)
    agg = session_agg(
        stream, "ts", "30 minutes", "2 seconds", ["user_id"],
        [F.count("*").alias("event_ct")],
    )
    got = _run(spark, agg, "session_out")
    assert got.count() > 0
    # session windows per user must not overlap
    rows = got.select("user_id", "stt", "edt").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["stt"], r["edt"]))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_bounce_detection_stream(spark, tmp_path):
    src = str(tmp_path / "entries")
    # user 1: entries 0s and 700s apart -> first is a bounce (gap > 600)
    # user 2: entries 0s and 30s apart  -> first is engaged (no bounce)
    rows = [
        (1, 100.0, 1), (1, 800.0, 2),
        (2, 100.0, 3), (2, 130.0, 4),
    ]
    spark.createDataFrame(rows, ["user_id", "ts_s", "event_id"]) \
        .write.mode("overwrite").parquet(src)
    stream = stream_parquet(spark, src)
    # short timer so the pending-entry flush (the CEP timeout side
    # output) fires during the drain; poll for all 4 verdicts then stop
    got = _run_until(
        spark, detect_bounces(stream, timeout_ms=3_000), "bounce_out",
        lambda df: df.count() >= 4)
    verdicts = {r["entry_event_id"]: r["is_bounce"] for r in got.collect()}
    assert verdicts[1] is True
    assert verdicts[3] is False
    # the flushed pending entries (last per user) are bounces by timeout
    assert verdicts[2] is True and verdicts[4] is True


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """W3: the reference has no allowedLateness — late rows silently drop
    at window close. Same behavior here: a row older than the advanced
    watermark must not reopen its (already finalized) window."""
    import json

    from pyspark.sql import types as T

    src = tmp_path / "late_src"
    src.mkdir()
    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("k", T.StringType()),
    ])

    def row(ts, k):
        return json.dumps({"ts": ts, "k": k})

    import time

    # batch 1: window [10:00, 10:10) gets 2 rows; advances the watermark
    (src / "b1.json").write_text("\n".join([
        row("2024-01-01 10:00:01", "a"),
        row("2024-01-01 10:00:02", "a"),
        row("2024-01-01 11:00:00", "advance"),
    ]))
    time.sleep(1.1)
    # batch 2: watermark (10:59:58) passes the window end -> the 10:00
    # window finalizes, emits count=2, and its state is EVICTED
    (src / "b2.json").write_text(row("2024-01-01 11:00:01", "advance"))
    time.sleep(1.1)
    # batch 3: a row for the evicted window — "too late", silently dropped
    # (a late row landing in the SAME batch as the eviction would still be
    # aggregated: lateness is judged against evicted state, not the raw
    # watermark — matching the reference's at-window-close cutoff)
    (src / "b3.json").write_text(row("2024-01-01 10:00:03", "a"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(str(src))
        .withWatermark("ts", "2 seconds")
        .groupBy(F.window("ts", "10 minutes"), "k").count()
        .select(F.date_format("window.start", "HH:mm").alias("stt"), "k", "count")
    )
    name = "late_drop_sink"
    q = (stream.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    await_stream(q)
    rows = {(r["stt"], r["k"]): r["count"]
            for r in spark.sql(f"SELECT * FROM {name}").collect()}
    # the 10:00 window finalized with 2 rows; the late third row was dropped
    assert rows[("10:00", "a")] == 2
