"""Drift guard for the events.ts parquet encoding.

The driver's testdata generator has already shipped two different
physical encodings for events.ts across rounds (int64 TIMESTAMP(NANOS),
then timestamp[us] isAdjustedToUTC=false -> Spark TIMESTAMP_NTZ), and
the second one silently broke every event-time operator for a full
round. This test writes events parquet in all three plausible encodings
and asserts both the batch loader and the streaming reader surface a
plain TimestampType with identical microsecond values — so the next
encoding drift fails HERE, loudly, instead of in 6 driver rows.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_211027_flink_spark.catalog import load_table, normalize_event_ts
from gmall_211027_flink_spark.sources.files import stream_events
from tests.conftest import await_stream

_TS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, 250000),
    dt.datetime(2024, 1, 1, 0, 0, 5, 0),
    dt.datetime(2024, 1, 1, 0, 1, 30, 999999),
]
_EXPECT_MICROS = [int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
                  for t in _TS]


def _write_events(path: str, ts_array: pa.Array) -> None:
    tbl = pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": ts_array,
        "user_id": pa.array([10, 20, 30], pa.int64()),
        "event_type": pa.array(["view", "click", "purchase"]),
        "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
        "props": pa.array(["{}", "{}", "{}"]),
    })
    pq.write_table(tbl, path)


@pytest.fixture(
    params=["nanos_int64", "us_ntz", "us_utc"],
    ids=["int64-nanos", "timestamp-us-NTZ", "timestamp-us-UTC"])
def encoded_dir(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"enc_{request.param}")
    micros = _EXPECT_MICROS
    if request.param == "nanos_int64":
        arr = pa.array([m * 1000 for m in micros], pa.timestamp("ns"))
    elif request.param == "us_ntz":
        arr = pa.array(micros, pa.timestamp("us"))
    else:
        arr = pa.array(micros, pa.timestamp("us", tz="UTC"))
    _write_events(str(d / "events.parquet"), arr)
    return str(d)


def test_load_table_normalizes_all_encodings(spark, encoded_dir):
    df = load_table(spark, encoded_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), \
        df.schema["ts"].dataType
    got = [r[0] for r in
           df.select(F.unix_micros("ts")).orderBy("ts").collect()]
    assert got == _EXPECT_MICROS


def test_stream_events_normalizes_all_encodings(spark, encoded_dir):
    stream = stream_events(spark, encoded_dir)
    assert isinstance(stream.schema["ts"].dataType, T.TimestampType), \
        stream.schema["ts"].dataType
    # withWatermark is the call that died on NTZ — assert it analyzes
    wm = stream.withWatermark("ts", "2 seconds")
    q = (wm.groupBy("event_type").count()
         .writeStream.format("memory").queryName("ts_norm_smoke")
         .outputMode("complete").trigger(availableNow=True).start())
    await_stream(q, 120)
    rows = spark.sql(
        "select sum(count) c from ts_norm_smoke").collect()[0][0]
    assert rows == 3


def test_normalize_event_ts_noop_on_timestamp(spark):
    df = spark.range(1).select(
        F.timestamp_micros(F.lit(1_700_000_000_000_000)).alias("ts"))
    out = normalize_event_ts(df)
    assert isinstance(out.schema["ts"].dataType, T.TimestampType)
    assert out.select(F.unix_micros("ts")).collect()[0][0] \
        == 1_700_000_000_000_000
