"""Stateful streaming processors driven by a file stream with
availableNow — results compared to batch ground truth (SURVEY A5/A6/P8).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_211027_flink_spark.catalog import load_table
from tests.conftest import await_stream
from gmall_211027_flink_spark.streaming.state import (
    _first_per_day, _group_fn, daily_unique, first_wins, new_visitor_fix,
)


@pytest.fixture(scope="module")
def events_stream_path(spark, sf_dir, tmp_path_factory):
    # re-write the events table as a plain-timestamp parquet dir so the
    # streaming reader sees a stable schema (ns->us conversion applied)
    path = str(tmp_path_factory.mktemp("events_stream"))
    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(path)
    return path


def _start(df, name):
    return (df.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start())


def _run_stream(spark, df, name):
    await_stream(_start(df, name))
    return spark.sql(f"SELECT * FROM {name}")


def _run_until(spark, df, name, predicate, deadline_s=120):
    """For ProcessingTimeTimeout queries: availableNow never terminates
    while the timeout mode is set (pyspark 4.1 keeps polling for timers
    even after all state is gone) — poll the sink, then stop."""
    import time

    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    end = time.time() + deadline_s
    try:
        while time.time() < end:
            if predicate(spark.sql(f"SELECT * FROM {name}")):
                break
            time.sleep(1)
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_daily_unique_matches_batch(spark, sf_dir, events_stream_path):
    schema = spark.read.parquet(events_stream_path).schema
    stream = (
        spark.readStream.schema(schema).parquet(events_stream_path)
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    )
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("dt", T.StringType()),
        T.StructField("event_id", T.LongType()),
    ])
    got = _run_stream(
        spark, daily_unique(stream, "user_id", "ts", out_schema), "uv_detail")

    batch = load_table(spark, sf_dir, "events") \
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    expected = batch.groupBy("user_id", "dt").count()
    # one emitted row per (user, day)
    assert got.count() == expected.count()
    assert got.select("user_id", "dt").distinct().count() == expected.count()


def _shipped_to_python(q) -> dict[str, str]:
    """Name -> type of the columns the query's last micro-batch sent to
    its ``applyInPandasWithState`` processor (the input of the executed
    FlatMapGroupsInPandasWithState node)."""
    nodes = [q._jsq.streamingQuery().lastExecution().executedPlan()]
    while nodes:
        node = nodes.pop()
        children = node.children()
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            out = children.apply(0).output()
            return {out.apply(i).name(): out.apply(i).dataType().typeName()
                    for i in range(out.size())}
        nodes += [children.apply(i) for i in range(children.size())]
    raise LookupError("no FlatMapGroupsInPandasWithState in the plan")


def test_daily_unique_ships_only_read_columns(spark, events_stream_path):
    """Only the key, dt, the output and the order columns go to Python,
    and a timestamp order column goes as int64 (under a private name
    when it is also an output column, which keeps its timestamp type).
    The rows are still each (user, day)'s first in (ts, event_id) order."""
    from pyspark.sql import Window

    schema = spark.read.parquet(events_stream_path).schema
    stream = (spark.readStream.schema(schema).parquet(events_stream_path)
              .withColumn("dt", F.date_format("ts", "yyyy-MM-dd")))
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("dt", T.StringType()),
        T.StructField("event_id", T.LongType()),
    ])
    q = _start(daily_unique(stream, "user_id", "ts", out_schema,
                            order_cols=["ts", "event_id"]), "uv_ship")
    await_stream(q)
    assert _shipped_to_python(q) == {
        "user_id": "long", "dt": "string", "event_id": "long", "ts": "long"}

    with_ts = T.StructType([*out_schema.fields,
                            T.StructField("ts", T.TimestampType())])
    q = _start(daily_unique(stream, "user_id", "ts", with_ts,
                            order_cols=["ts", "event_id"]), "uv_ship_ts")
    await_stream(q)
    assert _shipped_to_python(q) == {
        "user_id": "long", "dt": "string", "event_id": "long",
        "ts": "timestamp", "_order0": "long"}
    first = Window.partitionBy("user_id", "dt").orderBy("ts", "event_id")
    want = (spark.read.parquet(events_stream_path)
            .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
            .withColumn("rn", F.row_number().over(first))
            .where("rn = 1").select(*with_ts.fieldNames()))
    got = spark.table("uv_ship_ts")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


class _State:
    hasTimedOut = False

    def __init__(self, last_seen):
        self.value = last_seen

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return (self.value,)

    def update(self, row):
        self.value = row[0]


def test_daily_unique_group_body_matches_row_loop():
    """The vectorized group body against a row-at-a-time reference:
    walk the rows in (ts, event_id) order and emit each row whose day
    is later than every day seen before it, carried state included."""
    import random

    import pandas as pd

    fn = _group_fn(_first_per_day(["ts", "event_id"],
                                  ["user_id", "dt", "event_id"]), None)
    rng = random.Random(7)
    base = pd.Timestamp("2024-01-01")
    for _ in range(300):
        n = rng.randint(1, 20)
        pdf = pd.DataFrame({
            "user_id": [1] * n,
            "ts": [base + pd.Timedelta(hours=rng.randint(0, 96))
                   for _ in range(n)],
            "event_id": rng.sample(range(1000), n)})
        pdf["dt"] = pdf["ts"].dt.strftime("%Y-%m-%d")
        last_seen = rng.choice(
            [None, "2023-12-31", "2024-01-02", "2024-01-06"])

        want, hi = [], last_seen
        for r in sorted(pdf.itertuples(index=False),
                        key=lambda r: (r.ts, r.event_id)):
            if hi is None or r.dt > hi:
                want.append((r.user_id, r.dt, r.event_id))
                hi = r.dt

        state = _State(last_seen)
        # the timestamp order column reaches Python as int64 unix_micros
        shipped = pdf.assign(ts=pdf["ts"].astype("int64") // 1000)
        chunks = [shipped.iloc[i:i + 6] for i in range(0, n, 6)]
        got = [tuple(r) for out in fn((1,), iter(chunks), state)
               for r in out.itertuples(index=False)]
        assert (got, state.value) == (want, hi)


def test_first_wins_single_row_per_key(spark, events_stream_path):
    schema = spark.read.parquet(events_stream_path).schema
    stream = spark.readStream.schema(schema).parquet(events_stream_path)
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
    ])
    got = _run_stream(
        spark, first_wins(stream, "user_id", "ts", out_schema), "first_wins")
    n_users = spark.read.parquet(events_stream_path) \
        .select("user_id").distinct().count()
    assert got.count() == n_users
    assert got.select("user_id").distinct().count() == n_users


def test_daily_unique_ttl_evicts_idle_keys(spark, tmp_path):
    """A key idle past ttl_ms is evicted (state removed) and RE-EMITS on
    return — the reference's 1-day StateTtlConfig semantics
    (DwdTrafficUniqueVisitorDetail.java:81-91). Three single-file
    micro-batches: u1 day1 / u2 (u1 idle -> timeout fires) / u1 day1
    again, which must re-emit because its state is gone."""
    import os
    import time

    src = tmp_path / "ttl_visits"
    src.mkdir()
    schema = "user_id long, event_id long, ts timestamp, dt string"

    def write_file(n, rows):
        p = str(src / f"f{n}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(p)
        # file source orders by mod time; make it strictly increasing
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (time.time() + n, time.time() + n))
        return p

    from datetime import datetime
    d1 = datetime(2024, 1, 1, 0, 0, 0)
    write_file(1, [(1, 10, d1, "2024-01-01")])
    write_file(2, [(2, 20, d1, "2024-01-01")])
    write_file(3, [(1, 30, d1, "2024-01-01")])

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src) + "/f*.parquet"))
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("dt", T.StringType()),
        T.StructField("event_id", T.LongType()),
    ])
    got = _run_until(
        spark, daily_unique(stream, "user_id", "ts", out_schema, ttl_ms=1),
        "uv_ttl", lambda df: df.count() >= 3)
    rows = sorted((r["user_id"], r["event_id"]) for r in got.collect())
    # u1 emitted twice for the SAME day: once per life of its state
    assert rows == [(1, 10), (1, 30), (2, 20)], rows


def test_backflow_detects_gap_across_days(spark, tmp_path):
    """Back-flow detection: a 5-day absence is reported with the right
    gap (continuous deployments arm RECOMMENDED_TTL_MS["backflow"]=30 d,
    far above any reportable gap, so detection survives eviction)."""
    from gmall_211027_flink_spark.streaming.state import backflow

    src = tmp_path / "bf_visits"
    src.mkdir()
    schema = "user_id long, dt string"
    spark.createDataFrame(
        [(1, "2024-01-01"), (1, "2024-01-06"), (2, "2024-01-03")],
        schema).write.mode("overwrite").parquet(str(src / "f1.parquet"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/f*.parquet")
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("dt", T.StringType()),
        T.StructField("gap_days", T.LongType()),
    ])
    got = _run_stream(
        spark, backflow(stream, "user_id", out_schema, min_gap_days=2),
        "bf_ttl")
    rows = [(r["user_id"], r["dt"], r["gap_days"]) for r in got.collect()]
    assert rows == [(1, "2024-01-06", 5)], rows


def test_new_visitor_fix_rewrites_later_claims(spark, tmp_path):
    src = str(tmp_path / "visits")
    rows = [
        ("u1", "2024-01-01", "1"),   # genuinely new
        ("u1", "2024-01-02", "1"),   # lying -> rewritten to 0
        ("u2", "2024-01-02", "0"),   # old user
        ("u2", "2024-01-03", "1"),   # lying (state backfilled) -> 0
    ]
    spark.createDataFrame(rows, ["mid", "dt", "is_new"]) \
        .write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    out_schema = T.StructType([
        T.StructField("mid", T.StringType()),
        T.StructField("dt", T.StringType()),
        T.StructField("is_new", T.StringType()),
    ])
    got = _run_stream(
        spark, new_visitor_fix(stream, "mid", out_schema), "is_new_fix")
    result = {(r["mid"], r["dt"]): r["is_new"] for r in got.collect()}
    assert result[("u1", "2024-01-01")] == "1"
    assert result[("u1", "2024-01-02")] == "0"
    assert result[("u2", "2024-01-02")] == "0"
    assert result[("u2", "2024-01-03")] == "0"
