"""Checkpoint/state recovery (SURVEY W9): a stateful streaming query is
stopped and restarted against the SAME checkpoint; the state store must
carry the dedup state across the restart — no re-emission of keys seen
before the stop, and the union of both runs' output must equal the batch
ground truth over all input.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from gmall_211027_flink_spark.streaming.state import daily_unique
from tests.conftest import await_stream

OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("dt", T.StringType()),
    T.StructField("event_id", T.LongType()),
])
IN_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("dt", T.StringType()),
    T.StructField("ts", T.LongType()),
    T.StructField("event_id", T.LongType()),
])


def _row(user, dt, ts, eid):
    return json.dumps({"user_id": user, "dt": dt, "ts": ts, "event_id": eid})


def _run_once(spark, src, ckpt, out_dir):
    stream = spark.readStream.schema(IN_SCHEMA).json(str(src))
    uv = daily_unique(stream, "user_id", "ts", OUT_SCHEMA,
                      order_cols=["ts", "event_id"])
    q = (uv.writeStream.format("parquet").option("path", str(out_dir))
         .option("checkpointLocation", str(ckpt))
         .outputMode("append").trigger(availableNow=True).start())
    await_stream(q)


def test_state_survives_restart(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"

    # run 1: users 1 and 2 each emit once on day 1
    (src / "b1.json").write_text("\n".join([
        _row(1, "2024-01-01", 10, 100),
        _row(1, "2024-01-01", 11, 101),   # same day -> suppressed
        _row(2, "2024-01-01", 12, 102),
    ]))
    _run_once(spark, src, ckpt, out)
    got1 = spark.read.schema(OUT_SCHEMA).parquet(str(out)).collect()
    assert {(r["user_id"], r["dt"]) for r in got1} == {(1, "2024-01-01"), (2, "2024-01-01")}

    # run 2 (fresh query object, same checkpoint): a replay of user 1 day 1
    # must be suppressed BY RECOVERED STATE; day 2 and user 3 emit
    (src / "b2.json").write_text("\n".join([
        _row(1, "2024-01-01", 20, 200),   # replay -> state must suppress
        _row(1, "2024-01-02", 21, 201),
        _row(3, "2024-01-01", 22, 202),
    ]))
    _run_once(spark, src, ckpt, out)
    got2 = spark.read.schema(OUT_SCHEMA).parquet(str(out)).collect()
    emitted = {(r["user_id"], r["dt"]) for r in got2}
    assert emitted == {
        (1, "2024-01-01"), (2, "2024-01-01"),
        (1, "2024-01-02"), (3, "2024-01-01"),
    }
    # the replayed (1, day1) row was emitted exactly once across both runs
    day1_u1 = [r for r in got2 if r["user_id"] == 1 and r["dt"] == "2024-01-01"]
    assert len(day1_u1) == 1 and day1_u1[0]["event_id"] == 100


def test_foreachbatch_upsert_restart_processes_each_row_once(spark, tmp_path):
    """End-to-end exactly-once across a restart: a foreachBatch stream
    feeding the idempotent upsert sink is drained, MORE input arrives,
    and the query restarts on the SAME checkpoint — the new run must
    resume past the committed batches (no reprocessing: epoch ids
    continue, the sink's marker absorbs any redelivery) and the final
    store must equal the batch last-wins ground truth over all input."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "store")

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("v", T.StringType()),
    ])

    def write_file(name, rows):
        (src / name).write_text("\n".join(
            json.dumps({"k": k, "ts": ts, "v": v}) for k, ts, v in rows))

    from gmall_211027_flink_spark.streaming.sinks import ParquetUpsertSink
    sink = ParquetUpsertSink(store, ["k"], "ts")

    def run():
        q = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).json(str(src))
             .writeStream.foreachBatch(sink.foreach_batch())
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        await_stream(q)

    write_file("f1.json", [(1, 10, "a1"), (2, 10, "b1")])
    write_file("f2.json", [(1, 20, "a2"), (3, 10, "c1")])
    run()
    rows = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert rows == {1: "a2", 2: "b1", 3: "c1"}

    # more input lands; restart on the same checkpoint
    write_file("f3.json", [(2, 30, "b2"), (4, 10, "d1")])
    run()
    rows = {r["k"]: r["v"] for r in sink.read(spark).collect()}
    assert rows == {1: "a2", 2: "b2", 3: "c1", 4: "d1"}
    # epoch marker advanced past the first run's batches
    assert sink._last_epoch() >= 2
