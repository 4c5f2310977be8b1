"""Upsert sink + config-driven dim router (SURVEY S4/S8/W6)."""

from __future__ import annotations

from gmall_211027_flink_spark.sources.cdc import parse_cdc
from gmall_211027_flink_spark.streaming.dim_router import (
    TableProcess, route_batch,
)
from gmall_211027_flink_spark.streaming.sinks import ParquetUpsertSink
from tests.conftest import await_stream


def test_upsert_sink_last_wins(spark, tmp_path):
    path = str(tmp_path / "store")
    sink = ParquetUpsertSink(path, ["id"], "ts")

    b1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 11), (1, "a2", 12)], ["id", "val", "ts"])
    sink.write_batch(b1, 0)
    got = {r["id"]: r["val"] for r in sink.read(spark).collect()}
    assert got == {1: "a2", 2: "b"}     # in-batch last-wins by ts

    b2 = spark.createDataFrame([(2, "b2", 20), (3, "c", 21)],
                               ["id", "val", "ts"])
    sink.write_batch(b2, 1)
    got = {r["id"]: r["val"] for r in sink.read(spark).collect()}
    assert got == {1: "a2", 2: "b2", 3: "c"}   # cross-batch upsert


def test_dim_router_routes_configured_tables(spark, tmp_path):
    store = str(tmp_path / "dims")
    raw = spark.createDataFrame([
        ('{"table":"base_trademark","type":"insert","ts":1,'
         '"data":{"id":"1","tm_name":"apple","logo":"x"}}',),
        ('{"table":"base_trademark","type":"update","ts":2,'
         '"data":{"id":"1","tm_name":"apple2","logo":"y"}}',),
        ('{"table":"base_category1","type":"insert","ts":3,'
         '"data":{"id":"5","name":"food"}}',),
        ('{"table":"unconfigured","type":"insert","ts":4,"data":{"id":"9"}}',),
        ('{"table":"base_trademark","type":"delete","ts":5,'
         '"data":{"id":"1"}}',),   # deletes are not routed
    ], ["value"])
    env, _ = parse_cdc(raw)
    configs = [
        TableProcess("base_trademark", "dim_trademark", ["id", "tm_name"], "id"),
        TableProcess("base_category1", "dim_category1", ["id", "name"], "id"),
    ]
    written = route_batch(env, configs, store)
    assert written == {"dim_trademark": 2, "dim_category1": 1}

    tm = spark.read.parquet(f"{store}/dim_trademark").collect()
    assert len(tm) == 1 and tm[0]["tm_name"] == "apple2"
    assert "logo" not in tm[0].asDict()          # column pruning by config
    c1 = spark.read.parquet(f"{store}/dim_category1").collect()
    assert len(c1) == 1 and c1[0]["name"] == "food"


def test_upsert_sink_replayed_epoch_is_idempotent(spark, tmp_path):
    """foreachBatch re-delivers the same micro-batch under the same
    epoch_id after a failure before checkpoint commit; the sink must
    skip the replay (effectively-once table state)."""
    path = str(tmp_path / "replay_store")
    sink = ParquetUpsertSink(path, ["id"], "ts")
    b1 = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], "id int, ts int, v string")
    sink.write_batch(b1, 0)
    assert sink.read(spark).count() == 2
    # replay of epoch 0 with different content must be a no-op
    b1_replay = spark.createDataFrame([(3, 11, "c")], "id int, ts int, v string")
    sink.write_batch(b1_replay, 0)
    assert {r["id"] for r in sink.read(spark).collect()} == {1, 2}
    # the NEXT epoch applies normally
    sink.write_batch(b1_replay, 1)
    assert {r["id"] for r in sink.read(spark).collect()} == {1, 2, 3}


def test_bucketed_upsert_rewrites_only_affected_buckets(spark, tmp_path):
    """With num_buckets set, a micro-batch touching one key must leave
    every other bucket's files untouched (O(batch), not O(table)) and
    still read back as the same logical table."""
    import os

    path = str(tmp_path / "bucketed_store")
    sink = ParquetUpsertSink(path, ["id"], "ts", num_buckets=8)
    seed = spark.createDataFrame(
        [(i, 0, f"v{i}") for i in range(40)], "id int, ts int, v string")
    sink.write_batch(seed, 0)
    assert sink.read(spark).count() == 40

    def file_mtimes():
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                fp = os.path.join(root, f)
                out[fp] = os.path.getmtime(fp)
        return out

    before = file_mtimes()
    sink.write_batch(
        spark.createDataFrame([(7, 1, "updated")], "id int, ts int, v string"), 1)
    after = file_mtimes()
    # exactly one bucket dir was replaced
    changed_dirs = {os.path.dirname(p) for p in after
                    if p not in before}
    assert len(changed_dirs) == 1, changed_dirs
    untouched = [p for p in before if os.path.dirname(p) not in changed_dirs]
    assert untouched and all(p in after and after[p] == before[p]
                             for p in untouched)
    # logical content: last-wins applied, everything else intact
    rows = {r["id"]: r["v"] for r in sink.read(spark).collect()}
    assert len(rows) == 40 and rows[7] == "updated"


def test_crashed_swap_orphans_never_read_back(spark, tmp_path):
    """A crash between the staged parquet write and the rename must not
    leak rows: staging lives OUTSIDE the store path, and leftovers are
    swept on the next write (ADVICE r1: orphan tmp/old dirs inside
    self.path were read back as live rows)."""
    import os

    path = str(tmp_path / "crash_store")
    sink = ParquetUpsertSink(path, ["id"], "ts", num_buckets=4)
    sink.write_batch(spark.createDataFrame(
        [(1, 0, "a"), (2, 0, "b")], "id int, ts int, v string"), 0)

    # simulate a crash mid-swap: an orphan staged write that never renamed
    orphan = os.path.join(sink._staging_root, "tmp-deadbeef")
    spark.createDataFrame([(99, 9, "ghost")], "id int, ts int, v string") \
        .write.mode("overwrite").parquet(orphan)
    assert {r["id"] for r in sink.read(spark).collect()} == {1, 2}

    # next write sweeps the orphan
    sink.write_batch(spark.createDataFrame(
        [(3, 1, "c")], "id int, ts int, v string"), 1)
    assert not os.path.exists(orphan)
    assert {r["id"] for r in sink.read(spark).collect()} == {1, 2, 3}


def test_epoch_marker_scoped_to_run_tag(spark, tmp_path):
    """A NEW query (different run_tag) writing to an existing store must
    not have its epoch-0 batches silently dropped by the previous
    query's marker (ADVICE r1: checkpoint reset = silent data loss)."""
    path = str(tmp_path / "tagged_store")
    s1 = ParquetUpsertSink(path, ["id"], "ts", num_buckets=4, run_tag="q1")
    s1.write_batch(spark.createDataFrame(
        [(1, 0, "a")], "id int, ts int, v string"), 5)
    # same tag, replayed epoch -> skipped
    s1.write_batch(spark.createDataFrame(
        [(2, 1, "b")], "id int, ts int, v string"), 5)
    assert {r["id"] for r in s1.read(spark).collect()} == {1}
    # different tag, epoch restarts at 0 -> MUST apply
    s2 = ParquetUpsertSink(path, ["id"], "ts", num_buckets=4, run_tag="q2")
    s2.write_batch(spark.createDataFrame(
        [(3, 2, "c")], "id int, ts int, v string"), 0)
    assert {r["id"] for r in s2.read(spark).collect()} == {1, 3}


def test_observe_metrics_surface_in_progress(spark, tmp_path):
    """`observe` metrics ride the query lifecycle: after a drained
    availableNow run, each batch's observed aggregates are readable from
    the query's recentProgress — no extra scan of the data."""
    import json as _json

    from gmall_211027_flink_spark.streaming.sinks import with_metrics

    src = tmp_path / "obs_src"
    src.mkdir()
    (src / "a.json").write_text("\n".join(
        _json.dumps({"k": i, "v": f"x{i}"}) for i in range(7)))

    from pyspark.sql import types as T
    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("v", T.StringType())])
    stream = with_metrics(
        spark.readStream.schema(schema).json(str(src)), "ingest")
    q = (stream.writeStream.format("memory")
         .queryName("obs_sink").outputMode("append")
         .trigger(availableNow=True).start())
    await_stream(q)
    observed = [_json.loads(p.json).get("observedMetrics", {}).get("ingest")
                for p in q.recentProgress]
    observed = [m for m in observed if m]
    assert observed and observed[0]["rows"] == 7
    assert observed[0]["max_first_col"] == 6


def test_upsert_sink_delete_tombstones(spark, tmp_path):
    """op_col delete semantics (reference DimSinkFunction's Maxwell
    delete path): last-wins per key INCLUDING deletes — a key whose
    final batch row is a delete leaves the store; delete-then-reinsert
    across batches reinserts; deleting an absent key is a no-op."""
    from gmall_211027_flink_spark.streaming.sinks import ParquetUpsertSink

    for buckets in (None, 4):
        store = str(tmp_path / f"dim_{buckets}")
        sink = ParquetUpsertSink(store, ["id"], "ts", num_buckets=buckets,
                                 op_col="op")
        b0 = spark.createDataFrame(
            [(1, 10, "insert", "a"), (2, 11, "insert", "b"),
             (3, 12, "insert", "c"),
             # in-batch: upsert then delete (by ts order) -> deleted
             (2, 20, "delete", "b2"),
             # in-batch: delete then upsert -> upserted
             (3, 13, "delete", "x"), (3, 14, "update", "c2"),
             # delete of a key never present: no-op
             (9, 15, "delete", "zz")],
            "id int, ts int, op string, v string")
        sink.write_batch(b0, 0)
        rows = {r["id"]: r["v"] for r in sink.read(spark).collect()}
        assert rows == {1: "a", 3: "c2"}
        # next batch: delete 1, re-insert 2
        b1 = spark.createDataFrame(
            [(1, 30, "delete", "-"), (2, 31, "insert", "b3")],
            "id int, ts int, op string, v string")
        sink.write_batch(b1, 1)
        rows = {r["id"]: r["v"] for r in sink.read(spark).collect()}
        assert rows == {2: "b3", 3: "c2"}
