"""The store commit shared by IncrementalAggStore, the SCD2 store and
ParquetUpsertSink (``streaming/sinks.py`` ``commit``): the rows and the
epoch that produced them are published by one rename, a crash between
the swap's two renames loses no committed rows, and one
IncrementalAggStore batch costs a fixed, small number of Spark jobs.
"""

from __future__ import annotations

import builtins
import json
import os
import uuid
from datetime import datetime

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from gmall_211027_flink_spark.streaming.incremental import (
    IncrementalAggStore, run_incremental_agg)
from gmall_211027_flink_spark.streaming.sinks import ParquetUpsertSink

SPECS = {"ct": ("count", None), "vs": ("sum", "v"),
         "lo": ("min", "v"), "hi": ("max", "v")}
SCD2_LOG = "pk bigint, ts timestamp, seq int, status string"


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v int").select(
        "k", F.col("v").cast("decimal(18,2)").alias("v"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _jobs_started(spark, run) -> list[int]:
    """Ids of the Spark jobs that ``run()`` starts."""
    sc = spark.sparkContext
    group = f"store-commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "store commit cost pin")
    try:
        run()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _fail_epoch_writes(monkeypatch) -> None:
    """Every attempt to write an epoch marker raises: a crash at the
    moment the epoch is recorded."""
    real_open = builtins.open

    def guarded(file, mode="r", *args, **kwargs):
        if "w" in mode and "_epoch" in str(file):
            raise OSError("injected crash while recording the epoch")
        return real_open(file, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", guarded)


def test_store_schema_stable_across_batches(spark, tmp_path):
    """A decimal sum keeps the partial's type: the pairwise ``a + b``
    merge widened it by one digit per batch."""
    store = IncrementalAggStore(str(tmp_path / "s"), ["k"], SPECS)
    store.write_batch(_batch(spark, [("a", 1), ("b", 2)]), 0)
    first = store.read(spark).schema
    for i in range(1, 5):
        store.write_batch(_batch(spark, [("a", i), ("c", -i)]), i)
    assert store.read(spark).schema == first
    assert _rows(store.read(spark).select("k", "ct")) == [
        ("a", 5), ("b", 1), ("c", 4)]


def test_empty_batch_leaves_store_unchanged(spark, tmp_path):
    store = IncrementalAggStore(str(tmp_path / "s"), ["k"], SPECS)
    store.write_batch(_batch(spark, [("a", 1), ("b", 2)]), 0)
    store.write_batch(_batch(spark, [("a", 4)]), 1)
    before = store.read(spark)
    rows, schema = _rows(before), before.schema
    store.write_batch(_batch(spark, []), 2)
    after = store.read(spark)
    assert (_rows(after), after.schema) == (rows, schema)


def test_crash_recording_epoch_leaves_batch_unapplied(spark, tmp_path,
                                                      monkeypatch):
    """Rows and epoch are published together, so a crash while
    recording the epoch leaves the batch out of the store and its
    replay applies it once (the marker written after the swap let the
    replay count it twice)."""
    store = IncrementalAggStore(str(tmp_path / "s"), ["k"], SPECS)
    store.write_batch(_batch(spark, [("a", 1)]), 0)
    with monkeypatch.context() as m:
        _fail_epoch_writes(m)
        with pytest.raises(OSError, match="injected"):
            store.write_batch(_batch(spark, [("a", 2), ("b", 3)]), 1)
    store.write_batch(_batch(spark, [("a", 2), ("b", 3)]), 1)
    assert _rows(store.read(spark).select("k", "ct", "vs")) == [
        ("a", 2, 3), ("b", 1, 3)]


def test_scd2_crash_recording_epoch_replays_once(spark, tmp_path,
                                                 monkeypatch):
    """The SCD2 store under the same crash, through a query restarted on
    its checkpoint: the replayed epoch folds its events once, so no
    closed version is duplicated."""
    from gmall_211027_flink_spark.operators.windows import scd2_versions
    from gmall_211027_flink_spark.streaming.scd2 import run_scd2_stream

    rows = [(1, datetime(2024, 1, 1), 1, "A"),
            (1, datetime(2024, 1, 2), 2, "B"),
            (2, datetime(2024, 1, 1), 1, "A")]
    log = spark.createDataFrame(rows, SCD2_LOG)
    log.write.parquet(str(tmp_path / "log"))
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema(SCD2_LOG)
                  .parquet(str(tmp_path / "log")))
        run_scd2_stream(stream, store, ckpt).awaitTermination(300)

    with monkeypatch.context() as m:
        _fail_epoch_writes(m)
        with pytest.raises(StreamingQueryException):
            run()
    run()
    assert _rows(spark.read.parquet(store)) == _rows(scd2_versions(log))


@pytest.mark.parametrize("kind", ["upsert", "upsert_bucketed", "agg"])
def test_crash_between_swap_renames_keeps_store(spark, tmp_path,
                                                monkeypatch, kind):
    """A crash after the committed store was moved aside and before the
    staged one took its place: the next write puts the displaced copy
    back instead of sweeping it, so the replay merges into it."""
    path = str(tmp_path / "s")
    if kind == "agg":
        store = IncrementalAggStore(path, ["k"], {"ct": ("count", None)})

        def batch(keys):
            return spark.createDataFrame([(str(k),) for k in keys],
                                         "k string")
        want = [(str(k), 2 if k == 1 else 1) for k in range(20)]
    else:
        store = ParquetUpsertSink(path, ["k"], "ts", num_buckets=(
            None if kind == "upsert" else 4))

        def batch(keys):
            return spark.createDataFrame(
                [(k, 1 if keys == [1] else 0, f"v{k}") for k in keys],
                "k int, ts int, v string")
        want = sorted((k, 1 if k == 1 else 0, f"v{k}") for k in range(20))
    store.write_batch(batch(list(range(20))), 0)

    real_rename = os.rename

    def crash_after_displacing(src, dst):
        real_rename(src, dst)
        if "._staging" in str(dst) and os.path.basename(
                str(dst)).startswith("old"):
            raise OSError("injected crash between the swap's renames")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash_after_displacing)
        with pytest.raises(OSError, match="injected"):
            store.write_batch(batch([1]), 1)
    store.write_batch(batch([1]), 1)
    assert _rows(store.read(spark)) == sorted(want)


def test_legacy_sibling_marker_still_skips_replay(spark, tmp_path):
    """A store committed before the in-store marker keeps its epoch in
    ``<path>._epoch``; its replays are still skipped."""
    path = str(tmp_path / "s")
    store = IncrementalAggStore(path, ["k"], {"ct": ("count", None)})
    spark.createDataFrame([("a", 1)], "k string, ct long") \
        .write.parquet(path)
    with open(f"{path}._epoch", "w") as fh:
        fh.write("3")
    store.write_batch(spark.createDataFrame([("a",)], "k string"), 3)
    assert _rows(store.read(spark)) == [("a", 1)]
    store.write_batch(spark.createDataFrame([("a",)], "k string"), 4)
    assert _rows(store.read(spark)) == [("a", 2)]


def test_write_batch_on_existing_store_job_count(spark, tmp_path):
    """One batch merged into an existing store: no emptiness scan, no
    footer read and one write, three jobs in all (a full outer join
    merge written twice started eight)."""
    store = IncrementalAggStore(str(tmp_path / "s"), ["k"], SPECS)
    store.write_batch(_batch(spark, [("a", 1), ("b", 2)]), 0)
    assert _jobs_started(spark, lambda: spark.range(3).count())
    jobs = _jobs_started(
        spark, lambda: store.write_batch(_batch(spark, [("a", 3)]), 1))
    assert 0 < len(jobs) <= 3, jobs


def test_incremental_batch_reports_its_rows_once(spark, tmp_path):
    """numInputRows of each micro-batch equals its file's rows (the
    rows an emptiness scan before the merge read were counted too)."""
    src = tmp_path / "src"
    src.mkdir()
    for name, n in (("f1.json", 3), ("f2.json", 5)):
        (src / name).write_text("\n".join(
            json.dumps({"k": f"k{i % 2}", "v": i}) for i in range(n)))
    stream = (spark.readStream.schema("k string, v int")
              .option("maxFilesPerTrigger", 1).json(str(src)))
    store = IncrementalAggStore(str(tmp_path / "s"), ["k"], SPECS)
    q = run_incremental_agg(stream, store, str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert [p["numInputRows"] for p in q.recentProgress] == [3, 5]


def test_scd2_replayed_epoch_starts_no_job(spark, tmp_path):
    from gmall_211027_flink_spark.streaming.scd2 import scd2_foreach_batch

    write = scd2_foreach_batch(str(tmp_path / "store"))
    batch = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, "A")], SCD2_LOG)
    assert _jobs_started(spark, lambda: write(batch, 0))
    assert _jobs_started(spark, lambda: write(batch, 0)) == []
