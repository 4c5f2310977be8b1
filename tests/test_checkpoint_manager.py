"""Streaming checkpoint files go through Spark's FileSystem checkpoint
manager (``session.get_spark``): the manager resolved for a local path,
the no-overwrite contract of the write-ahead logs, exactly-once output
after a crash-restart, and a checkpoint begun under the FileContext
manager restarting under this one.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from gmall_211027_flink_spark.streaming.incremental import (
    IncrementalAggStore, run_incremental_agg)
from tests.conftest import await_stream

MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
PKG = "org.apache.spark.sql.execution.streaming.checkpointing."
FS_MANAGER = PKG + "FileSystemBasedCheckpointFileManager"
FC_MANAGER = PKG + "FileContextBasedCheckpointFileManager"
SCHEMA = "k string, v int"
FILES = {"f1.json": [("a", 1), ("b", 2), ("a", 3)],
         "f2.json": [("c", 4), ("b", 5)],
         "f3.json": [("d", 6), ("a", 7), ("c", 8)]}


def _manager(spark, path):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return (jvm.org.apache.spark.sql.execution.streaming.checkpointing
            .CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(
                str(path)), conf))


def _write_atomic(spark, manager, path, data: bytes, overwrite: bool):
    out = manager.createAtomic(
        spark._jvm.org.apache.hadoop.fs.Path(str(path)), overwrite)
    out.write(bytearray(data))
    out.close()


def _land(src: Path, name: str) -> None:
    """Write one source file; file streams replay in mtime order."""
    (src / name).write_text("\n".join(
        json.dumps({"k": k, "v": v}) for k, v in FILES[name]))
    stamp = 1_000_000 + sorted(FILES).index(name)
    os.utime(src / name, (stamp, stamp))


def _stream(spark, src):
    return (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1).json(str(src)))


def _batch_ids(q) -> list[int]:
    await_stream(q)
    assert q.exception() is None
    return [p["batchId"] for p in q.recentProgress]


def _run_dedup(spark, src, ckpt, out):
    """A RocksDB stateful query: first row per key, into a file sink."""
    return _batch_ids(
        _stream(spark, src).dropDuplicates(["k"])
        .writeStream.format("parquet").option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True).start())


def _run_agg(spark, src, ckpt, store):
    return _batch_ids(run_incremental_agg(_stream(spark, src), store,
                                          str(ckpt)))


def _crash_last_batch(ckpt: Path) -> int:
    """Delete the newest commit log entry (and its checksum): the state a
    crash after the batch's writes and before its commit leaves."""
    last = max(int(p.name) for p in (ckpt / "commits").iterdir()
               if p.name.isdigit())
    for name in (str(last), f".{last}.crc"):
        (ckpt / "commits" / name).unlink(missing_ok=True)
    return last


def _tmp_files(root: Path) -> list[str]:
    return [str(p) for p in root.rglob("*") if ".tmp" in p.name]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_local_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    """The default FileContext manager forks `readlink` on every rename
    here; the session routes checkpoint writes through FileSystem."""
    assert spark.conf.get(MANAGER_CONF) == FS_MANAGER
    manager = _manager(spark, tmp_path)
    assert manager.getClass().getName() == FS_MANAGER


def test_second_no_overwrite_write_of_a_log_file_raises(spark, tmp_path):
    """A write-ahead log entry is written with overwriteIfPossible=false:
    a second writer of the same batch id must fail, not replace it."""
    log = tmp_path / "offsets"
    log.mkdir()
    manager = _manager(spark, log)
    _write_atomic(spark, manager, log / "0", b"first", overwrite=False)
    with pytest.raises(Py4JJavaError, match="(?i)exist"):
        _write_atomic(spark, manager, log / "0", b"second",
                      overwrite=False)
    assert (log / "0").read_bytes() == b"first"


@pytest.mark.parametrize("kind", ["rocksdb_dedup", "incremental_agg"])
def test_crash_restart_gives_identical_rows(spark, tmp_path, kind):
    """Drop the last batch's commit, restart: the batch re-runs over the
    state it started from, and the output equals an uncrashed run's,
    with no duplicate and no temp file left in the checkpoint."""
    def run(tag, crash):
        src, ckpt = tmp_path / tag / "src", tmp_path / tag / "ckpt"
        src.mkdir(parents=True)
        out = tmp_path / tag / "out"
        store = IncrementalAggStore(
            str(out), ["k"], {"ct": ("count", None), "vs": ("sum", "v")})
        go = ((lambda: _run_dedup(spark, src, ckpt, out))
              if kind == "rocksdb_dedup"
              else (lambda: _run_agg(spark, src, ckpt, store)))
        for name in ("f1.json", "f2.json"):
            _land(src, name)
        go()
        if crash:
            assert _crash_last_batch(ckpt) == 1
            assert go() == [1]          # the uncommitted batch re-runs
        _land(src, "f3.json")
        go()
        assert _tmp_files(ckpt) == []
        return _rows(spark.read.parquet(str(out)))

    clean, crashed = run("clean", False), run("crashed", True)
    assert crashed == clean
    keys = [r[0] for r in crashed]
    assert sorted(set(keys)) == keys == ["a", "b", "c", "d"]
    if kind == "incremental_agg":
        assert crashed == [("a", 3, 11), ("b", 2, 7), ("c", 2, 12),
                           ("d", 1, 6)]


def test_filecontext_checkpoint_restarts_under_filesystem(spark, tmp_path):
    """A checkpoint written by the FileContext manager (the Spark
    default) restarts under the FileSystem one: recovered state still
    suppresses keys seen before the switch."""
    src, ckpt, out = tmp_path / "src", tmp_path / "ckpt", tmp_path / "out"
    src.mkdir()
    for name in ("f1.json", "f2.json"):
        _land(src, name)
    spark.conf.set(MANAGER_CONF, FC_MANAGER)
    try:
        assert _manager(spark, tmp_path).getClass().getName() == FC_MANAGER
        _run_dedup(spark, src, ckpt, out)
    finally:
        spark.conf.set(MANAGER_CONF, FS_MANAGER)
    _land(src, "f3.json")
    _run_dedup(spark, src, ckpt, out)
    got = spark.read.parquet(str(out)).select("k", "v")
    assert _rows(got) == [("a", 1), ("b", 2), ("c", 4), ("d", 6)]
    assert _tmp_files(ckpt) == []
    assert len(list((ckpt / "commits").glob("[0-9]*"))) == 3
