"""SparkSession factory with scale-oriented defaults.

The same config set is intended to hold from local[32] smoke tests up to a
multi-hundred-executor cluster: AQE enabled (runtime coalesce + skew-join
handling), Arrow for any pandas exchange, UTC session timezone so results
are comparable with a tz-naive oracle (DuckDB), and shuffle partitions
sized by environment rather than hardcoded.

Streaming checkpoint files (offset, commit, source and file-sink logs;
RocksDB state zips and checksums) are written through Spark's
``FileSystemBasedCheckpointFileManager``, always: Spark's default
FileContext manager forks ``readlink`` about five times per rename when
Hadoop has no native library (30.9 ms against 0.43 ms per rename; every
micro-batch renames several files, SCALE.md §24). Overwrite semantics
under it: a write with ``overwriteIfPossible=false`` onto an existing
file still fails (exists-then-rename; FileContext on ``file:`` is
check-then-rename too, and HDFS rename refuses to overwrite). A write
with ``overwriteIfPossible=true`` onto an existing file keeps that file
and leaves its temp file beside it, where FileContext would replace it;
Spark's CheckpointFileManager contract allows this best effort.

Python workers are forked by ``worker_daemon`` (``spark.python.daemon.module``),
always: on Python < 3.12 it keeps each zip archive's directory across tasks,
where ``pyspark.daemon``'s workers re-read all of ``pyspark.zip``'s at the
start of every task (SCALE.md §25).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

WORKER_DAEMON_MODULE = "gmall_211027_flink_spark.worker_daemon"


def get_spark(app_name: str = "gmall_211027_flink_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_SQL_SHUFFLE_PARTITIONS", str(cpus)))
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The generated-class cache defaults to 100 entries; a session
        # running this engine's 100+ distinct queries (bench, gate)
        # overflows it and late-session executions pay full Janino
        # recompilation per stage — measured as 3-10x slowdowns with
        # erratic variance late in long sessions. Size it to hold the
        # whole query corpus.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # events.parquet carries TIMESTAMP(NANOS) which the reader rejects;
        # surface as int64 nanos and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # RocksDB state store: the at-scale streaming state backend
        # (default HDFSBacked keeps all state on-heap — dies at the
        # reference's 10^9-key daily-unique state; RocksDB spills to
        # local disk with incremental checkpointing). Verified working
        # in this image for dedup/applyInPandasWithState workloads.
        .config("spark.sql.streaming.stateStore.providerClass",
                os.environ.get(
                    "SPARK_STATESTORE_PROVIDER",
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider"))
        # checkpoint writes without forked `readlink` (module docstring)
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        # workers that keep pyspark.zip's directory (module docstring)
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a reused intermediate, with the fault-tolerance
    posture chosen by environment (r16, VERDICT r15 item 5).

    Local default: ``localCheckpoint`` — blocks live in executor block
    stores; lineage is CUT, so an executor loss fails the query instead
    of recomputing. Right for local/bench runs and for small
    intermediates that cost ~a full subtree rebuild per consumer.

    100 TB profile: set ``SPARK_GRAFT_CHECKPOINT_DIR`` to a reliable
    (HDFS/object-store) path and the same call sites switch to
    ``checkpoint()`` — one write+read through the checkpoint dir buys
    back executor-loss recovery where churn is real. The env var is a
    cluster-profile knob, deliberately NOT a bench default: locally the
    extra write would only add noise to the driver's comparisons.
    """
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not ckpt_dir:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # setCheckpointDir creates a fresh random subdir per call — set it
    # once per session so repeated checkpoints share one tree
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)
