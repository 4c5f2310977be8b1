"""Catalog: explicit schemas + loaders for the test tables and for the
reference's streaming envelopes (topic_db CDC, topic_log behavior log).

The reference declares schemas per job as Flink SQL DDL strings
(reference: gmall-realtime utils/MyKafkaUtil.java:91-100 for the CDC
envelope, app/dwd/log/BaseLogApp.java:47-57 for the log). Here every
streaming schema lives in one module and is explicit. The parquet test
tables are the exception: a load infers their schema from the file
footers, once per file signature (``load_table`` memoizes the resolved
relation per session).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# --- streaming envelope schemas (reference parity) ---------------------------

# Maxwell CDC envelope over MySQL business tables
# (reference: utils/MyKafkaUtil.java:91-100 declares
#  {database, table, type, data MAP, old MAP, pt AS PROCTIME()})
CDC_ENVELOPE_SCHEMA = T.StructType([
    T.StructField("database", T.StringType()),
    T.StructField("table", T.StringType()),
    T.StructField("type", T.StringType()),
    T.StructField("ts", T.LongType()),
    T.StructField("data", T.MapType(T.StringType(), T.StringType())),
    T.StructField("old", T.MapType(T.StringType(), T.StringType())),
])

# Behavior-log JSON with nested objects and arrays
# (reference: app/dwd/log/BaseLogApp.java:95-97,160-188 accesses
#  common/page/displays/actions/start/err/ts)
_COMMON = T.StructType([
    T.StructField(f, T.StringType())
    for f in ("ar", "ba", "ch", "is_new", "md", "mid", "os", "uid", "vc")
])
_PAGE = T.StructType([
    T.StructField("during_time", T.LongType()),
    T.StructField("item", T.StringType()),
    T.StructField("item_type", T.StringType()),
    T.StructField("last_page_id", T.StringType()),
    T.StructField("page_id", T.StringType()),
    T.StructField("source_type", T.StringType()),
])
_DISPLAY = T.StructType([
    T.StructField("display_type", T.StringType()),
    T.StructField("item", T.StringType()),
    T.StructField("item_type", T.StringType()),
    T.StructField("pos_id", T.StringType()),
    T.StructField("order", T.StringType()),
])
_ACTION = T.StructType([
    T.StructField("action_id", T.StringType()),
    T.StructField("item", T.StringType()),
    T.StructField("item_type", T.StringType()),
    T.StructField("ts", T.LongType()),
])
LOG_SCHEMA = T.StructType([
    T.StructField("common", _COMMON),
    T.StructField("page", _PAGE),
    T.StructField("displays", T.ArrayType(_DISPLAY)),
    T.StructField("actions", T.ArrayType(_ACTION)),
    T.StructField("start", T.StructType([
        T.StructField("entry", T.StringType()),
        T.StructField("loading_time", T.LongType()),
        T.StructField("open_ad_id", T.StringType()),
    ])),
    T.StructField("err", T.StructType([
        T.StructField("error_code", T.StringType()),
        T.StructField("msg", T.StringType()),
    ])),
    T.StructField("ts", T.LongType()),
])


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to TimestampType regardless
    of how the parquet writer encoded it. Seen encodings across testdata
    generations:
      - int64 TIMESTAMP(NANOS) read as bigint nanos (via
        spark.sql.legacy.parquet.nanosAsLong=true in session.py)
      - timestamp[us] isAdjustedToUTC=false -> Spark TIMESTAMP_NTZ
      - timestamp[us] UTC -> TimestampType already (no-op)
    Event-time ops (unix_micros, withWatermark) require TIMESTAMP; under
    the engine's fixed UTC session timezone the NTZ->TIMESTAMP cast is a
    pure re-tag with identical micros, matching DuckDB's reading.
    """
    from pyspark.sql import functions as F
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        # nanos -> micros truncation, same as DuckDB reading nanos
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Session confs that a load bakes into the resolved plan: the timezone
# of the events NTZ -> TIMESTAMP cast, and how TIMESTAMP(NANOS) is read.
_MEMO_CONFS = ("spark.sql.session.timeZone",
               "spark.sql.legacy.parquet.nanosAsLong")
# Most paths one session's memo keeps; the least recently loaded goes
# first. Bounds a long session that reads many short-lived directories.
_MEMO_PATHS = 64


def _file_signature(path: str) -> tuple | None:
    """What a fresh load of ``path`` would see: inode, size, mtime and
    ctime of a single file, or the sorted listing of every file under a
    directory. ctime is there because mtime can be set back (``cp -p``,
    ``os.utime``) and ctime cannot. None when ``path`` is missing or not
    a local path."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
    listing = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                s = os.stat(full)
            except OSError:
                return None
            listing.append((os.path.relpath(full, path), s.st_ino,
                            s.st_size, s.st_mtime_ns, s.st_ctime_ns))
    return tuple(sorted(listing))


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table as a DataFrame, resolved once per session and file
    signature.

    Resolving a parquet relation lists its files and infers the schema
    from their footers, one Spark job per call. The session memo keeps
    the resolved DataFrame per path, keyed on the file signature and the
    confs in ``_MEMO_CONFS``; while neither changes, a load returns the
    same DataFrame and starts no job. A rewrite of the files (in place or
    by rename, or a part file added) changes the signature, and the next
    load re-resolves and replaces that path's entry. The signature is
    taken before the load, so a rewrite racing the load is seen by the
    next one. Paths that are not local files are loaded on every call.
    """
    path = f"{sf_dir}/{name}.parquet"
    sig = _file_signature(path)
    if sig is None:
        return _read_table(spark, path, name)
    key = (sig, *(spark.conf.get(c, None) for c in _MEMO_CONFS))
    # on the session object, so the memo ends with its session
    memo = vars(spark).setdefault("_relation_memo", {})
    entry = memo.pop(path, None)
    if entry is None or entry[0] != key:
        entry = (key, _read_table(spark, path, name))
    memo[path] = entry
    if len(memo) > _MEMO_PATHS:
        del memo[next(iter(memo))]
    return entry[1]


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register each test table as a temp view (for spark.sql plans)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
