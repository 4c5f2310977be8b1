"""The session relation memo in ``catalog.load_table``.

A load over unchanged files returns the memoized DataFrame and starts no
Spark job; a load after any change to the files, the directory or the
session confs the load depends on returns the new rows. The ADS ``_sql``
panels register only the views their text names, on every call.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gmall_211027_flink_spark.catalog import TABLES, load_table
from gmall_211027_flink_spark.plans import ads
from gmall_211027_flink_spark.registry import ORACLES, QUERIES, load_all
from scripts.check import compare, duck_conn

load_all()

PANEL = "ads_union_metrics"
PANEL_TABLES = {"orders", "lineitem", "customer", "events"}


def _write_keys(path, keys, col: str = "k") -> None:
    """Fixed-width, uncompressed and without statistics, so two writes
    with the same number of keys and column-name length have the same
    byte size."""
    tbl = pa.table({col: pa.array(keys, pa.int64())})
    pq.write_table(tbl, path, compression="none", use_dictionary=False,
                   write_statistics=False)


def _table(spark, sf_dir) -> tuple[list[str], list[tuple]]:
    df = load_table(spark, str(sf_dir), "orders")
    return df.columns, sorted(tuple(r) for r in df.collect())


def test_unchanged_file_is_a_hit(spark, tmp_path):
    _write_keys(tmp_path / "orders.parquet", [1, 2, 3])
    first = load_table(spark, str(tmp_path), "orders")
    assert load_table(spark, str(tmp_path), "orders") is first


@pytest.mark.parametrize("how", ["in_place", "rename"])
def test_rewritten_single_file_table_returns_new_rows(spark, tmp_path, how):
    """Spark reads a file's contents when it executes, so a stale
    relation over a same-schema rewrite of one file still shows the new
    values; what it keeps is the schema and the listing. The rewrite
    therefore renames the column, which a stale relation reads as nulls
    under the old name."""
    path = tmp_path / "orders.parquet"
    _write_keys(path, [1, 2, 3])
    assert _table(spark, tmp_path) == (["k"], [(1,), (2,), (3,)])
    before = os.stat(path)
    if how == "in_place":
        _write_keys(path, [4, 5, 6], col="v")
    else:
        _write_keys(tmp_path / "orders.tmp", [4, 5, 6], col="v")
        os.replace(tmp_path / "orders.tmp", path)
    after = os.stat(path)
    # the rewrite keeps the byte size, and in place also the inode
    assert after.st_size == before.st_size
    assert (after.st_ino == before.st_ino) == (how == "in_place")
    assert _table(spark, tmp_path) == (["v"], [(4,), (5,), (6,)])


def test_rewritten_directory_table_returns_new_rows(spark, tmp_path):
    table = tmp_path / "orders.parquet"
    table.mkdir()
    _write_keys(table / "part-0.parquet", [1, 2])
    assert _table(spark, tmp_path) == (["k"], [(1,), (2,)])
    _write_keys(table / "part-1.parquet", [3])
    assert _table(spark, tmp_path) == (["k"], [(1,), (2,), (3,)])
    _write_keys(table / "part-0.parquet", [7, 8])
    assert _table(spark, tmp_path) == (["k"], [(3,), (7,), (8,)])


def test_other_sf_dir_with_same_table_names_returns_its_rows(spark,
                                                             tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    for d, keys in ((a, [1]), (b, [2, 3])):
        d.mkdir()
        _write_keys(d / "orders.parquet", keys)
    for d, keys in ((a, [1]), (b, [2, 3]), (a, [1])):
        assert _table(spark, d) == (["k"], [(k,) for k in keys])
        got = ads._sql(spark, str(d), "SELECT k FROM orders").collect()
        assert sorted(r[0] for r in got) == keys


def test_session_timezone_change_reloads(spark, tmp_path):
    """events.ts written as TIMESTAMP_NTZ is cast to TIMESTAMP in the
    session timezone when the load resolves, so a timezone change must
    re-resolve rather than serve the UTC plan."""
    micros = 1_704_067_200_000_000          # 2024-01-01 00:00:00
    pq.write_table(pa.table({"ts": pa.array([micros], pa.timestamp("us"))}),
                   tmp_path / "events.parquet")
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)

    def utc_micros():
        return (load_table(spark, str(tmp_path), "events")
                .select(F.unix_micros("ts")).first()[0])

    try:
        spark.conf.set(key, "UTC")
        assert utc_micros() == micros
        spark.conf.set(key, "America/New_York")
        assert utc_micros() == micros + 5 * 3600 * 1_000_000
    finally:
        spark.conf.set(key, old)


def _jobs_started(spark, build) -> list[int]:
    """Ids of the Spark jobs that ``build()`` starts."""
    sc = spark.sparkContext
    group = f"relation-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "relation memo cost pin")
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_sql_panel_build_starts_no_job(spark, sf_dir):
    assert _jobs_started(spark, lambda: spark.range(3).count())
    QUERIES[PANEL](spark, sf_dir)
    assert _jobs_started(spark, lambda: QUERIES[PANEL](spark, sf_dir)) == []


def test_sql_panel_registers_only_named_views(spark, sf_dir):
    for t in TABLES:
        spark.catalog.dropTempView(t)
    QUERIES[PANEL](spark, sf_dir)
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert views & set(TABLES) == PANEL_TABLES


def _matches_oracle(spark, sf_dir) -> list[str]:
    df = QUERIES[PANEL](spark, sf_dir)
    res = duck_conn(sf_dir).execute(ORACLES[PANEL])
    return compare(PANEL, [tuple(r) for r in df.collect()], df.columns,
                   res.fetchall(), [d[0] for d in res.description])


def test_panel_after_clear_cache_and_view_overwrite_matches_oracle(spark,
                                                                   sf_dir):
    assert _matches_oracle(spark, sf_dir) == []
    spark.catalog.clearCache()
    assert _matches_oracle(spark, sf_dir) == []
    spark.range(1).createOrReplaceTempView("orders")
    assert _matches_oracle(spark, sf_dir) == []
