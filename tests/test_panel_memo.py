"""The session panel memo: ``catalog.prepared`` on the ADS panels.

A repeat call of a panel over unchanged tables returns the DataFrame
built on the first call. It starts no Spark job and no SQL execution:
it registers no temp view, whose command would start no job but would
cost a SQL execution of its own. Re-executing the DataFrame reuses the
shuffle outputs of the first execution. So every case here checks
rows, not only identity: after each kind of change under a panel (an
in-place rewrite that keeps the byte size, a part file added, a session
timezone change, another ``sf_dir``, a foreign view under a table's
name), the next call returns the rows the DuckDB oracle computes over
the same files.
"""

from __future__ import annotations

import os
import shutil
import uuid

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from gmall_211027_flink_spark.catalog import TABLES, load_table
from gmall_211027_flink_spark.registry import ORACLES, QUERIES, load_all
from scripts.check import compare

load_all()

PANEL = "ads_union_metrics"          # orders, lineitem, customer, events
ADS_PANELS = sorted(n for n, fn in QUERIES.items()
                    if fn.__module__.endswith(".plans.ads"))
TZ = "spark.sql.session.timeZone"


def _copy_tables(src: str, dst) -> str:
    """A writable copy of the ten tables (the source files may be
    read-only, so copy contents, not modes)."""
    dst.mkdir(exist_ok=True)
    for t in TABLES:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"),
                        dst / f"{t}.parquet")
    return str(dst)


def _write_fixed(tbl: pa.Table, path) -> None:
    """Uncompressed, without dictionaries or statistics: two writes of
    tables that differ only in fixed-width values have the same size."""
    pq.write_table(tbl, path, compression="none", use_dictionary=False,
                   write_statistics=False)


def _oracle_errors(df, name: str, sf_dir: str, tz: str = "UTC") -> list[str]:
    """``df``'s rows against ``name``'s oracle over ``sf_dir``; a table
    stored as a directory is read as all of its parts."""
    con = duckdb.connect()
    con.execute(f"SET TimeZone = '{tz}'")
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    res = con.execute(ORACLES[name])
    return compare(name, [tuple(r) for r in df.collect()], df.columns,
                   res.fetchall(), [d[0] for d in res.description])


def _read(spark, name: str, sf_dir: str, tz: str = "UTC"):
    """Call the panel, check its rows against the oracle, return it."""
    df = QUERIES[name](spark, sf_dir)
    assert _oracle_errors(df, name, sf_dir, tz) == []
    return df


def _jobs_started(spark, build) -> list[int]:
    """Ids of the Spark jobs that ``build()`` starts."""
    sc = spark.sparkContext
    group = f"panel-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "panel memo cost pin")
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _sql_executions_started(spark, build) -> int:
    """How many SQL executions ``build()`` starts, temp-view commands
    included. Read as the growth of the newest execution id in the
    status store, because the store's execution count stops growing
    once it holds ``spark.sql.ui.retainedExecutions`` of them."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()

    def newest() -> int:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).head().executionId() if n \
            else -1

    before = newest()
    build()
    return newest() - before


def test_second_call_returns_the_built_dataframe_and_starts_no_job(
        spark, sf_dir):
    first = _read(spark, PANEL, sf_dir)
    got = []
    assert _jobs_started(spark, lambda: spark.range(3).count())
    assert _jobs_started(
        spark, lambda: got.append(QUERIES[PANEL](spark, sf_dir))) == []
    assert got[0] is first
    assert _oracle_errors(got[0], PANEL, sf_dir) == []


def test_same_size_in_place_rewrite_returns_new_rows(spark, sf_dir,
                                                     tmp_path):
    """The case the relation memo alone could not catch: Spark reads
    a file's contents at execution, so a stale relation still showed
    new values. A hit skips the scan, so here a stale entry would serve
    the first execution's shuffle output."""
    d = _copy_tables(sf_dir, tmp_path / "t")
    path = os.path.join(d, "orders.parquet")
    orders = pq.read_table(path)
    _write_fixed(orders, path)
    first = _read(spark, PANEL, d)
    assert QUERIES[PANEL](spark, d) is first
    before = os.stat(path)
    price = orders.schema.get_field_index("o_totalprice")
    _write_fixed(orders.set_column(
        price, "o_totalprice",
        pc.multiply(orders.column(price), 2.0)), path)
    after = os.stat(path)
    assert (after.st_ino, after.st_size) == (before.st_ino, before.st_size)
    assert _read(spark, PANEL, d) is not first


def test_same_schema_rewrite_reloads_without_inference_job(spark, sf_dir,
                                                          tmp_path):
    """A miss re-resolves the rewritten table. While its footer schema
    is unchanged the old inferred schema is reused, so the reload starts
    no job; a rewrite that changes the schema infers it again."""
    d = _copy_tables(sf_dir, tmp_path / "t")
    path = os.path.join(d, "orders.parquet")
    orders = pq.read_table(path)
    pq.write_table(orders, path)
    first = load_table(spark, d, "orders")
    pq.write_table(orders.slice(0, 10), path)
    got = []
    assert _jobs_started(
        spark, lambda: got.append(load_table(spark, d, "orders"))) == []
    assert got[0] is not first and got[0].count() == 10
    assert got[0].schema == first.schema
    pq.write_table(orders.rename_columns(
        ["o_renamed", *orders.column_names[1:]]), path)
    got.clear()
    assert _jobs_started(
        spark, lambda: got.append(load_table(spark, d, "orders")))
    assert got[0].columns[0] == "o_renamed"


def test_part_file_added_to_directory_table_returns_new_rows(spark, sf_dir,
                                                             tmp_path):
    panel = "ads_pivot_status_by_priority"             # orders only
    d = _copy_tables(sf_dir, tmp_path / "t")
    orders = pq.read_table(os.path.join(d, "orders.parquet"))
    table = tmp_path / "t" / "orders.parquet"
    table.unlink()
    table.mkdir()
    half = orders.num_rows // 2
    pq.write_table(orders.slice(0, half), table / "part-0.parquet")
    first = _read(spark, panel, d)
    assert QUERIES[panel](spark, d) is first
    pq.write_table(orders.slice(half), table / "part-1.parquet")
    assert _read(spark, panel, d) is not first


def test_session_timezone_change_replans_events_panel(spark, sf_dir,
                                                      tmp_path):
    """events.ts stored as a UTC instant: hour(ts) depends on the
    session timezone, which the first plan baked in."""
    panel = "ads_hourly_visitor_stats"
    d = _copy_tables(sf_dir, tmp_path / "t")
    path = os.path.join(d, "events.parquet")
    events = pq.read_table(path)
    i = events.schema.get_field_index("ts")
    pq.write_table(events.set_column(
        i, "ts", events.column(i).cast(pa.timestamp("us", tz="UTC"))), path)
    old = spark.conf.get(TZ)
    try:
        spark.conf.set(TZ, "UTC")
        utc = _read(spark, panel, d)
        spark.conf.set(TZ, "America/New_York")
        ny = _read(spark, panel, d, tz="America/New_York")
        assert ny is not utc
        assert sorted(map(tuple, ny.collect())) != \
            sorted(map(tuple, utc.collect()))
    finally:
        spark.conf.set(TZ, old)


def test_two_sf_dirs_read_in_turn_return_their_own_rows(spark, sf_dir,
                                                        tmp_path):
    a = _copy_tables(sf_dir, tmp_path / "a")
    b = _copy_tables(sf_dir, tmp_path / "b")
    orders = pq.read_table(os.path.join(b, "orders.parquet"))
    pq.write_table(orders.slice(0, orders.num_rows // 3),
                   os.path.join(b, "orders.parquet"))
    first = {d: _read(spark, PANEL, d) for d in (a, b)}
    assert first[a] is not first[b]
    for d in (a, b):
        assert _read(spark, PANEL, d) is first[d]


@pytest.mark.parametrize("name", ADS_PANELS)
def test_panel_hit_matches_oracle(spark, sf_dir, name):
    first = QUERIES[name](spark, sf_dir)
    first.toPandas()
    assert _read(spark, name, sf_dir) is first


@pytest.mark.parametrize("name", ADS_PANELS)
def test_panel_hit_starts_no_sql_execution(spark, sf_dir, name):
    QUERIES[name](spark, sf_dir).toPandas()
    assert _sql_executions_started(spark, lambda: spark.range(1).count())
    assert _sql_executions_started(
        spark, lambda: QUERIES[name](spark, sf_dir)) == 0


def test_foreign_view_then_rewrite_rebuilds_over_the_files(spark, sf_dir,
                                                           tmp_path):
    """A hit registers no view, so a build must: after a foreign
    ``orders`` view with the same columns and a rewrite of
    orders.parquet, the next call misses and reads the rewritten file,
    not the view."""
    d = _copy_tables(sf_dir, tmp_path / "t")
    first = _read(spark, PANEL, d)
    load_table(spark, sf_dir, "orders").limit(5) \
        .createOrReplaceTempView("orders")
    path = os.path.join(d, "orders.parquet")
    orders = pq.read_table(path)
    pq.write_table(orders.slice(0, orders.num_rows // 3), path)
    assert _read(spark, PANEL, d) is not first
