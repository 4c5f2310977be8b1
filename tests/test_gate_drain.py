"""The gate-query drain path in streaming/windows.py: a timed-out drain
raises and stops its query, a temp store leaves no directory behind,
and a memory-sink drain leaves no temp view in the session."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest
from pyspark.sql.streaming.query import StreamingQuery

from gmall_211027_flink_spark.catalog import TABLES
from gmall_211027_flink_spark.registry import ORACLES
from gmall_211027_flink_spark.streaming.windows import (
    dws_incremental_agg_maintenance, dws_tumble_streaming,
    stream_decontaminate_ingest, stream_mood_maintenance)


@pytest.mark.parametrize("query", [dws_tumble_streaming,
                                   stream_decontaminate_ingest],
                         ids=lambda q: q.__name__)
def test_timed_out_drain_raises_and_stops_its_query(spark, sf_dir,
                                                    monkeypatch, query):
    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        lambda self, timeout=None: False)
    with pytest.raises(RuntimeError, match=f"{query.__name__} timed out"):
        query(spark, sf_dir)
    assert spark.streams.active == []


def test_temp_store_queries_leave_no_temp_dir(spark, sf_dir, monkeypatch,
                                              tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for query in (dws_incremental_agg_maintenance, stream_mood_maintenance):
        # the result is materialized: it still reads after the dir is gone
        assert query(spark, sf_dir).count() > 0
    assert os.listdir(tmp_path) == []


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_memory_sink_drain_leaves_no_temp_view(spark, sf_dir):
    before = _temp_views(spark)
    df = dws_tumble_streaming(spark, sf_dir)
    assert _temp_views(spark) == before
    got = sorted(tuple(r[c] for c in sorted(df.columns))
                 for r in df.collect())

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(ORACLES["dws_tumble_streaming"])
    cols = [d[0] for d in res.description]
    want = sorted(tuple(r[cols.index(c)] for c in sorted(cols))
                  for r in res.fetchall())
    assert sorted(df.columns) == sorted(cols)
    assert got == want
