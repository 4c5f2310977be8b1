"""Behavior-sequence analytics: the window-function (greedy
running-anchor) formulations in plans/behavior.py claim equivalence to
the naive exists-a-chain semantics. The DuckDB oracles mirror the SAME
window formulation, so these tests verify the claim against an
INDEPENDENT brute-force O(n^2) reference over the real sf0.001 events.
"""

from __future__ import annotations

import duckdb

from gmall_211027_flink_spark.plans.behavior import (
    FUNNEL_WINDOW_S,
    ads_sequence_match_negation,
    ads_window_funnel,
)
from tests.conftest import SF_DIR, await_stream


def _user_events():
    """{user_id: [(es, event_id, type), ...] sorted by (es, event_id)}."""
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT),
                   event_id, event_type
            FROM '{SF_DIR}/events.parquet'
            ORDER BY user_id, 2, 3""").fetchall()
    users: dict[int, list[tuple[int, int, str]]] = {}
    for uid, es, eid, typ in rows:
        users.setdefault(uid, []).append((es, eid, typ))
    return users


def _brute_funnel_level(evs, window_s):
    """Deepest view -> click -> purchase chain, strict order, all steps
    within window_s of the anchoring view. O(n^2) per user."""
    best = 0
    views = [i for i, e in enumerate(evs) if e[2] == "view"]
    if views:
        best = 1
    for vi in views:
        v_es = evs[vi][0]
        for ci in range(vi + 1, len(evs)):
            c_es, _c_id, c_typ = evs[ci]
            if c_typ != "click" or c_es - v_es > window_s:
                continue
            best = max(best, 2)
            for pi in range(ci + 1, len(evs)):
                p_es, _p_id, p_typ = evs[pi]
                if p_typ == "purchase" and p_es - v_es <= window_s:
                    return 3
    return best


def _brute_seq_match(evs):
    """Exists signup -> purchase (strict order) with no error strictly
    between the two."""
    for si, (_s_es, _s_id, s_typ) in enumerate(evs):
        if s_typ != "signup":
            continue
        for pi in range(si + 1, len(evs)):
            p_typ = evs[pi][2]
            if p_typ == "error":
                break   # this signup's chain is poisoned from here on
            if p_typ == "purchase":
                return 1
    return 0


def test_window_funnel_matches_bruteforce(spark, sf_dir):
    got = {r.funnel_level: r.n_users
           for r in ads_window_funnel(spark, sf_dir).collect()}
    want: dict[int, int] = {}
    for evs in _user_events().values():
        lvl = _brute_funnel_level(evs, FUNNEL_WINDOW_S)
        want[lvl] = want.get(lvl, 0) + 1
    assert got == want


def test_sequence_match_negation_matches_bruteforce(spark, sf_dir):
    got = {r.user_id: r.matched
           for r in ads_sequence_match_negation(spark, sf_dir).collect()}
    want = {uid: _brute_seq_match(evs)
            for uid, evs in _user_events().items()}
    assert got == want


def test_streaming_funnel_state_carries_across_micro_batches(
        spark, sf_dir, tmp_path):
    """Split events into three event-time slices landing in SEPARATE
    micro-batches (maxFilesPerTrigger=1): anchors set in an early batch
    must complete chains in later ones, and the max-folded levels must
    equal the batch window-function funnel exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.plans.behavior import (
        FUNNEL_WINDOW_S, ads_window_funnel)
    from gmall_211027_flink_spark.streaming.state import funnel_levels

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").alias("es"), "event_id",
        "event_type")
    cuts = (ev.approxQuantile("es", [0.33, 0.66], 0.0))
    d = str(tmp_path / "slices")
    ev.filter(F.col("es") < cuts[0]).coalesce(1) \
        .write.parquet(f"{d}/s0.parquet")
    ev.filter((F.col("es") >= cuts[0]) & (F.col("es") < cuts[1])) \
        .coalesce(1).write.parquet(f"{d}/s1.parquet")
    ev.filter(F.col("es") >= cuts[1]).coalesce(1) \
        .write.parquet(f"{d}/s2.parquet")

    schema = ev.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{d}/*.parquet"))
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("level", T.LongType()),
    ])
    levels = funnel_levels(stream, FUNNEL_WINDOW_S, out_schema)
    name = "funnel_slice_test"
    q = (levels.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    await_stream(q, 600)
    assert q.lastProgress["batchId"] >= 2, "expected >= 3 micro-batches"
    got = {r.funnel_level: r.n_users for r in
           (spark.table(name)
            .groupBy("user_id").agg(F.max("level").alias("funnel_level"))
            .groupBy("funnel_level").agg(F.count("*").alias("n_users"))
            .collect())}
    want = {r.funnel_level: r.n_users
            for r in ads_window_funnel(spark, sf_dir).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Property check of the ALGORITHMIC claim (docstring of
# ads_window_funnel / ads_sequence_match_negation): the greedy
# running-anchor formulation equals the exists-a-chain semantics on
# ARBITRARY event sequences, not just the shipped corpus. Pure-Python
# mirrors of the window expressions run against the O(n^3)/O(n^2)
# brute force under hypothesis.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_TYPES = ["view", "click", "purchase", "signup", "error", "other"]


def _greedy_funnel(evs, window_s):
    """Mirror of the two running MAXes in ads_window_funnel."""
    lv = am = None
    l1 = l2 = l3 = 0
    for es, _eid, typ in evs:
        if typ == "click" and lv is not None and es - lv <= window_s:
            l2 = 1
            ca = lv
        else:
            ca = None
        if typ == "purchase" and am is not None and es - am <= window_s:
            l3 = 1
        if typ == "view":
            l1 = 1
            lv = es if lv is None else max(lv, es)
        if ca is not None:
            am = ca if am is None else max(am, ca)
    return 3 if l3 else (2 if l2 else (1 if l1 else 0))


def _greedy_seq_match(evs):
    """Mirror of the ordinal ls/le comparison."""
    ls = le = None
    hit = 0
    for idx, (_es, _eid, typ) in enumerate(evs):
        if typ == "purchase" and ls is not None \
                and (le is None or le < ls):
            hit = 1
        if typ == "signup":
            ls = idx
        if typ == "error":
            le = idx
    return hit


@st.composite
def _event_seq(draw):
    n = draw(st.integers(0, 18))
    es = sorted(draw(st.lists(st.integers(0, 8000), min_size=n,
                              max_size=n)))
    return [(t, i, draw(st.sampled_from(_TYPES)))
            for i, t in enumerate(es)]


@settings(max_examples=300, deadline=None)
@given(_event_seq())
def test_funnel_greedy_equals_bruteforce_on_random_sequences(evs):
    assert _greedy_funnel(evs, 1000) == _brute_funnel_level(evs, 1000)


@settings(max_examples=300, deadline=None)
@given(_event_seq())
def test_seqmatch_greedy_equals_bruteforce_on_random_sequences(evs):
    assert _greedy_seq_match(evs) == _brute_seq_match(evs)
