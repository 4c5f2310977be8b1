"""Seeded synthetic inputs for the benchmark.

Writes the ten warehouse tables the query registry reads (one parquet
file per table, the layout ``catalog.load_table`` and the DuckDB oracles
expect) and the time-ordered event files the streaming workload replays.
The same (seed, scale) always gives byte-identical rows. Column names,
types and value domains follow the warehouse fixtures: TPC-H-style
dimension/fact tables, an ``events`` behaviour log, a ``documents``
corpus with planted near-duplicates and clustered unit ``embeddings``.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "blue", "small", "big", "hot", "old", "new", "green"]
_NOUN = ["widget", "bolt", "ring", "plate", "rod", "gear", "pipe", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _rows(base: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(base * scale)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, n_days: int,
          n: int) -> np.ndarray:
    return start + rng.integers(0, n_days, n) * np.timedelta64(1, "D")


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents; ~5% are near-copies of an earlier document
    (one word replaced, a ``dup`` token appended) so the dedup operators
    find real candidate pairs."""
    words = np.array(_WORDS)
    out: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            src = out[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = str(rng.choice(words))
            out.append(" ".join(src + ["dup"]))
        else:
            k = int(rng.integers(8, 95))
            out.append(" ".join(words[rng.integers(0, len(words), k)]))
    return out


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 ~ TPC-H sf1 row counts)."""
    rng = np.random.default_rng(seed)
    n_cust = _rows(150_000, scale, 50)
    n_supp = _rows(10_000, scale, 10)
    n_part = _rows(200_000, scale, 100)
    n_ord = _rows(1_500_000, scale, 200)
    n_li = 4 * n_ord
    n_ev = _rows(1_000_000, scale, 500)
    n_doc = max(500, _rows(50_000, scale))
    n_emb = max(500, _rows(20_000, scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, _EPOCH_1995, 2400, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"),
                            2499, n_li)})
    t["events"] = make_events(rng, n_ev, n_users=n_cust // 10 or 1,
                              start=_EPOCH_2024, span_us=30 * _US_PER_DAY)
    texts = _texts(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    centers = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(scale=0.8, size=(n_emb, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def make_events(rng: np.random.Generator, n: int, n_users: int,
                start: np.datetime64, span_us: int) -> pa.Table:
    """``n`` behaviour-log events with increasing ids and ts in
    [start, start + span_us)."""
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def write_table(table: pa.Table, path: Path) -> None:
    """Replace ``path`` atomically (write aside, then rename) so a reader
    never sees a half-written file."""
    tmp = path.with_name(path.name + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_tables(out_dir: Path, seed: int, scale: float) -> dict[str, pa.Table]:
    out_dir.mkdir(parents=True, exist_ok=True)
    tables = make_tables(seed, scale)
    for name, table in tables.items():
        write_table(table, out_dir / f"{name}.parquet")
    return tables


def write_event_files(out_dir: Path, seed: int, n_events: int,
                      n_files: int, n_users: int,
                      late_share: float = 0.02,
                      lateness_us: int = 1_500_000) -> list[pa.Table]:
    """Split a dense event stream into ``n_files`` time-ordered files,
    oldest mtime first, so a ``maxFilesPerTrigger=1`` file source replays
    one file per micro-batch in event-time order.

    Disorder stays inside the 2 s watermark: rows are shuffled inside
    each file, and ``late_share`` of each file's rows that lie within
    ``lateness_us`` of its newest row move into the next file, so they
    arrive one batch after a newer row without ever being late; a moved
    row never crosses midnight, so first-arrival per (key, day) stays
    well defined. The
    stream starts two minutes before midnight so day-keyed state sees
    two days. Returns the per-file tables in replay order.
    """
    rng = np.random.default_rng(seed)
    start = _EPOCH_2024 + np.timedelta64(_US_PER_DAY - 120_000_000, "us")
    span_us = max(n_events * 20_000, 240_000_000)    # ~50 events/s
    ev = make_events(rng, n_events, n_users, start, span_us)
    cuts = np.linspace(0, n_events, n_files + 1).astype(int)
    ts_us = ev.column("ts").cast(pa.int64()).to_numpy()
    files: list[np.ndarray] = [np.arange(a, b) for a, b in
                               zip(cuts[:-1], cuts[1:])]
    for i in range(n_files - 1):
        idx = files[i]
        newest = ts_us[idx].max()
        same_day = ts_us[idx] // _US_PER_DAY == newest // _US_PER_DAY
        near = idx[same_day & (ts_us[idx] >= newest - lateness_us)
                   & (ts_us[idx] < newest)]
        k = min(len(near), max(1, int(late_share * len(idx))))
        moved = rng.choice(near, k, replace=False) if k else near[:0]
        files[i] = np.setdiff1d(idx, moved)
        files[i + 1] = np.concatenate([moved, files[i + 1]])
    out_dir.mkdir(parents=True, exist_ok=True)
    parts = []
    base_mtime = 1_000_000_000
    for i, idx in enumerate(files):
        part = ev.take(pa.array(rng.permutation(idx)))
        path = out_dir / f"part-{i:04d}.parquet"
        pq.write_table(part, path)
        os.utime(path, (base_mtime + i, base_mtime + i))
        parts.append(part)
    return parts
