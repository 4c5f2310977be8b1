"""Round-6 additions: streaming CEP bounce (W7) multi-batch behavior,
the out-of-order-batch guards, and the compaction leftover age gate."""

from __future__ import annotations

import os
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tests.conftest import await_stream


def _slice_events(spark, sf_dir, tmp_path, cols):
    """Write events as three event-time slices so maxFilesPerTrigger=1
    delivers them as separate, time-ordered micro-batches."""
    from gmall_211027_flink_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(*cols)
    cuts = ev.approxQuantile("es", [0.33, 0.66], 0.0)
    d = str(tmp_path / "slices")
    ev.filter(F.col("es") < cuts[0]).coalesce(1) \
        .write.parquet(f"{d}/s0.parquet")
    ev.filter((F.col("es") >= cuts[0]) & (F.col("es") < cuts[1])) \
        .coalesce(1).write.parquet(f"{d}/s1.parquet")
    ev.filter(F.col("es") >= cuts[1]).coalesce(1) \
        .write.parquet(f"{d}/s2.parquet")
    return d, ev.schema


def test_bounce_verdicts_multi_batch_equals_batch_plan(
        spark, sf_dir, tmp_path):
    """Entry/bounce verdicts folded across three event-time micro-batch
    slices must equal the batch lag()/lead() plan exactly — including
    entries whose resolving successor arrives in a LATER batch, and
    trailing provisional emissions superseded by resolved rows."""
    from gmall_211027_flink_spark.operators.windows import (
        dwd_bounce_detection)
    from gmall_211027_flink_spark.streaming.bounce import bounce_verdicts

    d, schema = _slice_events(
        spark, sf_dir, tmp_path,
        ["user_id", "event_id", F.unix_micros("ts").alias("es")])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{d}/*.parquet")
              .withColumnRenamed("es", "us"))
    name = "bounce_slice_test"
    q = (bounce_verdicts(stream).writeStream.format("memory")
         .queryName(name).outputMode("append")
         .trigger(availableNow=True).start())
    await_stream(q, 600)
    assert q.lastProgress["batchId"] >= 2, "expected >= 3 micro-batches"
    events = (spark.table(name)
              .groupBy("user_id", "event_id", "es_us", "prev_gap_us")
              .agg(F.max("next_gap_us").alias("next_gap_us")))
    got = {(r.dt, r.entry_ct, r.bounce_ct) for r in (
        events.filter(F.col("prev_gap_us").isNull()
                      | (F.col("prev_gap_us") > 30 * 60 * 1_000_000))
        .groupBy(F.date_format(F.timestamp_micros("es_us"), "yyyy-MM-dd")
                 .alias("dt"))
        .agg(F.count("*").alias("entry_ct"),
             F.sum(F.when(F.col("next_gap_us").isNull()
                          | (F.col("next_gap_us") > 10 * 60 * 1_000_000),
                          1).otherwise(0)).cast("bigint")
             .alias("bounce_ct"))
        .collect())}
    want = {(r.dt, r.entry_ct, r.bounce_ct)
            for r in dwd_bounce_detection(spark, sf_dir).collect()}
    assert got == want


def test_bounce_verdicts_each_event_emitted_and_resolved_once(
        spark, sf_dir, tmp_path):
    """Every input event appears in the drain; at most one RESOLVED row
    per event; per-key exactly one surviving (max-folded) NULL next gap
    — the stream-end pending."""
    from gmall_211027_flink_spark.streaming.bounce import bounce_verdicts

    d, schema = _slice_events(
        spark, sf_dir, tmp_path,
        ["user_id", "event_id", F.unix_micros("ts").alias("es")])
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{d}/*.parquet")
              .withColumnRenamed("es", "us"))
    name = "bounce_slice_test2"
    q = (bounce_verdicts(stream).writeStream.format("memory")
         .queryName(name).outputMode("append")
         .trigger(availableNow=True).start())
    await_stream(q, 600)
    out = spark.table(name)
    n_events = spark.read.parquet(f"{d}/*.parquet").count()
    assert out.select("event_id").distinct().count() == n_events
    dup_resolved = (out.filter("resolved")
                    .groupBy("event_id").count().filter("count > 1").count())
    assert dup_resolved == 0
    finals = (out.groupBy("user_id", "event_id")
              .agg(F.max("next_gap_us").alias("g")))
    pend_per_key = (finals.filter(F.col("g").isNull())
                    .groupBy("user_id").count())
    assert pend_per_key.filter("count != 1").count() == 0


def _stream_should_raise(df, match: str):
    from pyspark.errors.exceptions.captured import StreamingQueryException
    q = (df.writeStream.format("memory")
         .queryName(f"raise_test_{int(time.time() * 1000)}")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException) as ei:
        await_stream(q, 600)
        raise AssertionError("stream finished; expected failure")
    assert match in str(ei.value)


def test_bounce_verdicts_raises_on_out_of_order_batches(spark, tmp_path):
    """An event-time-regressing micro-batch must fail loudly, not
    silently mis-sequence the gap fold."""
    from gmall_211027_flink_spark.streaming.bounce import bounce_verdicts

    d = str(tmp_path / "ooo")
    schema = "user_id bigint, event_id bigint, us bigint"
    spark.createDataFrame([(1, 10, 5_000_000)], schema) \
        .coalesce(1).write.parquet(f"{d}/s0.parquet")
    spark.createDataFrame([(1, 9, 1_000_000)], schema) \
        .coalesce(1).write.parquet(f"{d}/s1.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{d}/*.parquet"))
    _stream_should_raise(bounce_verdicts(stream), "out-of-order batch")


def test_funnel_levels_raises_on_out_of_order_batches(spark, tmp_path):
    """Same guard on the funnel fold (ADVICE r5): a purchase folded
    before its later-arriving view anchor would silently lower the
    level — the state's max-es watermark turns that into an error."""
    from gmall_211027_flink_spark.streaming.state import funnel_levels

    d = str(tmp_path / "ooo_funnel")
    schema = "user_id bigint, es bigint, event_id bigint, event_type string"
    spark.createDataFrame([(1, 100, 10, "purchase")], schema) \
        .coalesce(1).write.parquet(f"{d}/s0.parquet")
    spark.createDataFrame([(1, 50, 9, "view")], schema) \
        .coalesce(1).write.parquet(f"{d}/s1.parquet")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(f"{d}/*.parquet"))
    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("level", T.LongType()),
    ])
    _stream_should_raise(funnel_levels(stream, 600, out_schema),
                         "out-of-order batch")


def test_compact_leftover_sweep_is_age_gated(spark, sf_dir, tmp_path):
    """A FRESH ._compacting.* sibling (a concurrent run's in-flight
    staged dir) must survive the sweep; a stale one must be reaped."""
    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.bucketing import (
        compact_small_files)

    p = str(tmp_path / "ds")
    load_table(spark, sf_dir, "events").select("event_id") \
        .limit(100).repartition(4).write.parquet(p)
    fresh = p + "._compacting.concurrent"
    stale = p + "._compacting.crashed"
    os.makedirs(fresh)
    os.makedirs(stale)
    old = time.time() - 7200
    os.utime(stale, (old, old))
    compact_small_files(spark, p, target_bytes=64 * 1024 * 1024)
    assert os.path.exists(fresh), "fresh in-flight dir was reaped"
    assert not os.path.exists(stale), "stale crashed dir survived"
    os.rmdir(fresh)
    # NOTE: paths containing glob metacharacters can't reach the sweep at
    # all — Spark's own reader globs paths — so glob.escape there is
    # defense-in-depth, not separately testable end-to-end.


def test_partitioned_read_actually_prunes(spark, sf_dir, tmp_path):
    """The dt range predicate must land in the scan's PartitionFilters
    (catalog pruning), not survive as a post-scan Filter — the
    difference between listing 6 directories and scanning the table."""
    from gmall_211027_flink_spark.sources.files import (
        read_pruned, write_partitioned_events)

    p = str(tmp_path / "by_dt")
    write_partitioned_events(spark, sf_dir, p)
    df = read_pruned(spark, p, "2024-01-10", "2024-01-15")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "dt" in pf and "2024-01-10" in pf, pf
    # and the matching partitions only: 6 days of data (Spark
    # type-infers the dt partition values back as DATE)
    dts = {str(r.dt) for r in df.select("dt").distinct().collect()}
    assert dts == {f"2024-01-1{i}" for i in range(6)}


# ---------------------------------------------------------------------------
# Winnowing coverage guarantee (Schleimer et al. thm 1): if two docs
# share a token run of length >= W + K - 1, they share at least one
# fingerprint — checked on arbitrary generated corpora against a
# pure-Python mirror of the operator's selection rule.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _winnow_py(tokens, k, w, m):
    import hashlib
    n = len(tokens) - k + 1
    if n < w:
        return set()
    hs = [int(hashlib.md5(" ".join(tokens[i:i + k]).encode())
              .hexdigest()[:8], 16) for i in range(n)]
    enc = [h * m + (m - (i + 1)) for i, h in enumerate(hs)]
    sel = set()
    for j in range(n - w + 1):
        sel.add(min(enc[j:j + w]))
    return {e // m for e in sel}


@settings(max_examples=60, deadline=None)
@given(
    prefix_a=st.lists(st.sampled_from("abcdef"), max_size=6),
    prefix_b=st.lists(st.sampled_from("abcdef"), max_size=6),
    shared=st.lists(st.sampled_from("ghijkl"), min_size=8, max_size=14),
)
def test_winnowing_shared_run_guarantee(prefix_a, prefix_b, shared):
    from gmall_211027_flink_spark.operators.dedup import (
        WINNOW_K, WINNOW_M, WINNOW_W)

    # shared run of len(shared) >= W + K - 1 = 8 tokens
    a = prefix_a + shared
    b = prefix_b + shared
    fa = _winnow_py(a, WINNOW_K, WINNOW_W, WINNOW_M)
    fb = _winnow_py(b, WINNOW_K, WINNOW_W, WINNOW_M)
    assert fa & fb, "shared run of >= W+K-1 tokens must share a fingerprint"


def test_kcore_peel_converges_and_is_fixpoint(spark, sf_dir):
    """Every node the bounded peel keeps must still have degree >= K in
    the induced subgraph — i.e. KCORE_ROUNDS sufficed and the output IS
    the k-core fixpoint, not a partial peel — and the core is nonempty
    (the data-relative K is below the graph's degeneracy)."""
    import duckdb

    from gmall_211027_flink_spark.operators.graph import (
        KCORE_PCT, graph_kcore_bounded)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * "
                f"FROM '{sf_dir}/lineitem.parquet'")
    k = con.execute(f"""
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        prs AS (SELECT a.l_partkey pa, b.l_partkey pb
                FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                                   AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2),
        e0 AS (SELECT pa u, pb v FROM prs UNION SELECT pb, pa FROM prs)
        SELECT (SUM(deg) // COUNT(*)) * {KCORE_PCT} // 100
        FROM (SELECT u, COUNT(*) deg FROM e0 GROUP BY 1)""").fetchone()[0]
    out = graph_kcore_bounded(spark, sf_dir)
    assert out.count() > 0
    assert out.filter(f"core_degree < {k}").count() == 0


def test_tombstone_compaction_classes(spark, sf_dir):
    """Keys whose last event is an error must be tombstoned (no live
    value); live keys carry the exact last value."""
    from pyspark.sql import functions as F

    from gmall_211027_flink_spark.sources.cdc import (
        cdc_tombstone_compaction)

    out = cdc_tombstone_compaction(spark, sf_dir)
    assert out.filter("is_live = 0 AND live_value IS NOT NULL").count() == 0
    assert out.filter("is_live = 1 AND live_value IS NULL").count() == 0
    # every user that ever emitted an op appears exactly once
    from gmall_211027_flink_spark.catalog import load_table
    n_users = (load_table(spark, sf_dir, "events")
               .select("user_id").distinct().count())
    assert out.count() == n_users
    assert out.select("user_id").distinct().count() == n_users


def test_bpe_merge_sequence_monotone(spark, sf_dir):
    """Merge-pair counts are non-increasing across rounds (greedy
    argmax can't find a better pair after removing the best one —
    counts of other pairs only shrink or stay), and vocab grows by at
    most 1 symbol per round."""
    from gmall_211027_flink_spark.operators.text import bpe_merge_sequence

    rows = sorted(bpe_merge_sequence(spark, sf_dir).collect(),
                  key=lambda r: r["round"])
    cts = [r.pair_ct for r in rows]
    assert all(a >= b for a, b in zip(cts, cts[1:])), cts
    syms = [r.n_symbols for r in rows]
    assert all(b - a <= 1 for a, b in zip(syms, syms[1:])), syms


def test_source_overlap_matrix_bounds(spark, sf_dir):
    """Overlap pairs are ordered, positive, and Jaccard-bounded; no
    source pairs with itself."""
    from gmall_211027_flink_spark.operators.curation import (
        curation_source_overlap_matrix)

    rows = curation_source_overlap_matrix(spark, sf_dir).collect()
    assert rows, "synthetic corpus should have cross-source overlap"
    for r in rows:
        assert r.source_a < r.source_b
        assert r.n_shared >= 1
        assert 0.0 < r.jaccard <= 1.0


def test_epoch_schedule_budget_and_cap(spark, sf_dir):
    """Water-filling invariants: no source exceeds the MAX_EPOCHS hard
    cap (the clamp), capped sources sit exactly at cap, and the total
    allocation never exceeds the budget."""
    from gmall_211027_flink_spark.operators.curation import (
        EPOCH_BUDGET_X, MAX_EPOCHS, curation_epoch_schedule)

    rows = curation_epoch_schedule(spark, sf_dir).collect()
    assert rows
    total_toks = sum(r.toks for r in rows)
    budget = EPOCH_BUDGET_X * total_toks
    assert sum(r.alloc_tokens for r in rows) <= budget
    for r in rows:
        cap = MAX_EPOCHS * r.toks
        assert r.alloc_tokens <= cap, (r.source, r.alloc_tokens, cap)
        if r.capped:
            assert r.alloc_tokens == cap
        assert r.epochs <= MAX_EPOCHS + 1e-9


def test_spearman_matches_pandas(spark, sf_dir):
    """The doubled-average-rank integer formulation equals pandas'
    spearman (average-rank Pearson) to rounding tolerance."""
    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.aggregates import (
        stats_spearman_corr)

    row = stats_spearman_corr(spark, sf_dir).collect()[0]
    assert -1.0 <= row.spearman_rho <= 1.0

    pdf = (load_table(spark, sf_dir, "events")
           .groupBy("user_id")
           .agg(F.count("*").alias("a"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("b"))
           .toPandas())
    # average-rank Pearson == Spearman (scipy-free formulation)
    expected = pdf["a"].astype(float).rank().corr(
        pdf["b"].astype(float).rank())
    assert abs(row.spearman_rho - expected) < 1e-5
    assert row.n_users == len(pdf)


def test_mutual_information_bounds(spark, sf_dir):
    """0 <= MI <= min(H_source, H_lang); NMI in [0, 1]."""
    from gmall_211027_flink_spark.operators.aggregates import (
        stats_mutual_information)

    r = stats_mutual_information(spark, sf_dir).collect()[0]
    assert r.h_source_nats > 0 and r.h_lang_nats > 0
    # per-term 6dp rounding can push the sum a hair past the bound
    assert -1e-4 <= r.mi_nats <= min(r.h_source_nats,
                                     r.h_lang_nats) + 1e-4
    assert -1e-4 <= r.nmi <= 1.0 + 1e-4


# ---------------------------------------------------------------------------
# BMP pixel decode + integer-exact aHash (multimodal_ahash_fingerprint)
# ---------------------------------------------------------------------------

def test_bmp_roundtrip_recovers_gradient():
    """decode_bmp_gray must undo stride padding and bottom-up row order:
    the decoded array equals the analytic gradient for odd widths too."""
    import hashlib

    import numpy as np

    from gmall_211027_flink_spark.operators.multimodal import (
        _bmp_gradient_params, _geometry, decode_bmp_gray,
        synthesize_bmp_with_pixels)

    for text in ["alpha", "odd-width probe", "xyzzy", "pad3"]:
        h = hashlib.md5(text.encode()).hexdigest()
        g, p = _geometry(h), _bmp_gradient_params(h)
        w, ht, gray = decode_bmp_gray(synthesize_bmp_with_pixels(0, h))
        assert (w, ht) == (g["w"], g["ht"])
        x = np.arange(w)[None, :]
        y = np.arange(ht)[:, None]
        want = (p["a"] * x + p["b"] * y + p["c"]) % 256
        assert np.array_equal(gray.astype(np.int64), want)


def test_decode_bmp_rejects_unsupported():
    import struct

    import pytest as _pytest

    from gmall_211027_flink_spark.operators.multimodal import decode_bmp_gray

    with _pytest.raises(ValueError):
        decode_bmp_gray(b"GIF89a" + b"\x00" * 60)
    with _pytest.raises(ValueError):
        decode_bmp_gray(b"BM" + b"\x00" * 10)        # truncated header
    # 8-bpp BMP: valid container class, out of scope -> must raise
    hdr = (b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 8, 0, 0, 0, 0, 0, 0))
    with _pytest.raises(ValueError):
        decode_bmp_gray(hdr + b"\x00" * 64)


def test_ahash_bits_block_structure():
    """Constant image -> no strict winner -> all-zero fingerprint; a
    bright-top image sets exactly the top half's 32 bits."""
    import numpy as np

    from gmall_211027_flink_spark.operators.multimodal import ahash_bits

    assert ahash_bits(np.full((20, 20), 7, dtype=np.uint8)) == "0" * 64

    img = np.zeros((16, 16), dtype=np.uint8)
    img[:8, :] = 255
    bits = ahash_bits(img)
    assert bits == "1" * 32 + "0" * 32


def test_wav_roundtrip_recovers_ramp_and_skips_unknown_chunks():
    """decode_wav_pcm16 must walk the chunk list (not fixed offsets):
    an inserted LIST chunk before fmt/data must not break decode."""
    import hashlib

    import numpy as np

    from gmall_211027_flink_spark.operators.multimodal import (
        _geometry, _wav_ramp_params, decode_wav_pcm16,
        synthesize_wav_with_samples)

    h = hashlib.md5(b"stereo probe").hexdigest()
    g, p = _geometry(h), _wav_ramp_params(h)
    payload = synthesize_wav_with_samples(0, h)
    ch, rate, s = decode_wav_pcm16(payload)
    assert (ch, rate, len(s)) == (g["ch"], g["rate"], g["nfr"])
    i = np.arange(g["nfr"], dtype=np.int64)
    want = (p["a"] * i + p["b"]) % 65536 - 32768
    assert np.array_equal(s, want)

    # splice an odd-sized LIST chunk between header and fmt
    import struct as _st
    extra = b"LIST" + _st.pack("<I", 5) + b"INFOx" + b"\x00"  # pad byte
    spliced = payload[:12] + extra + payload[12:]
    fixed = spliced[:4] + _st.pack("<I", len(spliced) - 8) + spliced[8:]
    ch2, rate2, s2 = decode_wav_pcm16(fixed)
    assert ch2 == ch and rate2 == rate and np.array_equal(s2, s)


def test_ahash_band_pigeonhole_is_exact():
    """Any pair with hamming <= 3 must share one of the 4 16-bit bands
    (the claim that makes the banded plan equal the all-pairs oracle);
    ahash_signed64 must be a faithful two's-complement encoding."""
    import random

    from gmall_211027_flink_spark.operators.multimodal import (
        AHASH_BAND_BITS, AHASH_BANDS, AHASH_HAMMING_MAX, ahash_signed64)

    rng = random.Random(42)
    for _ in range(200):
        x = rng.getrandbits(64)
        flips = rng.sample(range(64), rng.randint(0, AHASH_HAMMING_MAX))
        y = x
        for j in flips:
            y ^= 1 << j
        shared = any(
            (x >> (b * AHASH_BAND_BITS)) & 0xFFFF
            == (y >> (b * AHASH_BAND_BITS)) & 0xFFFF
            for b in range(AHASH_BANDS))
        assert shared

    for v in (0, 1, (1 << 63) - 1, 1 << 63, (1 << 64) - 1):
        bits = "".join("1" if (v >> j) & 1 else "0" for j in range(64))
        sv = ahash_signed64(bits)
        assert sv & ((1 << 64) - 1) == v and -(1 << 63) <= sv < (1 << 63)


# ---------------------------------------------------------------------------
# Sketches: Count-Min / KMV / heavy-hitter audit invariants
# ---------------------------------------------------------------------------

def test_countmin_never_undercounts_any_token(spark, sf_dir):
    """The CM guarantee must hold for EVERY token, not just the audited
    top-20: estimate >= exact everywhere."""
    from pyspark.sql import functions as F2

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.sketches import (
        CM_DEPTH, CM_WIDTH)

    tok = (load_table(spark, sf_dir, "documents")
           .select(F2.explode(F2.split("text", " ")).alias("token")))
    exact = tok.groupBy("token").agg(F2.count("*").alias("exact_cnt"))
    seeds = spark.range(CM_DEPTH).withColumnRenamed("id", "seed")
    bucket = F2.expr(
        "cast(conv(substring(md5(concat(cast(seed as string), ':', token)),"
        f" 1, 15), 16, 10) as bigint) % {CM_WIDTH}")
    cells = (exact.crossJoin(F2.broadcast(seeds))
             .select("seed", bucket.alias("bucket"), "exact_cnt")
             .groupBy("seed", "bucket")
             .agg(F2.sum("exact_cnt").alias("cell_cnt")))
    probes = (exact.crossJoin(F2.broadcast(seeds))
              .select("token", "exact_cnt", "seed", bucket.alias("bucket")))
    bad = (probes.join(cells, ["seed", "bucket"])
           .groupBy("token", "exact_cnt")
           .agg(F2.min("cell_cnt").alias("est"))
           .filter(F2.col("est") < F2.col("exact_cnt"))
           .count())
    assert bad == 0


def test_kmv_estimate_within_sampling_error(spark, sf_dir):
    """KMV with k=256 has relative sd ~ 1/sqrt(k) = 6.25%; all three
    audited sources must land within 5 sigma."""
    from gmall_211027_flink_spark.operators.sketches import (
        KMV_K, sketch_kmv_distinct)

    for r in sketch_kmv_distinct(spark, sf_dir).collect():
        assert r.kmv_estimate > 0
        tol = max(5 * r.exact_distinct / (KMV_K ** 0.5), 5)
        assert r.abs_err <= tol, (r.source, r.exact_distinct,
                                  r.kmv_estimate)


def test_heavy_hitter_salt_and_share_bounds(spark, sf_dir):
    rows = __import__(
        "gmall_211027_flink_spark.operators.sketches",
        fromlist=["sketch_heavy_hitter_skew"],
    ).sketch_heavy_hitter_skew(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r.salt_factor >= 1 for r in rows)
    assert sum(r.share_ppm for r in rows) <= 1_000_000
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)


def test_zorder_bounds_both_dimensions(spark, sf_dir):
    """The point of the layout: linear order leaves the second dim's
    per-tile span at ~full range (its WORST dim), while z-order bounds
    BOTH dims — each z total must beat linear's worst dim by >= 2x."""
    from gmall_211027_flink_spark.operators.bucketing import (
        _register_zorder)  # noqa: F401  (registered at import)
    from gmall_211027_flink_spark.registry import QUERIES

    rows = {r.layout: r for r in
            QUERIES["layout_zorder_locality"](spark, sf_dir).collect()}
    z, lin = rows["zorder"], rows["linear"]
    assert z.n_tiles == lin.n_tiles
    assert z.total_span_y * 4 <= lin.total_span_y
    assert max(z.total_span_x, z.total_span_y) * 2 <= lin.total_span_y
