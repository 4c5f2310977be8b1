"""Round-7 additions: real PNG/GIF pixel decode honesty, WAV chunk
validation, the bounce tie guard, native session windows, the salted
join, group holdout, Welch t-test, and the late-data drop."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from tests.conftest import await_stream


# --------------------------------------------------------------- PNG ------

def _png_doc(doc_id: int = 4, text: str = "png test doc"):
    from gmall_211027_flink_spark.operators.multimodal import (
        synthesize_png_with_pixels)
    h = hashlib.md5(text.encode()).hexdigest()
    return synthesize_png_with_pixels(doc_id, h), h


def test_png_roundtrip_matches_analytic_gradient():
    from gmall_211027_flink_spark.operators.multimodal import (
        _bmp_gradient_params, _geometry, decode_png_gray)
    for text in ("a", "quick brown fox", "päyload"):
        payload, h = _png_doc(text=text)
        w, ht, gray = decode_png_gray(payload)
        g, p = _geometry(h), _bmp_gradient_params(h)
        assert (w, ht) == (g["w"], g["ht"])
        x = np.arange(w)[None, :]
        y = np.arange(ht)[:, None]
        assert (gray == (p["a"] * x + p["b"] * y + p["c"]) % 256).all()


def test_png_exercises_all_five_filters():
    # filter type cycles (c + row) % 5, and every image has >= 16 rows,
    # so all five filters appear in every payload's scanlines
    import zlib

    payload, h = _png_doc()
    # IDAT body: find chunk, inflate, read filter bytes per scanline
    from gmall_211027_flink_spark.operators.multimodal import _geometry
    g = _geometry(h)
    idx = payload.index(b"IDAT")
    import struct
    (size,) = struct.unpack(">I", payload[idx - 4:idx])
    stream = zlib.decompress(payload[idx + 4:idx + 4 + size])
    ftypes = {stream[r * (g["w"] + 1)] for r in range(g["ht"])}
    assert ftypes == {0, 1, 2, 3, 4}


def test_png_corruption_and_truncation_raise():
    from gmall_211027_flink_spark.operators.multimodal import decode_png_gray
    payload, _ = _png_doc()
    bad = bytearray(payload)
    bad[60] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png_gray(bytes(bad))
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_png_gray(payload[: len(payload) // 2])
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_gray(b"BM" + payload)


# --------------------------------------------------------------- GIF ------

def test_gif_lzw_kwkwk_case():
    from gmall_211027_flink_spark.operators.multimodal import (
        _lzw_decode_gif, _lzw_encode_gif)
    # 'abababab...' forces the code==next-free (KwKwK) decode branch
    data = b"ab" * 500
    assert _lzw_decode_gif(_lzw_encode_gif(data)) == data


def test_gif_decoder_uses_palette_not_raw_indices():
    from gmall_211027_flink_spark.operators.multimodal import (
        _bmp_gradient_params, _geometry, decode_gif_gray,
        synthesize_gif_with_pixels)
    h = hashlib.md5(b"palette honesty").hexdigest()
    payload = synthesize_gif_with_pixels(1, h)
    w, ht, gray = decode_gif_gray(payload)
    g, p = _geometry(h), _bmp_gradient_params(h)
    x = np.arange(w)[None, :]
    y = np.arange(ht)[:, None]
    expect = (p["a"] * x + p["b"] * y + p["c"]) % 256
    # stored index is 255 - g; a decoder skipping the palette would
    # return the complement
    assert (gray == expect).all()
    assert not (gray == (255 - expect)).all()


def test_gif_rejects_malformed_blocks():
    from gmall_211027_flink_spark.operators.multimodal import decode_gif_gray
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif_gray(b"PNG whatever")
    h = hashlib.md5(b"x").hexdigest()
    from gmall_211027_flink_spark.operators.multimodal import (
        synthesize_gif_with_pixels)
    payload = bytearray(synthesize_gif_with_pixels(1, h))
    payload[13 + 3 * 256] = 0x99          # image separator -> junk
    with pytest.raises(ValueError, match="unknown GIF block"):
        decode_gif_gray(bytes(payload))


# --------------------------------------------------------------- WAV ------

def test_wav_truncated_data_chunk_raises_cleanly():
    import struct

    from gmall_211027_flink_spark.operators.multimodal import (
        decode_wav_pcm16, synthesize_wav_with_samples)
    h = hashlib.md5(b"wav guard").hexdigest()
    payload = bytearray(synthesize_wav_with_samples(3, h))
    # inflate the declared data-chunk size beyond the actual payload
    idx = payload.index(b"data")
    (size,) = struct.unpack("<I", payload[idx + 4:idx + 8])
    payload[idx + 4:idx + 8] = struct.pack("<I", size + 64)
    with pytest.raises(ValueError, match="truncated data chunk"):
        decode_wav_pcm16(bytes(payload))


# ------------------------------------------------------------- bounce -----

def test_bounce_tie_with_smaller_id_across_batches_raises(spark):
    from pyspark.sql import types as T

    from gmall_211027_flink_spark.streaming.bounce import bounce_verdicts

    sch = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("us", T.LongType()),
    ])
    import tempfile
    import shutil
    import os
    d = tempfile.mkdtemp(prefix="bounce_tie_")
    try:
        b1 = spark.createDataFrame([(1, 10, 1000)], sch).coalesce(1)
        b2 = spark.createDataFrame([(1, 5, 1000)], sch).coalesce(1)
        for i, df in enumerate([b1, b2]):
            stage = f"{d}/stage{i}"
            df.write.parquet(stage)
            for p in os.listdir(stage):
                if p.endswith(".parquet"):
                    shutil.copy(f"{stage}/{p}", f"{d}/src_{i}.parquet")
                    os.utime(f"{d}/src_{i}.parquet",
                             (1000 * (i + 1), 1000 * (i + 1)))
        stream = (spark.readStream.schema(sch)
                  .option("maxFilesPerTrigger", "1")
                  .option("pathGlobFilter", "src_*.parquet").parquet(d))
        q = (bounce_verdicts(stream).writeStream.format("memory")
             .queryName("bounce_tie_t").outputMode("append")
             .trigger(availableNow=True).start())
        with pytest.raises(Exception, match="timestamp tie"):
            await_stream(q, 120)
            if q.exception():
                raise q.exception()
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ----------------------------------------------------- session window -----

def test_session_window_touch_boundary(spark):
    """Spark merges session windows that TOUCH: an event at exactly
    prev + gap extends the session, one microsecond past it starts a
    new one. The gaps-and-islands oracles encode this as break on
    `gap > threshold` (not >=)."""
    from pyspark.sql import types as T

    sch = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)

    def sessions(rows):
        df = spark.createDataFrame(rows, sch)
        out = (df.groupBy(F.session_window("ts", "45 minutes"), "k")
               .agg(F.count("*").alias("ct"))
               .orderBy("session_window.start").collect())
        return [r["ct"] for r in out]

    # exactly at gap -> merges
    assert sessions([(1, t0),
                     (1, t0 + dt.timedelta(minutes=45)),
                     (1, t0 + dt.timedelta(minutes=46))]) == [3]
    # one microsecond past the gap -> new session
    assert sessions([(1, t0),
                     (1, t0 + dt.timedelta(minutes=45, microseconds=1)),
                     (1, t0 + dt.timedelta(minutes=46))]) == [1, 2]


# -------------------------------------------------------- salted join -----

def test_salted_join_equals_plain_join(spark, sf_dir):
    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.joins import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    salted = (salted_join(ev, cust, "user_id", "c_custkey", "event_id")
              .groupBy("c_nationkey").count())
    plain = (ev.join(cust, ev.user_id == cust.c_custkey)
             .groupBy("c_nationkey").count())
    assert sorted(map(tuple, salted.collect())) == \
        sorted(map(tuple, plain.collect()))


# ------------------------------------------------------ group holdout -----

def test_group_holdout_has_zero_straddle(spark, sf_dir):
    from gmall_211027_flink_spark.operators.sampling import (
        sample_group_holdout)
    rows = sample_group_holdout(spark, sf_dir).collect()
    assert rows and all(r["straddle_groups"] == 0 for r in rows)
    assert {r["split"] for r in rows} <= {"train", "val", "test"}


# ------------------------------------------------------- Welch t-test -----

def test_welch_ttest_matches_numpy(spark, sf_dir):
    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.aggregates import (
        stats_welch_ttest)

    row = stats_welch_ttest(spark, sf_dir).first()
    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("event_type").isin("click", "purchase"))
          .select("event_type", "value").collect())
    a = np.array([r["value"] for r in ev if r["event_type"] == "click"])
    b = np.array([r["value"] for r in ev if r["event_type"] == "purchase"])
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    se2 = v1 / len(a) + v2 / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(se2)
    df = se2 ** 2 / ((v1 / len(a)) ** 2 / (len(a) - 1)
                     + (v2 / len(b)) ** 2 / (len(b) - 1))
    assert row["n_click"] == len(a) and row["n_purchase"] == len(b)
    assert abs(row["t_stat"] - t) < 1e-5
    assert abs(row["welch_df"] - df) < 1e-3


# ----------------------------------------------------- late-data drop -----

def test_late_data_drop_actually_drops(spark, sf_dir):
    """The streamed result over the compared windows must equal the
    on-time-only batch aggregate AND be strictly below the
    with-late-rows aggregate — i.e. the watermark really dropped the
    late batch, and dropping mattered."""
    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.streaming.windows import (
        dws_late_data_drop)

    got = {r["stt"]: r["event_ct"]
           for r in dws_late_data_drop(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    mn, mx = ev.agg(F.min(F.unix_micros("ts")),
                    F.max(F.unix_micros("ts"))).first()
    mid = (mn + mx) // 2
    hi = mx - 2 * 3600 * 1_000_000
    us = F.unix_micros(F.col("ts"))
    hour = F.date_format(
        F.timestamp_seconds(F.floor(us / 3_600_000_000) * 3600),
        "yyyy-MM-dd HH:mm:ss")
    end_ok = (F.floor(us / 3_600_000_000) + 1) * 3_600_000_000 \
        <= mx - 3600 * 1_000_000

    def agg(df):
        return {r["stt"]: r["ct"] for r in
                df.filter(end_ok).groupBy(hour.alias("stt"))
                .agg(F.count("*").alias("ct")).collect()}

    on_time = agg(ev.filter((us <= mid) | (us > hi)))
    with_late = agg(ev)
    assert got == on_time
    assert sum(got.values()) < sum(with_late.values())


# ------------------------------------------------------ class balance -----

def test_class_balance_caps_every_label_at_minority(spark, sf_dir):
    from gmall_211027_flink_spark.operators.sampling import (
        sample_class_balance)
    rows = sample_class_balance(spark, sf_dir).collect()
    m = min(r["total_ct"] for r in rows)
    assert all(r["kept_ct"] == m for r in rows)


# ----------------------------------------------- minhash estimate bias ----

def test_minhash_estimate_is_sixteenth_quantized(spark, sf_dir):
    from gmall_211027_flink_spark.operators.dedup import N_MINHASH
    from gmall_211027_flink_spark.registry import QUERIES, load_all
    load_all()
    rows = QUERIES["dedup_minhash_estimate_bias"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        q = r["mh_estimate"] * N_MINHASH
        assert abs(q - round(q)) < 1e-9
        assert abs(r["abs_err"]
                   - abs(r["mh_estimate"] - r["exact_jaccard"])) < 2e-6


# ------------------------------------------------------ two-stage ANN -----

def test_two_stage_rerank_emits_topk_per_query(spark, sf_dir):
    from gmall_211027_flink_spark.operators.similarity import (
        N_QUERIES, TOP_K, ann_two_stage_rerank)
    rows = ann_two_stage_rerank(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES * TOP_K
    per = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, TOP_K + 1))
               for v in per.values())


# ------------------------------------------------------- DQ audits --------

def test_pk_audit_clean_on_testdata(spark, sf_dir):
    from gmall_211027_flink_spark.registry import QUERIES, load_all
    load_all()
    rows = QUERIES["quality_duplicate_pk_audit"](spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r["dup_rows"] == 0 for r in rows)


# ------------------------------------------------- late r7 additions ------

def test_bloom_prefilter_false_positive_eliminated_by_exact_join(spark):
    """A key absent from the dim but hash-colliding into set bit
    positions must survive the bloom pass yet vanish from the final
    result — false positives are the exact join's job, never the
    user's."""
    from gmall_211027_flink_spark.operators.joins import BLOOM_K, BLOOM_M
    from pyspark.sql import functions as F

    def pos(key_col, seed):
        return F.pmod(
            F.conv(F.substring(F.md5(F.concat_ws(
                ":", F.lit(seed), key_col.cast("string"))), 1, 15),
                16, 10).cast("bigint"), F.lit(BLOOM_M))

    dim = spark.createDataFrame([(k,) for k in range(200)], "k bigint")
    bits = None
    for s in range(BLOOM_K):
        p = dim.select(pos(F.col("k"), s).alias("p"))
        bits = p if bits is None else bits.unionAll(p)
    bits = bits.distinct()
    n_bits = bits.count()
    assert n_bits <= min(BLOOM_K * 200, BLOOM_M)

    # scan non-members for one that passes all k membership probes
    probe = spark.createDataFrame(
        [(k,) for k in range(200, 400_000, 7)], "k bigint")
    surv = probe
    for s in range(BLOOM_K):
        pr = surv.withColumn("_p", pos(F.col("k"), s))
        surv = (pr.join(F.broadcast(bits), pr["_p"] == bits["p"],
                        "left_semi").drop("_p"))
    fps = surv.filter(F.col("k") >= 200)
    # with 800 of 65536 bits set, FP rate ~ (800/65536)^4 — a scan of
    # ~57k non-members usually finds none; either way the exact join
    # must drop whatever survived
    joined = surv.join(dim, "k")
    assert joined.filter(F.col("k") >= 200).count() == 0
    assert fps.count() >= 0  # bloom pass itself never errors


def test_weighted_priority_sample_prefers_heavy_docs(spark, sf_dir):
    """Efraimidis-Spirakis with weight = n_chars must over-represent
    long documents: the sample's mean length should beat the corpus
    mean (a property check, not an oracle — the oracle already pins
    exact membership)."""
    from gmall_211027_flink_spark.operators.sampling import (
        sample_weighted_priority)
    from gmall_211027_flink_spark.catalog import load_table

    samp = sample_weighted_priority(spark, str(sf_dir))
    m_samp = samp.agg(F.avg("n_chars")).first()[0]
    m_all = (load_table(spark, str(sf_dir), "documents")
             .agg(F.avg("n_chars")).first()[0])
    assert m_samp > m_all


def test_ewma_weights_are_geometric_and_shared():
    from gmall_211027_flink_spark.operators.aggregates import (
        _EWMA_W, EWMA_ALPHA, EWMA_LAGS)
    ws = [float(w) for w in _EWMA_W]
    assert len(ws) == EWMA_LAGS
    assert abs(ws[0] - EWMA_ALPHA) < 1e-9
    for a, b in zip(ws, ws[1:]):
        assert abs(b / a - (1 - EWMA_ALPHA)) < 1e-6
    # truncated mass: (1-alpha)^LAGS of total weight is dropped
    assert abs(sum(ws) - (1 - (1 - EWMA_ALPHA) ** EWMA_LAGS)) < 1e-9


def test_cm_join_estimate_never_undercounts(spark, sf_dir):
    from gmall_211027_flink_spark.operators.sketches import (
        sketch_join_size_estimate)
    row = sketch_join_size_estimate(spark, str(sf_dir)).first()
    assert row["cm_estimate"] >= row["exact_size"]
    assert row["overestimate"] == row["cm_estimate"] - row["exact_size"]


def test_quantile_sketch_error_bounded_by_bin_width(spark, sf_dir):
    """Linear interpolation inside an equi-width bin cannot miss the
    exact quantile by more than one bin width."""
    from gmall_211027_flink_spark.operators.sketches import (
        QH_WIDTH, sketch_quantile_histogram)
    for r in sketch_quantile_histogram(spark, str(sf_dir)).collect():
        assert r["abs_err"] <= QH_WIDTH, r


def test_link_prediction_excludes_existing_edges(spark, sf_dir):
    from gmall_211027_flink_spark.operators.graph import (
        TRI_MIN_TOGETHER, graph_link_prediction)
    from gmall_211027_flink_spark.catalog import load_table

    preds = graph_link_prediction(spark, str(sf_dir))
    op = (load_table(spark, str(sf_dir), "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    edges = (op.alias("a").join(
        op.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("part_a"),
                 F.col("b.l_partkey").alias("part_b"))
        .agg(F.count("*").alias("ct"))
        .filter(F.col("ct") >= TRI_MIN_TOGETHER)
        .select("part_a", "part_b"))
    overlap = preds.join(edges, ["part_a", "part_b"], "inner").count()
    assert overlap == 0


def test_edit_distance_symmetric_and_thresholded(spark, sf_dir):
    from gmall_211027_flink_spark.operators.dedup import (
        ED_MAX_DIST, dedup_edit_distance_banded)
    rows = dedup_edit_distance_banded(spark, str(sf_dir)).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["edit_dist"] <= ED_MAX_DIST


def test_pq_codes_cover_all_vectors_and_subspaces(spark, sf_dir):
    """Every vector must get exactly PQ_M codes, each in [0, PQ_K) —
    the property that makes the 12-bit-per-vector compression claim
    true (and the ADC join lossless over the code table)."""
    from gmall_211027_flink_spark.operators.kmeans import (
        PQ_ITER, PQ_K, PQ_M, PQ_SUBDIM, _long_form)
    from gmall_211027_flink_spark.operators.kmeans import ann_pq_recall  # noqa: F401
    from gmall_211027_flink_spark.catalog import load_table

    n_vecs = load_table(spark, str(sf_dir), "embeddings").count()
    rec = ann_pq_recall(spark, str(sf_dir)).collect()
    # recall rows exist for every query and are valid fractions
    assert len(rec) > 0
    for r in rec:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["found_ct"] <= r["exact_k"]
    # subspace geometry covers the embedding exactly
    dims = _long_form(spark, str(sf_dir)).agg(
        F.max("dim"), F.countDistinct("dim")).first()
    assert dims[1] == PQ_M * PQ_SUBDIM == dims[0] + 1
    assert n_vecs >= PQ_K  # init needs K seed vectors
