"""Incremental aggregate maintenance (streaming/incremental.py): folding
micro-batch partials must equal the one-shot batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import await_stream


def _specs():
    return {"pv_ct": ("count", None),
            "gmv": ("sum", "v"),
            "v_min": ("min", "v"),
            "v_max": ("max", "v")}


def _batch_truth(df):
    return df.groupBy("k").agg(
        F.count("*").alias("pv_ct"), F.sum("v").alias("gmv"),
        F.min("v").alias("v_min"), F.max("v").alias("v_max"))


def _fmt(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_fold_equals_batch(spark, tmp_path):
    from gmall_211027_flink_spark.streaming.incremental import (
        IncrementalAggStore)

    rows = [("a", 1), ("b", 5), ("a", 3), ("c", -2), ("a", 7), ("b", 0),
            ("d", 9), ("c", 4)]
    df = spark.createDataFrame(rows, "k string, v int")
    store = IncrementalAggStore(str(tmp_path / "s"), ["k"], _specs())
    # uneven chunking incl. keys split across batches and new keys late
    chunks = [rows[:3], rows[3:4], rows[4:]]
    for i, ch in enumerate(chunks):
        store.write_batch(spark.createDataFrame(ch, "k string, v int"), i)
    assert _fmt(store.read(spark)) == _fmt(_batch_truth(df))
    # replayed epoch is a no-op
    store.write_batch(spark.createDataFrame(rows[:3], "k string, v int"), 2)
    assert _fmt(store.read(spark)) == _fmt(_batch_truth(df))


def test_incremental_stream_end_to_end(spark, sf_dir, tmp_path):
    from gmall_211027_flink_spark.streaming.incremental import (
        IncrementalAggStore, run_incremental_agg)

    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(ev_schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)
              .select(F.col("event_type").alias("k"),
                      F.col("value").cast("decimal(18,2)").alias("v")))
    store = IncrementalAggStore(str(tmp_path / "dws"), ["k"], _specs())
    q = run_incremental_agg(stream, store, str(tmp_path / "ckpt"))
    await_stream(q)

    truth = _batch_truth(
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.col("event_type").alias("k"),
                F.col("value").cast("decimal(18,2)").alias("v")))
    assert _fmt(store.read(spark)) == _fmt(truth)


def test_unmergeable_spec_rejected(tmp_path):
    import pytest

    from gmall_211027_flink_spark.streaming.incremental import (
        IncrementalAggStore)

    with pytest.raises(ValueError, match="avg"):
        IncrementalAggStore(str(tmp_path / "x"), ["k"],
                            {"a": ("avg", "v")})


def test_lsh_store_slicing_invariant(spark, sf_dir, tmp_path):
    """The MinHash bucket store is identical whatever micro-batch
    slicing the crawl arrives in (MIN/COUNT are order-insensitive)."""
    from pyspark.sql import functions as F

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.dedup import bands_for_docs
    from gmall_211027_flink_spark.streaming.incremental import (
        IncrementalAggStore)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def fold(path, slices):
        store = IncrementalAggStore(
            str(path), ["band_id", "band_key"],
            {"min_doc": ("min", "doc_id"), "n_docs": ("count", None)})
        for i, sl in enumerate(slices):
            store.write_batch(bands_for_docs(sl), i)
        return sorted(map(tuple, store.read(spark).collect()))

    one = fold(tmp_path / "one", [docs])
    mod3 = fold(tmp_path / "mod3",
                [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)])
    rev = fold(tmp_path / "rev",
               [docs.filter(F.col("doc_id") % 3 == i) for i in (2, 0, 1)])
    assert one == mod3 == rev
    assert len(one) > 0


def test_last_value_encoding_slicing_invariant(spark, sf_dir, tmp_path):
    """stream_last_value_compaction's MAX over the fixed-width
    (ts, seq, payload) encoding must yield the IDENTICAL compacted
    store for any micro-batch slicing — fold the events in two
    different slicings and compare against the batch last-row truth."""
    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.streaming.incremental import (
        IncrementalAggStore)

    ev = load_table(spark, sf_dir, "events")
    enc = F.concat(
        F.lpad(F.unix_timestamp("ts").cast("string"), 12, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
        F.col("event_type"))
    keyed = ev.select("user_id", enc.alias("enc"),
                      (F.col("event_id") % 4).alias("m4"),
                      (F.col("event_id") % 3).alias("m3"))

    results = []
    for col, parts in (("m4", 4), ("m3", 3)):
        store = IncrementalAggStore(
            str(tmp_path / f"store_{col}"), ["user_id"],
            {"last_enc": ("max", "enc")})
        for i in range(parts):
            store.write_batch(
                keyed.filter(F.col(col) == i).select("user_id", "enc"), i)
        results.append(sorted(
            tuple(r) for r in store.read(spark)
            .select("user_id", "last_enc").collect()))
    assert results[0] == results[1]

    truth = sorted(
        tuple(r) for r in
        keyed.groupBy("user_id").agg(F.max("enc").alias("last_enc"))
        .collect())
    assert results[0] == truth


def test_winnow_store_slicing_invariant(spark, sf_dir, tmp_path):
    """The winnowing fingerprint index is per-document, so folding any
    micro-batch slicing of the corpus yields the same (doc_id, h) set
    as the one-shot batch fingerprinting — and therefore the same
    pair scores at read time."""
    from pyspark.sql import functions as F

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.dedup import (
        winnow_fingerprints, winnow_pairs)
    from gmall_211027_flink_spark.streaming.incremental import (
        IncrementalAggStore)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_fp = sorted(
        tuple(r) for r in winnow_fingerprints(docs).collect())

    def fold(path, order):
        store = IncrementalAggStore(
            str(path), ["doc_id", "h"], {"n_batches": ("count", None)})
        for i, m in enumerate(order):
            store.write_batch(
                winnow_fingerprints(docs.filter(F.col("doc_id") % 3 == m)),
                i)
        return store.read(spark).select("doc_id", "h")

    fwd = fold(tmp_path / "fwd", (0, 1, 2))
    rev = fold(tmp_path / "rev", (2, 0, 1))
    assert sorted(tuple(r) for r in fwd.collect()) == batch_fp
    assert sorted(tuple(r) for r in rev.collect()) == batch_fp
    assert len(batch_fp) > 0

    pair_cols = ("doc_a", "doc_b", "n_shared", "score")
    batch_pairs = sorted(
        tuple(r) for r in winnow_pairs(winnow_fingerprints(docs))
        .select(*pair_cols).collect())
    store_pairs = sorted(
        tuple(r) for r in winnow_pairs(fwd).select(*pair_cols).collect())
    assert store_pairs == batch_pairs
