"""Corpus-curation operators a pretraining-data pipeline runs between
dedup and tokenization: benchmark decontamination, mixture re-weighting
(up- AND down-sampling), greedy sequence packing, and a kNN label vote
over embeddings (the standard "is my quality classifier sane" probe).

These extend the reference's surface (a realtime analytics warehouse has
no training-data stage) the same way the dedup/ANN/text families do —
first-class registered queries with DuckDB oracles, designed for the
100 TB shape first:

- **decontamination** is a broadcast semi-join: the eval-suite n-gram
  set is tiny (MBs) next to the corpus (TBs), so the corpus-side grams
  are filtered map-side and only the (small) contaminated-id set ever
  shuffles. At cluster scale the broadcast set naturally becomes a bloom
  filter — same plan shape, one-sided error only.
- **mixture re-weighting** is a pure map-side expression off the same
  content-keyed hash bucket as `sampling.assign_split` — no shuffle, no
  state, bit-identical across engines and across reruns.
- **sequence packing** uses concat-then-chunk semantics (a doc belongs
  to the sequence where it STARTS): one window cumsum per stratum, no
  iterative bin-packing. Strata are (lang, hash_bucket): lang alone
  would make one giant sorted partition per language at 100 TB, so the
  content-keyed bucket bounds every window partition to ~1/PACK_BUCKETS
  of its language — raise PACK_BUCKETS with corpus size and each
  stratum stays executor-sized. Budgets are per-stratum, so the result
  is deterministic regardless of bucket count.
- **kNN vote** re-uses the broadcast-queries / corpus-never-moves ANN
  shape from `similarity.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_211027_flink_spark.catalog import load_table
from gmall_211027_flink_spark.operators.sampling import hash_bucket
from gmall_211027_flink_spark.operators.similarity import (
    LSH_BITS,
    N_QUERIES,
    _with_norm,
)
from gmall_211027_flink_spark.registry import query
from gmall_211027_flink_spark.session import checkpoint

# Eval membership must be a pure function of the row (reproducible), so
# the "benchmark suite" is carved deterministically: doc_id % EVAL_MOD.
EVAL_MOD = 43
NGRAM = 5            # word 5-grams: the published decontamination norm
                     # (8-13-gram on real corpora) scaled to ~50-word docs
PACK_BUDGET = 2048   # tokens per packed training sequence
PACK_BUCKETS = 16    # sub-strata per language; scale up with corpus size
KNN_K = 10


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training docs sharing any word-5-gram
# with the eval suite. The candidate test is an equi-join on the gram
# string against a broadcast eval-gram set — the corpus side never
# shuffles; only contaminated doc_ids (bounded by the eval suite's
# near-dup footprint) reach an exchange.
# ---------------------------------------------------------------------------

@query(
    "decontaminate_ngram",
    bench=True,
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w,
             doc_id % {EVAL_MOD} = 0 AS is_eval
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, lang, is_eval,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] AS g
      FROM toks, UNNEST(generate_series(1, greatest(len(w) - {NGRAM - 1}, 0))) AS t(i)
    ),
    eg AS (SELECT DISTINCT g FROM grams WHERE is_eval),
    cont AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE NOT is_eval AND g IN (SELECT g FROM eg)
    )
    SELECT t.lang,
           COUNT(*) AS train_ct,
           COUNT(c.doc_id) AS contaminated_ct,
           COUNT(*) - COUNT(c.doc_id) AS clean_ct,
           round(CAST(COUNT(c.doc_id) AS DOUBLE) / COUNT(*), 6)
             AS contamination_rate
    FROM toks t LEFT JOIN cont c USING (doc_id)
    WHERE NOT t.is_eval
    GROUP BY 1
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("w"),
        (F.col("doc_id") % EVAL_MOD == 0).alias("is_eval"))
    grams = docs.select(
        "doc_id", "is_eval",
        F.explode(F.expr(
            f"array_distinct(transform("
            f" if(size(w) >= {NGRAM}, sequence(1, size(w)-{NGRAM - 1}),"
            "  cast(array() as array<int>)),"
            " i -> concat_ws(' ', element_at(w,i), element_at(w,i+1),"
            " element_at(w,i+2), element_at(w,i+3), element_at(w,i+4))))"
        )).alias("g"))
    eval_grams = grams.filter("is_eval").select("g").distinct()
    # Broadcast semi-join: corpus grams stay put; at real scale this set
    # is the eval suite's n-grams (MBs) and degrades gracefully to a
    # bloom filter with identical plan shape.
    cont = (grams.filter(~F.col("is_eval"))
            .join(F.broadcast(eval_grams), "g", "left_semi")
            .select("doc_id").distinct()
            .withColumn("hit", F.lit(1)))
    train = docs.filter(~F.col("is_eval")).select("doc_id", "lang")
    return (
        train.join(F.broadcast(cont), "doc_id", "left")
        .groupBy("lang")
        .agg(F.count("*").alias("train_ct"),
             F.count("hit").alias("contaminated_ct"),
             (F.count("*") - F.count("hit")).alias("clean_ct"),
             F.round(F.count("hit").cast("double") / F.count("*"), 6)
              .alias("contamination_rate"))
    )


# ---------------------------------------------------------------------------
# Mixture re-weighting: each source gets an epoch weight; weight > 1
# duplicates docs (upsampling), weight < 1 drops them, fractional parts
# resolved by the same content-keyed hash bucket as the split assigner —
# deterministic, shuffle-free, nested under weight increases.
# ---------------------------------------------------------------------------

# Weight by source-id class: a stand-in for the curated per-source table
# (wiki-like sources upsampled 2.5x, default kept, half-weighted, culled).
_W_CASE_SQL = """CASE CAST(substr(source, 4) AS INTEGER) % 4
    WHEN 0 THEN 2.5 WHEN 1 THEN 1.0 WHEN 2 THEN 0.5 ELSE 0.0 END"""


@query(
    "mixture_weighted_sample",
    oracle=f"""
    WITH wts AS (
      SELECT source, doc_id, {_W_CASE_SQL} AS wt,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 100 AS b
      FROM documents
    ),
    copies AS (
      SELECT source, wt,
             CAST(floor(wt) AS BIGINT)
               + CASE WHEN b < CAST(round((wt - floor(wt)) * 100) AS BIGINT)
                      THEN 1 ELSE 0 END AS n_copies
      FROM wts
    )
    SELECT source, COUNT(*) AS docs_in,
           CAST(SUM(n_copies) AS BIGINT) AS docs_out,
           round(CAST(SUM(n_copies) AS DOUBLE) / COUNT(*), 6)
             AS realized_weight
    FROM copies GROUP BY 1
    """,
)
def mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("integer")
    wt = (F.when(src_num % 4 == 0, F.lit(2.5))
           .when(src_num % 4 == 1, F.lit(1.0))
           .when(src_num % 4 == 2, F.lit(0.5))
           .otherwise(F.lit(0.0)))
    frac_keep = hash_bucket(F.col("doc_id")) < F.round(
        (wt - F.floor(wt)) * 100).cast("bigint")
    n_copies = F.floor(wt).cast("bigint") + frac_keep.cast("bigint")
    return (
        docs.select("source", n_copies.alias("n_copies"))
        .groupBy("source")
        .agg(F.count("*").alias("docs_in"),
             F.sum("n_copies").alias("docs_out"),
             F.round(F.sum("n_copies").cast("double") / F.count("*"), 6)
              .alias("realized_weight"))
    )


# ---------------------------------------------------------------------------
# Greedy sequence packing (concat-then-chunk): docs are laid end-to-end
# in deterministic (doc_id) order per stratum; a doc belongs to the
# PACK_BUDGET-token sequence its first token lands in. One window cumsum
# — no iterative solver, no driver loop. The stratum is (lang, bucket),
# NOT lang alone: a per-language window is a global sort per language,
# i.e. a handful of giant straggler/OOM partitions at 100 TB. The
# content-keyed hash bucket (same md5 bucketing as sampling.assign_split,
# so DuckDB mirrors it exactly) bounds every window partition to
# ~|lang| / PACK_BUCKETS docs, and the per-stratum budget keeps the
# output deterministic for any bucket count.
# ---------------------------------------------------------------------------

@query(
    "seq_pack_token_budget",
    oracle=f"""
    WITH toks AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {PACK_BUCKETS} AS bucket
      FROM documents
    ),
    packed AS (
      SELECT lang, bucket, doc_id, tokens,
             CAST(floor(
               (SUM(tokens) OVER (PARTITION BY lang, bucket ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - tokens)
               / {PACK_BUDGET}.0) AS BIGINT) AS seq_id
      FROM toks
    )
    SELECT lang, bucket, seq_id, COUNT(*) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS seq_tokens, MIN(doc_id) AS first_doc
    FROM packed GROUP BY 1, 2, 3
    """,
)
def seq_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", F.size(F.split("text", " ")).alias("tokens"),
        hash_bucket(F.col("doc_id"), PACK_BUCKETS).alias("bucket"))
    w = (Window.partitionBy("lang", "bucket").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = toks.withColumn(
        "seq_id",
        F.floor((F.sum("tokens").over(w) - F.col("tokens"))
                / F.lit(float(PACK_BUDGET))).cast("bigint"))
    return (
        packed.groupBy("lang", "bucket", "seq_id")
        .agg(F.count("*").alias("n_docs"),
             F.sum("tokens").alias("seq_tokens"),
             F.min("doc_id").alias("first_doc"))
    )


# ---------------------------------------------------------------------------
# kNN majority-vote classification over the embedding table: top-KNN_K
# cosine neighbors per query vector, predicted label = modal neighbor
# label (ties -> smallest label). Same broadcast-queries shape as
# ann_cosine_topk; the vote adds one partial-aggregated groupBy on
# (query_id, label) — KNN_K rows per query, trivially small.
#
# EXACT BRUTE-FORCE BASELINE, by intent: the broadcast-nested-loop scan
# of the full corpus per query is the recall-1.0 reference, fine for a
# bounded probe set (N_QUERIES). At 100 TB-scale query counts, route the
# candidate generation through the sign-LSH buckets instead —
# knn_label_vote_lsh below is exactly that, same vote, bucket-equi-join
# candidates (the ann_cosine_topk / ann_lsh_bucketed trade, applied to
# classification).
# ---------------------------------------------------------------------------

@query(
    "knn_label_vote",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.label AS cand_label, c.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, c.emb) / (q.norm * c.norm), 6) AS cosine
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, cand_label, COUNT(*) AS votes
      FROM ranked WHERE rk <= {KNN_K} GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, cand_label) AS vrk
      FROM votes
    )
    SELECT query_id, true_label, cand_label AS predicted_label, votes
    FROM best WHERE vrk = 1
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"),
        F.col("emb").alias("qemb"), F.col("norm").alias("qnorm"))
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("label").alias("cand_label"), "emb", "norm")
    dot = F.expr(
        "aggregate(zip_with(qemb, emb, (x, y) -> x * y),"
        " cast(0 as double), (acc, x) -> acc + x)")
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(dot / (F.col("qnorm") * F.col("norm")), 6))
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    topk = (scored.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= KNN_K))
    votes = (topk.groupBy("query_id", "true_label", "cand_label")
             .agg(F.count("*").alias("votes")))
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), "cand_label")
    return (
        votes.withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") == 1)
        .select("query_id", "true_label",
                F.col("cand_label").alias("predicted_label"), "votes")
    )


# ---------------------------------------------------------------------------
# kNN vote, LSH-candidate-routed (the scale path): candidates come from
# a sign-LSH bucket equi-join instead of the full-corpus scan, cutting
# per-query work by ~2^LSH_BITS at the cost of recall (a query with no
# bucket-mates yields no prediction). Vote semantics identical to
# knn_label_vote; the oracle mirrors the bucketing bit-for-bit, so this
# is exact-vs-oracle even though it is approximate-vs-exhaustive-kNN.
# ---------------------------------------------------------------------------

@query(
    "knn_label_vote_lsh",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm,
             list_aggregate(
               list_transform(embedding[1:{LSH_BITS}],
                              x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
               'string_agg', '') AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
             c.label AS cand_label, c.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, c.emb) / (q.norm * c.norm), 6) AS cosine
      FROM e q JOIN e c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rk
      FROM scored
    ),
    votes AS (
      SELECT query_id, true_label, cand_label, COUNT(*) AS votes
      FROM ranked WHERE rk <= {KNN_K} GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, cand_label) AS vrk
      FROM votes
    )
    SELECT query_id, true_label, cand_label AS predicted_label, votes
    FROM best WHERE vrk = 1
    """,
)
def knn_label_vote_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_norm(load_table(spark, sf_dir, "embeddings")).withColumn(
        "bucket",
        F.expr(
            f"concat_ws('', transform(slice(embedding, 1, {LSH_BITS}),"
            " x -> case when x >= 0 then '1' else '0' end))"),
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label"),
        F.col("emb").alias("qemb"), F.col("norm").alias("qnorm"), "bucket")
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("label").alias("cand_label"), "emb", "norm",
                 F.col("bucket").alias("cbucket"))
    dot = F.expr(
        "aggregate(zip_with(qemb, emb, (x, y) -> x * y),"
        " cast(0 as double), (acc, x) -> acc + x)")
    scored = (
        c.join(F.broadcast(q),
               (F.col("bucket") == F.col("cbucket"))
               & (F.col("neighbor_id") != F.col("query_id")))
        .withColumn("cosine", F.round(dot / (F.col("qnorm") * F.col("norm")), 6))
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    topk = (scored.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= KNN_K))
    votes = (topk.groupBy("query_id", "true_label", "cand_label")
             .agg(F.count("*").alias("votes")))
    wv = Window.partitionBy("query_id").orderBy(F.desc("votes"), "cand_label")
    return (
        votes.withColumn("vrk", F.row_number().over(wv))
        .filter(F.col("vrk") == 1)
        .select("query_id", "true_label",
                F.col("cand_label").alias("predicted_label"), "votes")
    )


# ---------------------------------------------------------------------------
# FUZZY decontamination via MinHash bands: flag training docs that are
# NEAR-duplicates of eval-suite docs (decontaminate_ngram catches exact
# n-gram overlap; paraphrased or lightly-edited contamination slips
# through it). A train doc is flagged iff it shares any LSH band with
# any eval doc — the same banded equi-join as dedup_minhash_lsh, except
# one side is the (tiny) eval suite, so the corpus-side bands are
# filtered map-side against a broadcast and nothing corpus-sized ever
# shuffles. Reuses minhash_bands, so signature cost is shared with the
# dedup pass in a real pipeline run.
# ---------------------------------------------------------------------------

def _fuzzy_decon_oracle() -> str:
    from gmall_211027_flink_spark.operators.dedup import (
        _SHINGLES_SQL, _minhash_bands_sql)
    return f"""
    WITH {_SHINGLES_SQL},
    {_minhash_bands_sql().strip().lstrip()}
    ,
    eval_bands AS (
      SELECT DISTINCT band_id, band_key FROM bands
      WHERE doc_id % {EVAL_MOD} = 0
    ),
    cont AS (
      SELECT DISTINCT b.doc_id FROM bands b
      JOIN eval_bands e ON b.band_id = e.band_id
                       AND b.band_key = e.band_key
      WHERE b.doc_id % {EVAL_MOD} <> 0
    )
    SELECT d.lang,
           COUNT(*) AS train_ct,
           COUNT(c.doc_id) AS contaminated_ct,
           round(CAST(COUNT(c.doc_id) AS DOUBLE) / COUNT(*), 6)
             AS contamination_rate
    FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
    WHERE d.doc_id % {EVAL_MOD} <> 0
    GROUP BY 1
    """


@query("decontaminate_fuzzy_minhash", oracle=_fuzzy_decon_oracle())
def decontaminate_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_211027_flink_spark.operators.dedup import minhash_bands
    bands = minhash_bands(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_bands = (bands.filter(is_eval)
                  .select("band_id", "band_key").distinct())
    cont = (bands.filter(~is_eval)
            .join(F.broadcast(eval_bands), ["band_id", "band_key"],
                  "left_semi")
            .select("doc_id").distinct()
            .withColumn("hit", F.lit(1)))
    train = (load_table(spark, sf_dir, "documents")
             .filter(~is_eval).select("doc_id", "lang"))
    return (
        train.join(F.broadcast(cont), "doc_id", "left")
        .groupBy("lang")
        .agg(F.count("*").alias("train_ct"),
             F.count("hit").alias("contaminated_ct"),
             F.round(F.count("hit").cast("double") / F.count("*"), 6)
              .alias("contamination_rate"))
    )


# ---------------------------------------------------------------------------
# Span-level contamination report: not just WHICH training docs share
# an eval 5-gram (decontaminate_ngram's verdict) but WHERE and HOW MUCH
# — per contaminated doc, the number of matching gram positions and the
# longest contiguous run (gaps-and-islands over positions, same trick
# as dedup_span_exact). The excise-vs-drop decision needs exactly this:
# a doc with one stray gram is excisable, one with a long run is a real
# leak. Positions keep the corpus side map-side; only (doc, pos) rows
# whose gram hits the broadcast eval set reach the island window.
# ---------------------------------------------------------------------------

@query(
    "decontaminate_span_report",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             doc_id % {EVAL_MOD} = 0 AS is_eval
      FROM documents
    ),
    pos_grams AS (
      SELECT doc_id, is_eval, i AS pos,
             len(w) - {NGRAM - 1} AS n_positions,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] AS g
      FROM toks, UNNEST(generate_series(1,
             greatest(len(w) - {NGRAM - 1}, 0))) AS t(i)
    ),
    eg AS (SELECT DISTINCT g FROM pos_grams WHERE is_eval),
    hits AS (
      SELECT doc_id, n_positions, pos,
             pos - row_number() OVER (
               PARTITION BY doc_id ORDER BY pos) AS grp
      FROM pos_grams
      WHERE NOT is_eval AND g IN (SELECT g FROM eg)
    ),
    runs AS (
      SELECT doc_id, n_positions, grp, COUNT(*) AS n_pos,
             MAX(pos) - MIN(pos) + {NGRAM} AS run_tokens
      FROM hits GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(n_positions AS BIGINT) AS n_positions,
           CAST(SUM(n_pos) AS BIGINT) AS n_hit_positions,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_tokens) AS BIGINT) AS max_run_tokens,
           round(CAST(SUM(n_pos) AS DOUBLE) / n_positions, 6)
             AS hit_ratio
    FROM runs GROUP BY doc_id, n_positions
    """,
)
def decontaminate_span_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w"),
        (F.col("doc_id") % EVAL_MOD == 0).alias("is_eval"))
    pos_grams = docs.select(
        "doc_id", "is_eval",
        (F.size("w") - (NGRAM - 1)).alias("n_positions"),
        F.explode(F.expr(
            f"transform(if(size(w) >= {NGRAM},"
            f" sequence(1, size(w)-{NGRAM - 1}),"
            " cast(array() as array<int>)),"
            " i -> struct(i as pos, concat_ws(' ', element_at(w,i),"
            " element_at(w,i+1), element_at(w,i+2), element_at(w,i+3),"
            " element_at(w,i+4)) as g))")).alias("p")
    ).select("doc_id", "is_eval", "n_positions", "p.pos", "p.g")
    eg = pos_grams.filter("is_eval").select("g").distinct()
    hits = (pos_grams.filter(~F.col("is_eval"))
            .join(F.broadcast(eg), "g", "left_semi")
            .withColumn("grp", F.col("pos") - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("pos"))))
    runs = (hits.groupBy("doc_id", "n_positions", "grp")
            .agg(F.count("*").alias("n_pos"),
                 (F.max("pos") - F.min("pos") + NGRAM)
                 .alias("run_tokens")))
    return (runs.groupBy("doc_id", "n_positions")
            .agg(F.sum("n_pos").cast("bigint").alias("n_hit_positions"),
                 F.count("*").cast("bigint").alias("n_runs"),
                 F.max("run_tokens").cast("bigint")
                 .alias("max_run_tokens"),
                 F.round(F.sum("n_pos").cast("double")
                         / F.col("n_positions"), 6).alias("hit_ratio"))
            .select("doc_id", F.col("n_positions").cast("bigint")
                    .alias("n_positions"), "n_hit_positions", "n_runs",
                    "max_run_tokens", "hit_ratio"))


# ---------------------------------------------------------------------------
# Per-source quota curation: keep at most SOURCE_QUOTA documents per
# source, best-quality-first — the source-balancing cut a pretraining
# mix applies so one over-crawled domain can't dominate the corpus
# (the cap side of mixture_weighted_sample's upweighting). Quality key
# = distinct-token ratio (the text_quality_score signal), ranked with a
# doc_id tie-break so the cut is a total order in both engines.
#
# Scale: ratio is map-side; the rank is one source-keyed window sort
# (top-N per key, WindowGroupLimit prunes to quota per partition
# before the sort completes — no global sort, no full materialization).
# ---------------------------------------------------------------------------

SOURCE_QUOTA = 25


@query(
    "curation_quota_per_source",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS dr
      FROM documents
    ),
    r AS (
      SELECT source, doc_id, dr,
             row_number() OVER (
               PARTITION BY source ORDER BY dr DESC, doc_id) AS rk
      FROM t
    )
    SELECT source, doc_id, round(dr, 6) AS distinct_ratio,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {SOURCE_QUOTA}
    """,
)
def curation_quota_per_source(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    dr = (F.size(F.array_distinct(w)).cast("double")
          / F.size(w).cast("double"))
    t = docs.select("doc_id", "source", dr.alias("dr"))
    wq = Window.partitionBy("source").orderBy(F.desc("dr"), "doc_id")
    return (t.withColumn("rk", F.row_number().over(wq))
            .filter(F.col("rk") <= SOURCE_QUOTA)
            .select("source", "doc_id",
                    F.round("dr", 6).alias("distinct_ratio"),
                    F.col("rk").cast("bigint").alias("rk")))


# ---------------------------------------------------------------------------
# Cross-source overlap matrix: pairwise word-5-gram Jaccard between
# sources — the curation dashboard that tells you two crawls are
# substantially the same corpus BEFORE you pay to dedup their union
# (the cross-source analog of dedup_winnowing_fingerprints' doc pairs).
#
# Plan shape for 100 TB: the corpus-sized stage is one DISTINCT over
# (source, gram) — per-source gram SETS, so a gram repeated within a
# source costs one row. The only cross-source stage is the gram
# equi-join, capped by the stop-gram discipline (grams present in more
# than OVERLAP_MAXSRC sources are boilerplate and dropped), so bucket
# fan-out is bounded by OVERLAP_MAXSRC, never |sources|. At cluster
# scale the join key becomes a 64-bit gram hash (winnowing's trick) to
# shrink shuffle width; the string key is kept here for an exact,
# hash-free oracle.
# ---------------------------------------------------------------------------

OVERLAP_NGRAM = 5     # word 5-grams (decontaminate_ngram's granularity)
OVERLAP_MAXSRC = 10   # stop-gram cap: shared by > this many sources


@query(
    "curation_source_overlap_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT source, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
      SELECT DISTINCT source,
             array_to_string(w[i:i + {OVERLAP_NGRAM} - 1], ' ') AS gram
      FROM toks,
           UNNEST(generate_series(1, len(w) - {OVERLAP_NGRAM} + 1)) AS t(i)
      WHERE len(w) >= {OVERLAP_NGRAM}
    ),
    keep AS (
      SELECT gram FROM g GROUP BY gram
      HAVING COUNT(*) <= {OVERLAP_MAXSRC}
    ),
    gk AS (SELECT g.source, g.gram FROM g JOIN keep USING (gram)),
    sizes AS (SELECT source, COUNT(*) AS ng FROM gk GROUP BY 1),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_shared
      FROM gk a JOIN gk b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(CAST(n_shared AS DOUBLE)
                 / (sa.ng + sb.ng - n_shared), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    """,
)
def curation_source_overlap_matrix(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.split("text", " ").alias("w"))
    g = (toks.filter(F.size("w") >= OVERLAP_NGRAM)
         .select("source", F.explode(F.expr(
             f"transform(sequence(1, size(w) - {OVERLAP_NGRAM} + 1),"
             f" i -> concat_ws(' ', slice(w, i, {OVERLAP_NGRAM})))"))
             .alias("gram"))
         .distinct())
    keep = (g.groupBy("gram").agg(F.count("*").alias("nsrc"))
            .filter(F.col("nsrc") <= OVERLAP_MAXSRC).select("gram"))
    gk = g.join(keep, "gram")
    sizes = gk.groupBy("source").agg(F.count("*").alias("ng"))
    a, b = gk.alias("a"), gk.alias("b")
    pairs = (a.join(b, (F.col("a.gram") == F.col("b.gram"))
                    & (F.col("a.source") < F.col("b.source")))
             .groupBy(F.col("a.source").alias("source_a"),
                      F.col("b.source").alias("source_b"))
             .agg(F.count("*").alias("n_shared")))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (pairs
            .join(F.broadcast(sa), F.col("sa.source") == F.col("source_a"))
            .join(F.broadcast(sb), F.col("sb.source") == F.col("source_b"))
            .select("source_a", "source_b",
                    F.col("n_shared").cast("bigint").alias("n_shared"),
                    F.round(F.col("n_shared").cast("double")
                            / (F.col("sa.ng") + F.col("sb.ng")
                               - F.col("n_shared")), 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# Token-budget epoch scheduler: allocate a training-token budget across
# sources proportionally to a value weight (distinct-vocabulary size —
# dedup-aware worth, not raw bulk), subject to a repetition cap of
# MAX_EPOCHS passes over any single source (the data-constrained
# scaling rule: repeating a source beyond ~4 epochs stops buying loss).
# Classic water-filling, run as EPOCH_ROUNDS bounded redistribution
# rounds: capped sources freeze at cap, their unused share re-divides
# among the still-active sources by weight. Bounded unrolling (not
# fixpoint) keeps both engines bit-identical even pre-convergence —
# the min_label_components / graph_kcore_bounded discipline.
#
# Exactness: every quantity is BIGINT (token counts, vocab counts,
# floor-divided allocations); the single float is the final
# epochs = alloc/toks readout. Scale: per-source aggregates are the
# only corpus-sized stage (two-phase sum + distinct); the K rounds run
# over |sources| rows with broadcast scalar totals — no corpus re-scan.
# ---------------------------------------------------------------------------

EPOCH_BUDGET_X = 3   # token budget = this many × the corpus token count
MAX_EPOCHS = 3       # repetition cap: no source is read more than this
EPOCH_ROUNDS = 3     # bounded water-filling redistribution rounds


def _epoch_schedule_oracle() -> str:
    x, m = EPOCH_BUDGET_X, MAX_EPOCHS
    # unrolled bounded water-filling; every multiply-referenced CTE is
    # MATERIALIZED (DuckDB inlines CTEs exponentially otherwise)
    rounds = []
    prev_r, prev_t = "r1", "t1"
    for k in range(2, EPOCH_ROUNDS + 1):
        rounds.append(f"""
    r{k} AS MATERIALIZED (
      SELECT {prev_r}.source, {prev_r}.toks, {prev_r}.vocab_w,
             {prev_r}.cap,
             {prev_r}.capped OR COALESCE(
               ({prev_t}.b * {prev_r}.vocab_w) // {prev_t}.wv
                 >= {prev_r}.cap, FALSE) AS capped
      FROM {prev_r}, {prev_t}
    ),
    t{k} AS MATERIALIZED (
      SELECT (SELECT b FROM t0)
               - CAST(COALESCE(SUM(cap) FILTER (WHERE capped), 0)
                      AS BIGINT) AS b,
             CAST(SUM(vocab_w) FILTER (WHERE NOT capped) AS BIGINT) AS wv
      FROM r{k}
    )""")
        prev_r, prev_t = f"r{k}", f"t{k}"
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT source, string_split(text, ' ') AS w FROM documents
    ),
    src_toks AS MATERIALIZED (
      SELECT source, CAST(SUM(len(w)) AS BIGINT) AS toks
      FROM toks GROUP BY 1
    ),
    src_vocab AS MATERIALIZED (
      SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_w
      FROM toks, UNNEST(w) AS u(tok) GROUP BY 1
    ),
    base AS MATERIALIZED (
      SELECT s.source, s.toks, v.vocab_w, {m} * s.toks AS cap
      FROM src_toks s JOIN src_vocab v USING (source)
    ),
    t0 AS MATERIALIZED (
      SELECT {x} * CAST(SUM(toks) AS BIGINT) AS b,
             CAST(SUM(vocab_w) AS BIGINT) AS wv
      FROM base
    ),
    r1 AS MATERIALIZED (
      SELECT base.*, COALESCE(
        (t0.b * vocab_w) // t0.wv >= cap, FALSE) AS capped
      FROM base, t0
    ),
    t1 AS MATERIALIZED (
      SELECT (SELECT b FROM t0)
               - CAST(COALESCE(SUM(cap) FILTER (WHERE capped), 0)
                      AS BIGINT) AS b,
             CAST(SUM(vocab_w) FILTER (WHERE NOT capped) AS BIGINT) AS wv
      FROM r1
    ),{','.join(rounds)}
    SELECT source, toks, vocab_w,
           CAST(CASE WHEN capped THEN cap
                ELSE LEAST(COALESCE(({prev_t}.b * vocab_w)
                                    // {prev_t}.wv, 0), cap)
                END AS BIGINT) AS alloc_tokens,
           round(CAST(CASE WHEN capped THEN cap
                      ELSE LEAST(COALESCE(({prev_t}.b * vocab_w)
                                          // {prev_t}.wv, 0), cap)
                      END AS DOUBLE) / toks, 6) AS epochs,
           capped
    FROM {prev_r}, {prev_t}
    """


@query("curation_epoch_schedule", oracle=_epoch_schedule_oracle())
def curation_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.split("text", " ").alias("w"))
    src_toks = (toks.groupBy("source")
                .agg(F.sum(F.size("w")).cast("bigint").alias("toks")))
    src_vocab = (toks.select("source", F.explode("w").alias("tok"))
                 .groupBy("source")
                 .agg(F.countDistinct("tok").cast("bigint")
                      .alias("vocab_w")))
    base = (src_toks.join(src_vocab, "source")
            .withColumn("cap", F.lit(MAX_EPOCHS) * F.col("toks")))
    t0 = base.agg(
        (F.lit(EPOCH_BUDGET_X) * F.sum("toks")).cast("bigint").alias("b"),
        F.sum("vocab_w").cast("bigint").alias("wv"))
    # b0 rides along so later rounds recompute B_k = B0 − Σ capped caps
    cur = (base.crossJoin(F.broadcast(t0.select(
               F.col("b").alias("b0"), F.col("b"), F.col("wv"))))
           .withColumn("capped", F.coalesce(
               F.expr("(b * vocab_w) div wv") >= F.col("cap"),
               F.lit(False)))
           .drop("b", "wv"))
    for _ in range(EPOCH_ROUNDS - 1):
        tk = cur.agg(
            (F.max("b0") - F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0)))
            .cast("bigint").alias("b"),
            F.sum(F.when(~F.col("capped"), F.col("vocab_w")))
            .cast("bigint").alias("wv"))
        cur = (cur.crossJoin(F.broadcast(tk))
               .withColumn("capped", F.col("capped") | F.coalesce(
                   F.expr("(b * vocab_w) div wv") >= F.col("cap"),
                   F.lit(False)))
               .drop("b", "wv"))
    tf = cur.agg(
        (F.max("b0") - F.coalesce(
            F.sum(F.when(F.col("capped"), F.col("cap"))), F.lit(0)))
        .cast("bigint").alias("b"),
        F.sum(F.when(~F.col("capped"), F.col("vocab_w")))
        .cast("bigint").alias("wv"))
    # the cap is HARD: a still-active source's share may exceed its cap
    # if the bounded rounds stopped before it was frozen — clamp it
    alloc = F.when(F.col("capped"), F.col("cap")).otherwise(
        F.least(F.coalesce(F.expr("(b * vocab_w) div wv"), F.lit(0)),
                F.col("cap")))
    return (cur.crossJoin(F.broadcast(tf))
            .select("source", "toks", "vocab_w",
                    alloc.cast("bigint").alias("alloc_tokens"),
                    F.round(alloc.cast("double") / F.col("toks"), 6)
                    .alias("epochs"),
                    "capped"))


# ---------------------------------------------------------------------------
# Contamination rollup by SOURCE: the same eval-suite 5-gram overlap as
# decontaminate_ngram, reported per crawl source instead of per
# language — the view that tells a pipeline WHICH feed is leaking eval
# data (a benchmarks-mirror source shows up immediately). Same
# broadcast semi-join plan; corpus grams never shuffle.
# ---------------------------------------------------------------------------

@query(
    "curation_contamination_by_source",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w,
             doc_id % {EVAL_MOD} = 0 AS is_eval
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, is_eval,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                  || ' ' || w[i+4] AS g
      FROM toks, UNNEST(generate_series(1, greatest(len(w) - {NGRAM - 1}, 0))) AS t(i)
    ),
    eg AS (SELECT DISTINCT g FROM grams WHERE is_eval),
    cont AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE NOT is_eval AND g IN (SELECT g FROM eg)
    )
    SELECT t.source,
           COUNT(*) AS train_ct,
           COUNT(c.doc_id) AS contaminated_ct,
           round(CAST(COUNT(c.doc_id) AS DOUBLE) / COUNT(*), 6)
             AS contamination_rate
    FROM toks t LEFT JOIN cont c USING (doc_id)
    WHERE NOT t.is_eval
    GROUP BY 1
    """,
)
def curation_contamination_by_source(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w"),
        (F.col("doc_id") % EVAL_MOD == 0).alias("is_eval"))
    grams = docs.select(
        "doc_id", "is_eval",
        F.explode(F.expr(
            f"array_distinct(transform("
            f" if(size(w) >= {NGRAM}, sequence(1, size(w)-{NGRAM - 1}),"
            "  cast(array() as array<int>)),"
            " i -> concat_ws(' ', element_at(w,i), element_at(w,i+1),"
            " element_at(w,i+2), element_at(w,i+3), element_at(w,i+4))))"
        )).alias("g"))
    eval_grams = grams.filter("is_eval").select("g").distinct()
    cont = (grams.filter(~F.col("is_eval"))
            .join(F.broadcast(eval_grams), "g", "left_semi")
            .select("doc_id").distinct()
            .withColumn("hit", F.lit(1)))
    train = docs.filter(~F.col("is_eval")).select("doc_id", "source")
    return (train.join(F.broadcast(cont), "doc_id", "left")
            .groupBy("source")
            .agg(F.count("*").alias("train_ct"),
                 F.count("hit").alias("contaminated_ct"),
                 F.round(F.count("hit").cast("double") / F.count("*"), 6)
                  .alias("contamination_rate")))


# ---------------------------------------------------------------------------
# Token-budget allocation by WATER-FILLING: given per-source token
# capacities T_s and a total training budget B (here 50% of the
# corpus), allocate each source an equal share of the budget, cap at
# capacity, and redistribute the leftover equally among the uncapped
# sources — WFA_ROUNDS unrolled rounds (the iteration count is FIXED,
# like kmeans/pagerank: cross-engine drift in a convergence test could
# change the round count). This is the data-mixing computation run
# before building a pretraining mixture: small sources contribute all
# they have; big sources split the remainder.
#
# All-integer math (token counts, floor-divided shares) — exact in
# both engines, no float boundary until the final fill_ratio. Scale:
# capacities come from ONE distributed agg; the rounds run on the
# n_sources-row summary (constant size, broadcast-scale) — the corpus
# is touched exactly once.
# ---------------------------------------------------------------------------

WFA_ROUNDS = 4
WFA_BUDGET_PCT = 50       # budget = 50% of total corpus tokens
# Non-uniform TARGET WEIGHTS (mixture upweighting: source id % 4 ->
# 1..4): with uniform weights over this corpus's near-uniform sources
# no cap ever binds and the redistribution rounds are no-ops
# (measured: zero capped sources, fill 0.47-0.54) — weighted demand
# pushes high-weight sources past capacity so the water actually
# fills: capped sources release budget that later rounds spread over
# the open ones, weight-proportionally. Weights are powers of two
# (1/2/4/8): the 8x sources demand ~107% of capacity at a 50% budget,
# so caps genuinely bind and the later rounds redistribute (linear
# 1..4 weights topped out at fill 0.86 — still no cap, measured).
_WFA_W_SQL = "(CAST(pow(2, CAST(substr(source, 4) AS INTEGER) % 4) AS INTEGER))"


def _wfa_oracle() -> str:
    ctes = [f"""
    cap AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t,
             CAST({_WFA_W_SQL} AS BIGINT) AS w
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(t) * {WFA_BUDGET_PCT} // 100 AS BIGINT) AS budget
      FROM cap
    ),
    a0 AS (
      SELECT source, t, w, CAST(0 AS BIGINT) AS a FROM cap
    )"""]
    for r in range(1, WFA_ROUNDS + 1):
        prev = f"a{r - 1}"
        ctes.append(f"""
    s{r} AS (
      SELECT CAST(tot.budget - SUM(a) AS BIGINT) AS rem,
             CAST(SUM(CASE WHEN a < t THEN w ELSE 0 END) AS BIGINT)
               AS w_open
      FROM {prev}, tot GROUP BY tot.budget
    ),
    a{r} AS (
      SELECT p.source, p.t, p.w,
             CAST(LEAST(p.t, p.a + CASE WHEN p.a < p.t AND s.w_open > 0
                                        THEN s.rem * p.w // s.w_open
                                        ELSE 0 END) AS BIGINT) AS a
      FROM {prev} p, s{r} s
    )""")
    return f"""
    WITH {','.join(ctes)}
    SELECT source, CAST(w AS BIGINT) AS target_w, t AS cap_tokens,
           a AS alloc_tokens,
           round(CAST(a AS DOUBLE) / t, 6) AS fill_ratio,
           CAST((SELECT budget - SUM(a) FROM a{WFA_ROUNDS}, tot
                 GROUP BY budget) AS BIGINT) AS leftover
    FROM a{WFA_ROUNDS} ORDER BY source
    """


@query("curation_token_budget_allocation", oracle=_wfa_oracle())
def curation_token_budget_allocation(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """{WFA_ROUNDS}-round water-filling of a {WFA_BUDGET_PCT}% token
    budget across sources (equal-share with capacity caps)."""
    cap = checkpoint(                          # the rounds reuse it
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("t"))
        .withColumn("w", F.expr(f"cast({_WFA_W_SQL} as bigint)")),
        eager=False)
    tot = cap.agg(F.expr(
        f"cast(div(sum(t) * {WFA_BUDGET_PCT}, 100) as bigint)")
        .alias("budget"))
    a = cap.withColumn("a", F.lit(0).cast("bigint"))
    for _ in range(WFA_ROUNDS):
        s = (a.crossJoin(F.broadcast(tot))
             .agg((F.first("budget") - F.sum("a")).cast("bigint")
                  .alias("rem"),
                  F.sum(F.when(F.col("a") < F.col("t"), F.col("w"))
                        .otherwise(0))
                  .cast("bigint").alias("w_open")))
        add = F.when((F.col("a") < F.col("t")) & (F.col("w_open") > 0),
                     F.expr("div(rem * w, w_open)")).otherwise(F.lit(0))
        a = (a.crossJoin(F.broadcast(s))
             .select("source", "t", "w",
                     F.least(F.col("t"), F.col("a") + add)
                     .cast("bigint").alias("a")))
    leftover = (a.crossJoin(F.broadcast(tot))
                .agg((F.first("budget") - F.sum("a")).cast("bigint")
                     .alias("leftover")))
    return (a.crossJoin(F.broadcast(leftover))
            .select("source", F.col("w").alias("target_w"),
                    F.col("t").alias("cap_tokens"),
                    F.col("a").alias("alloc_tokens"),
                    F.round(F.col("a").cast("double") / F.col("t"), 6)
                    .alias("fill_ratio"), "leftover")
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Per-source unigram KL divergence (r9) — the distribution-shift score
# a mixture designer reads next to the round-6 source-overlap matrix:
# KL(p_source || p_corpus) over token unigrams says how far each
# source's language drifts from the blend it is being mixed into
# (high-KL sources need their own temperature; near-zero KL sources
# are interchangeable filler). Smoothing-free because p is absolutely
# continuous wrt q by construction (every source token IS a corpus
# token).
#
# Determinism: each term p*log2(p/q) is rounded to 9 dp and summed as
# exact DECIMAL (the repo's order-free sum-of-rounded-terms rule —
# per-source vocabularies are thousands of terms, too many for the
# raw-double summation the per-doc entropy op gets away with).
# Scale: token grain is one shuffle (the same word-count shuffle any
# vocab op pays); source grain after that is tiny.
# ---------------------------------------------------------------------------

@query(
    "curation_source_kl_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, t.word
      FROM documents, UNNEST(string_split(text, ' ')) AS t(word)
    ),
    sc AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sc GROUP BY 1),
    corpus AS (
      SELECT word, CAST(SUM(c) AS BIGINT) AS cc FROM sc GROUP BY 1
    ),
    ctot AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc FROM corpus),
    terms AS (
      SELECT sc.source,
             CAST(round(
               (sc.c / CAST(st.ns AS DOUBLE))
               * log2((sc.c / CAST(st.ns AS DOUBLE))
                      / (co.cc / CAST(ct.nc AS DOUBLE))), 9)
               AS DECIMAL(18,9)) AS term
      FROM sc JOIN stot st USING (source)
              JOIN corpus co USING (word), ctot ct
    )
    SELECT source,
           round(CAST(SUM(term) AS DOUBLE), 6) AS kl_bits
    FROM terms GROUP BY 1 ORDER BY 1
    """,
)
def curation_source_kl_divergence(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """KL(source unigrams || corpus unigrams) in bits, per source
    (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source",
                      F.explode(F.split("text", " ")).alias("word"))
    sc = (tok.groupBy("source", "word")
          .agg(F.count("*").cast("bigint").alias("c")))
    stot = sc.groupBy("source").agg(F.sum("c").cast("bigint").alias("ns"))
    corpus = sc.groupBy("word").agg(F.sum("c").cast("bigint").alias("cc"))
    ctot = corpus.agg(F.sum("cc").cast("bigint").alias("nc"))
    p = F.col("c") / F.col("ns").cast("double")
    q = F.col("cc") / F.col("nc").cast("double")
    terms = (sc.join(stot, "source")
             .join(corpus, "word")
             .crossJoin(F.broadcast(ctot))
             .select("source",
                     F.round(p * F.log2(p / q), 9)
                     .cast("decimal(18,9)").alias("term")))
    return (terms.groupBy("source")
            .agg(F.round(F.sum("term").cast("double"), 6).alias("kl_bits"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Mixture entropy (r9) — the one-number diversity readout over the
# source mixture the KL op above profiles pairwise: Shannon entropy of
# the per-source TOKEN mass shares, its perplexity form 2^H
# ("effectively how many equal sources is this blend"), and the top
# source's share. The check a data-mixing run prints before and after
# re-weighting — a 20-source blend with 6.2 effective sources is
# dominated, whatever the nominal count says.
#
# Determinism: shares are exact integer token counts over the exact
# total; each -p*log2(p) term is rounded to 9 dp and decimal-summed
# (order-free); 2^H is one pow of the rounded sum. Scale: the same
# single token-count shuffle every vocab op pays, then a ~20-row
# constant frame.
# ---------------------------------------------------------------------------

@query(
    "curation_mixture_entropy",
    oracle="""
    WITH srctok AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS toks
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS n FROM srctok),
    terms AS (
      SELECT s.source, s.toks, t.n,
             CAST(round(-(s.toks / CAST(t.n AS DOUBLE))
                        * log2(s.toks / CAST(t.n AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS term
      FROM srctok s, tot t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           any_value(n) AS total_tokens,
           round(CAST(SUM(term) AS DOUBLE), 6) AS entropy_bits,
           round(power(2, CAST(SUM(term) AS DOUBLE)), 6)
             AS effective_sources,
           round(CAST(MAX(toks) AS DOUBLE) / any_value(n), 6)
             AS top_source_share
    FROM terms
    """,
)
def curation_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy / perplexity / dominance of the source token mixture
    (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    srctok = (docs.groupBy("source")
              .agg(F.sum(F.size(F.split("text", " ")))
                   .cast("bigint").alias("toks")))
    tot = srctok.agg(F.sum("toks").cast("bigint").alias("n"))
    p = F.col("toks") / F.col("n").cast("double")
    terms = (srctok.crossJoin(F.broadcast(tot))
             .select("source", "toks", "n",
                     F.round(-p * F.log2(p), 9).cast("decimal(18,9)")
                     .alias("term")))
    return terms.agg(
        F.count("*").cast("bigint").alias("n_sources"),
        F.first("n").alias("total_tokens"),
        F.round(F.sum("term").cast("double"), 6).alias("entropy_bits"),
        F.round(F.pow(F.lit(2.0), F.sum("term").cast("double")), 6)
        .alias("effective_sources"),
        F.round(F.max("toks").cast("double") / F.first("n"), 6)
        .alias("top_source_share"))


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence per source (r11) — the SYMMETRIC, bounded
# [0,1]-bit sibling of curation_source_kl_divergence (same unigram
# grids): JSD(p||q) = (KL(p||m) + KL(q||m)) / 2 with m = (p+q)/2,
# against the corpus distribution.  KL can explode on rare words; JSD
# is the score mixture tuners actually threshold.  EXACTNESS: counts
# exact; each p*log2(2p/(p+q)) term is deterministic per (source,
# word), 9-dp rounded to DECIMAL before the order-free sum (the KL
# discipline); absent-word p=0 terms vanish, q-side terms use the full
# corpus join (left join from corpus so q-only words are kept).
# ---------------------------------------------------------------------------

@query(
    "curation_source_js_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, t.word
      FROM documents, UNNEST(string_split(text, ' ')) AS t(word)
    ),
    sc AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sc GROUP BY 1),
    corpus AS (
      SELECT word, CAST(SUM(c) AS BIGINT) AS cc FROM sc GROUP BY 1
    ),
    ctot AS (SELECT CAST(SUM(cc) AS BIGINT) AS nc FROM corpus),
    grid AS (
      -- every (source, corpus-word) cell; p = 0 where the source
      -- lacks the word, q > 0 always
      SELECT st.source, co.word,
             COALESCE(sc.c, 0) / CAST(st.ns AS DOUBLE) AS p,
             co.cc / CAST(ct.nc AS DOUBLE) AS q
      FROM stot st CROSS JOIN corpus co
      LEFT JOIN sc ON sc.source = st.source AND sc.word = co.word,
      ctot ct
    ),
    terms AS (
      SELECT source,
             CAST(round(
               CASE WHEN p > 0
                    THEN 0.5 * p * log2(2 * p / (p + q)) ELSE 0 END
               + 0.5 * q * log2(2 * q / (p + q)), 9)
               AS DECIMAL(18,9)) AS term
      FROM grid
    )
    SELECT source, round(CAST(SUM(term) AS DOUBLE), 6) AS js_bits
    FROM terms GROUP BY 1 ORDER BY 1
    """,
)
def curation_source_js_divergence(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """JSD(source unigrams || corpus unigrams) in bits, per source
    (see block comment)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source",
                      F.explode(F.split("text", " ")).alias("word"))
    sc = (tok.groupBy("source", "word")
          .agg(F.count("*").cast("bigint").alias("c")))
    stot = sc.groupBy("source").agg(F.sum("c").cast("bigint").alias("ns"))
    corpus = sc.groupBy("word").agg(F.sum("c").cast("bigint").alias("cc"))
    ctot = corpus.agg(F.sum("cc").cast("bigint").alias("nc"))
    grid = (stot.crossJoin(F.broadcast(corpus))
            .join(sc, ["source", "word"], "left")
            .crossJoin(F.broadcast(ctot))
            .select("source",
                    (F.coalesce("c", F.lit(0)).cast("double")
                     / F.col("ns")).alias("p"),
                    (F.col("cc").cast("double") / F.col("nc")).alias("q")))
    term = (F.when(F.col("p") > 0,
                   F.lit(0.5) * F.col("p")
                   * F.log2(2 * F.col("p") / (F.col("p") + F.col("q"))))
            .otherwise(0.0)
            + F.lit(0.5) * F.col("q")
            * F.log2(2 * F.col("q") / (F.col("p") + F.col("q"))))
    return (grid.select("source",
                        F.round(term, 9).cast("decimal(18,9)")
                        .alias("term"))
            .groupBy("source")
            .agg(F.round(F.sum("term").cast("double"), 6).alias("js_bits"))
            .orderBy("source"))
