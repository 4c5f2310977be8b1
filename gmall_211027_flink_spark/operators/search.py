"""Retrieval & span-analysis operators over the documents table — BM25
keyword search, span-level exact-duplicate detection, and n-gram novelty
audit (training-data-pipeline operators layered on the reference's text
surface; the reference's closest op is the IK keyword tokenizer UDTF,
app/func/SplitFunction.java:12-28 + its ClickHouse keyword stats sink,
app/ads/... — here generalised to a ranked-retrieval + dedup-audit
family).

Scale shapes (100 TB):
- BM25 is the inverted-index pattern: the corpus is tokenized map-side,
  immediately filtered to the (tiny, broadcast) query-term set BEFORE
  any shuffle, so the only grouped data is O(matching postings), never
  O(corpus tokens). Document frequencies and corpus stats are
  broadcast-sized scalars.
- Span dedup is the Lee et al. ("Deduplicating Training Data Makes
  Language Models Better", ACL 2022) suffix-array output re-expressed
  as fixed-width token windows: constant-size md5 keys shuffle once,
  duplicated-window verdicts join back, and maximal spans come from the
  classic gaps-and-islands window trick (pos - row_number), which is a
  per-document sort — no cross-document state.
- Novelty is two two-phase aggregations (per-gram first-occurrence min,
  per-doc distinct counts) plus one keyed join — every stage has a
  map-side partial.

All math is exact integer counts with single double divisions rounded
at the 6-dp compare boundary; every top-k window rank carries an
explicit doc_id tie-break so the cut is a total order in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_211027_flink_spark.catalog import load_table
from gmall_211027_flink_spark.registry import query
from gmall_211027_flink_spark.session import checkpoint

# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson-Sparck Jones; the Okapi BM25 form
# with the Lucene +1 idf floor). Fixed two-term queries keep the
# per-(query, doc) score a sum of exactly two doubles — IEEE addition
# of two terms is commutative, so the score is order-insensitive
# without a decimal detour.
# ---------------------------------------------------------------------------

BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_TOP_K = 10
BM25_QUERIES: tuple[tuple[str, tuple[str, str]], ...] = (
    ("q_hash_join", ("hash", "join")),
    ("q_window_agg", ("window", "agg")),
    ("q_stream_filter", ("stream", "filter")),
)
_ALL_TERMS = tuple(t for _q, ts in BM25_QUERIES for t in ts)

# identical literal text in both engines -> identical doubles
_BM25_TF_NORM = (
    "({tf} * 2.2) / ({tf} + 1.2 * (0.25 + 0.75 * {dl} / {avgdl}))"
)
_BM25_IDF = "ln(({n} - {df} + 0.5) / ({df} + 0.5) + 1.0)"


def _bm25_oracle() -> str:
    qt_rows = ", ".join(
        f"('{q}', '{t}')" for q, ts in BM25_QUERIES for t in ts)
    in_list = ", ".join(f"'{t}'" for t in _ALL_TERMS)
    tfn = _BM25_TF_NORM.format(
        tf="t.tf", dl="d.dl",
        avgdl="(CAST(s.sum_dl AS DOUBLE) / s.n_docs)")
    idf = _BM25_IDF.format(n="s.n_docs", df="f.df")
    return f"""
    WITH qt(query_id, term) AS (VALUES {qt_rows}),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN ({in_list}) GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT q.query_id, t.doc_id,
             round(SUM({idf} * {tfn}), 6) AS score
      FROM tf t
      JOIN dfreq f USING (term)
      JOIN qt q USING (term)
      JOIN dl d USING (doc_id)
      CROSS JOIN stats s
      GROUP BY 1, 2
    )
    SELECT query_id, rnk, doc_id, score FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
      FROM scored)
    WHERE rnk <= {BM25_TOP_K}
    """


@query("text_bm25_search", oracle=_bm25_oracle())
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k over an inverted-index-shaped plan.

    The term filter sits on the exploded token stream BEFORE the tf
    groupBy, so the shuffle carries only postings for the query terms
    (O(queries x matching docs), not O(corpus)). dfreq / query map /
    corpus stats are all broadcast; the final rank windows over the
    small scored set.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    dl = docs.select("doc_id", F.size("w").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"),
                   F.sum("dl").alias("sum_dl"))
    qt = spark.createDataFrame(
        [(q, t) for q, ts in BM25_QUERIES for t in ts],
        "query_id string, term string")
    tf = (docs.select("doc_id", F.explode("w").alias("term"))
          .filter(F.col("term").isin(list(_ALL_TERMS)))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(qt), "term")
              .join(dl, "doc_id")
              .crossJoin(F.broadcast(stats)))
    tfn = _BM25_TF_NORM.format(
        tf="tf", dl="dl", avgdl="(CAST(sum_dl AS DOUBLE) / n_docs)")
    idf = _BM25_IDF.format(n="n_docs", df="df")
    per_q = (scored.groupBy("query_id", "doc_id")
             .agg(F.round(F.sum(F.expr(f"{idf} * {tfn}")), 6)
                  .alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id"))
    return (per_q.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= BM25_TOP_K)
            .select("query_id", "rnk", "doc_id", "score"))


# ---------------------------------------------------------------------------
# Span-level exact-duplicate detection: fixed-width (SPAN_W-token)
# windows with positions; a window is duplicated when its text occurs
# >= 2 times anywhere in the corpus; runs of consecutive duplicated
# window starts merge into maximal spans (gaps-and-islands).
# ---------------------------------------------------------------------------

SPAN_W = 8


def _span_windows_sql() -> str:
    """CTE fragment: (doc_id, pos, h, n_windows) for every SPAN_W-token
    window (1-based start positions; DuckDB list slices are inclusive)."""
    return f"""
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    docwins AS (
      SELECT doc_id, len(w) - {SPAN_W} + 1 AS n_windows, w
      FROM toks WHERE len(w) >= {SPAN_W}
    ),
    wins AS (
      SELECT doc_id, n_windows, i AS pos,
             md5(array_to_string(w[i:i + {SPAN_W} - 1], ' ')) AS h
      FROM docwins, UNNEST(generate_series(1, n_windows)) AS t(i)
    )"""


@query(
    "dedup_span_exact",
    oracle=f"""
    WITH {_span_windows_sql()},
    dup_h AS (
      SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2
    ),
    dup_pos AS (
      SELECT w.doc_id, w.n_windows, w.pos,
             w.pos - row_number() OVER (
               PARTITION BY w.doc_id ORDER BY w.pos) AS grp
      FROM wins w JOIN dup_h USING (h)
    ),
    islands AS (
      SELECT doc_id, n_windows, grp,
             COUNT(*) AS n_wins,
             MAX(pos) - MIN(pos) + {SPAN_W} AS span_tokens
      FROM dup_pos GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(SUM(n_wins) AS BIGINT) AS n_dup_windows,
           round(CAST(SUM(n_wins) AS DOUBLE) / n_windows, 6)
             AS dup_win_ratio,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
    FROM islands
    GROUP BY doc_id, n_windows
    """,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span report (docs with >= 1 duplicated
    SPAN_W-token window).

    Windows shuffle once on a constant-size md5 key; the duplicated-h
    verdict set joins back (keyed hash join — at 100 TB the dup set is
    the small side only after dedup has run, so no broadcast hint: AQE
    decides). Island merging is a per-document window sort; max parallel
    unit is one document's window list.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    wins = (docs.filter(F.size("w") >= SPAN_W)
            .select(
                "doc_id",
                (F.size("w") - SPAN_W + 1).alias("n_windows"),
                F.explode(F.expr(
                    f"transform(sequence(1, size(w) - {SPAN_W} + 1),"
                    f" i -> struct(i as pos,"
                    f"  md5(concat_ws(' ', slice(w, i, {SPAN_W}))) as h))"
                )).alias("p"))
            .select("doc_id", "n_windows", "p.pos", "p.h"))
    dup_h = (wins.groupBy("h").agg(F.count("*").alias("ct"))
             .filter(F.col("ct") >= 2).select("h"))
    dup_pos = (wins.join(dup_h, "h")
               .withColumn("grp", F.col("pos") - F.row_number().over(
                   Window.partitionBy("doc_id").orderBy("pos"))))
    islands = (dup_pos.groupBy("doc_id", "n_windows", "grp")
               .agg(F.count("*").alias("n_wins"),
                    (F.max("pos") - F.min("pos") + SPAN_W)
                    .alias("span_tokens")))
    return (islands.groupBy("doc_id", "n_windows")
            .agg(F.sum("n_wins").cast("bigint").alias("n_dup_windows"),
                 F.round(F.sum("n_wins").cast("double")
                         / F.col("n_windows"), 6).alias("dup_win_ratio"),
                 F.count("*").cast("bigint").alias("n_spans"),
                 F.max("span_tokens").cast("bigint")
                 .alias("max_span_tokens"))
            .select("doc_id", F.col("n_windows").cast("bigint")
                    .alias("n_windows"), "n_dup_windows",
                    "dup_win_ratio", "n_spans", "max_span_tokens"))


# ---------------------------------------------------------------------------
# Multiscale span dedup: the fixed-W window report above under-measures
# the STRUCTURE of long duplicated runs (Lee et al. report spans at a
# 50-token threshold; a 200-token duplicated run is one span, not 193
# overlapping W=8 islands). Here duplicated windows are found at a
# W in {8, 16, 32} pyramid, every duplicated window contributes its
# covered TOKEN interval [s, s+W-1], and the intervals merge per
# document into maximal spans (running-max interval merge) — the
# suffix-array maximal-match output shape, approximated by a window
# pyramid instead of a suffix array.
#
# Scale: the window generation is map-side (token array re-used per
# width); ONE shuffle groups (width, md5) constant-size keys; the
# duplicated-window verdict joins back keyed; the interval merge is a
# per-document sort over O(duplicated windows), never cross-document.
# At 100 TB each width's window count is ~corpus tokens, so the pyramid
# costs 3x the single-width shuffle — linear, probe-measured at 10x in
# bench.py's scale_probe.
# ---------------------------------------------------------------------------

SPAN_WIDTHS = (8, 16, 32)


def _span_multiscale_oracle() -> str:
    widths = ", ".join(str(w) for w in SPAN_WIDTHS)
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sized AS (SELECT doc_id, w, len(w) AS n_tokens FROM toks),
    wins AS (
      SELECT doc_id, n_tokens, wd, i AS s, i + wd - 1 AS e,
             md5(array_to_string(w[i:i + wd - 1], ' ')) AS h
      FROM sized,
           UNNEST([{widths}]) AS ws(wd),
           UNNEST(generate_series(1, n_tokens - wd + 1)) AS t(i)
      WHERE n_tokens >= wd
    ),
    dup_h AS (
      SELECT wd, h FROM wins GROUP BY wd, h HAVING COUNT(*) >= 2
    ),
    ivals AS (
      SELECT w.doc_id, w.n_tokens, w.s, w.e
      FROM wins w JOIN dup_h USING (wd, h)
    ),
    marked AS (
      SELECT doc_id, n_tokens, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                 PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 -1) + 1
               THEN 1 ELSE 0 END AS new_isl
      FROM ivals
    ),
    islands AS (
      SELECT doc_id, n_tokens, s, e,
             SUM(new_isl) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING) AS isl
      FROM marked
    ),
    merged AS (
      SELECT doc_id, n_tokens, isl,
             MIN(s) AS s, MAX(e) AS e
      FROM islands GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
           round(CAST(SUM(e - s + 1) AS DOUBLE) / n_tokens, 6)
             AS dup_ratio,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(e - s + 1) AS BIGINT) AS max_span_tokens
    FROM merged
    GROUP BY doc_id, n_tokens
    """


@query("dedup_span_multiscale", oracle=_span_multiscale_oracle())
def dedup_span_multiscale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MERGED duplicated-span report across the
    W in {8, 16, 32} window pyramid (docs with >= 1 duplicated window at
    any width). ``dup_tokens`` is the union coverage of all duplicated
    windows' token intervals; ``max_span_tokens`` the longest maximal
    span — the Lee-et-al long-run structure the fixed-W report flattens.
    """
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", F.split("text", " ").alias("w"))
            .select("doc_id", "w", F.size("w").alias("n_tokens")))
    widths = F.array(*[F.lit(w) for w in SPAN_WIDTHS])
    wins = (docs.filter(F.col("n_tokens") >= min(SPAN_WIDTHS))
            .select("doc_id", "n_tokens", "w",
                    F.explode(widths).alias("wd"))
            .filter(F.col("n_tokens") >= F.col("wd"))
            .select("doc_id", "n_tokens", "wd",
                    F.explode(F.expr(
                        "transform(sequence(1, n_tokens - wd + 1),"
                        " i -> struct(i as s, i + wd - 1 as e,"
                        "  md5(concat_ws(' ', slice(w, i, wd))) as h))"
                    )).alias("p"))
            .select("doc_id", "n_tokens", "wd", "p.s", "p.e", "p.h"))
    dup_h = (wins.groupBy("wd", "h").agg(F.count("*").alias("ct"))
             .filter(F.col("ct") >= 2).select("wd", "h"))
    ivals = wins.join(dup_h, ["wd", "h"]).select(
        "doc_id", "n_tokens", "s", "e")
    w_prev = (Window.partitionBy("doc_id").orderBy("s", "e")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("s", "e")
             .rowsBetween(Window.unboundedPreceding, 0))
    marked = ivals.withColumn(
        "new_isl",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev),
                                       F.lit(-1)) + 1, 1).otherwise(0))
    islands = marked.withColumn("isl", F.sum("new_isl").over(w_run))
    merged = (islands.groupBy("doc_id", "n_tokens", "isl")
              .agg(F.min("s").alias("s"), F.max("e").alias("e")))
    return (merged.groupBy("doc_id", "n_tokens")
            .agg(F.sum(F.col("e") - F.col("s") + 1).cast("bigint")
                 .alias("dup_tokens"),
                 F.round(F.sum(F.col("e") - F.col("s") + 1).cast("double")
                         / F.col("n_tokens"), 6).alias("dup_ratio"),
                 F.count("*").cast("bigint").alias("n_spans"),
                 F.max(F.col("e") - F.col("s") + 1).cast("bigint")
                 .alias("max_span_tokens"))
            .select("doc_id", F.col("n_tokens").cast("bigint")
                    .alias("n_tokens"), "dup_tokens", "dup_ratio",
                    "n_spans", "max_span_tokens"))


# ---------------------------------------------------------------------------
# N-gram novelty: fraction of a document's distinct NOV_N-grams whose
# FIRST corpus occurrence (min doc_id == crawl order) is this document
# — the marginal-contribution audit a curation pipeline uses to rank
# sources by how much genuinely new text they add.
# ---------------------------------------------------------------------------

NOV_N = 5


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(w[i:i + {NOV_N} - 1], ' ')) AS g
      FROM toks, UNNEST(generate_series(1, len(w) - {NOV_N} + 1)) AS t(i)
      WHERE len(w) >= {NOV_N}
    ),
    first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY 1)
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0
                          END) AS DOUBLE) / COUNT(*), 6) AS novelty_ratio
    FROM grams d JOIN first_seen f USING (g)
    GROUP BY d.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novel-gram ratio (docs with >= NOV_N tokens).

    Two two-phase aggregations (distinct grams per doc is map-side
    dedup'd before the shuffle via the DISTINCT; first-occurrence MIN
    has a map-side partial) and one keyed join on the constant-size
    md5 gram key. No stage carries more than O(distinct grams).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    grams = (docs.filter(F.size("w") >= NOV_N)
             .select("doc_id", F.explode(F.expr(
                 f"transform(sequence(1, size(w) - {NOV_N} + 1),"
                 f" i -> md5(concat_ws(' ', slice(w, i, {NOV_N}))))"
             )).alias("g"))
             .distinct())
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (grams.join(first_seen, "g")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                       .otherwise(0)).cast("bigint").alias("n_novel"),
                 F.round(
                     F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                           .otherwise(0)).cast("double") / F.count("*"),
                     6).alias("novelty_ratio")))


def _global_topr(freq: DataFrame, r: int) -> DataFrame:
    """Exact global top-R rank over (c DESC, w) with a two-phase
    pre-prune: Spark's rank-limit pushdown (WindowGroupLimit) never
    fires on EMPTY partition specs, so a bare global row_number sorts
    the whole frequency table in ONE partition — the bottleneck at
    web-scale vocab. Phase 1 keeps each hash-bucket's local top-R
    (pruning only rows that cannot be in the global top-R — exact for
    any bucketing); phase 2 ranks the <= R x buckets survivors
    globally. Output column: rnk (the global rank).
    """
    bucket = (F.conv(F.substring(F.md5("w"), 1, 8), 16, 10)
              .cast("bigint") % 64)
    local = (freq.withColumn("b", bucket)
             .withColumn("lrk", F.row_number().over(
                 Window.partitionBy("b").orderBy(F.desc("c"), "w")))
             .filter(F.col("lrk") <= r).drop("b", "lrk"))
    return local.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("c"), "w")))


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit: OLS slope of ln(freq) on ln(rank) over the
# top ZIPF_R vocabulary — the tokenizer/vocab health check (natural
# text fits slope ~ -1; a flat slope flags synthetic or templated
# corpora). Determinism: ln values are rounded at the 6-dp boundary
# FIRST and then summed as DECIMAL(18,6) (exact, order-insensitive),
# so the OLS moments are bit-stable; only the final slope/intercept
# arithmetic runs in double, with identical expression text in both
# engines. Scale: one two-phase word count, one top-R rank over the
# (tiny, skew-compressed) frequency table, then constant work.
# ---------------------------------------------------------------------------

ZIPF_R = 100


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH freq AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY 1
    ),
    topr AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
      FROM freq
      ORDER BY c DESC, w LIMIT {ZIPF_R}
    ),
    pts AS (
      SELECT CAST(round(ln(CAST(rnk AS DOUBLE)), 6) AS DECIMAL(18,6))
               AS x,
             CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
      FROM topr
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
      round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
        AS zipf_slope,
      round((CAST(sy AS DOUBLE)
             - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
        AS intercept
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (docs.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w").agg(F.count("*").alias("c")))
    topr = (_global_topr(freq, ZIPF_R)
            .filter(F.col("rnk") <= ZIPF_R))
    pts = topr.select(
        F.round(F.log(F.col("rnk").cast("double")), 6)
         .cast("decimal(18,6)").alias("x"),
        F.round(F.log(F.col("c").cast("double")), 6)
         .cast("decimal(18,6)").alias("y"))
    m = pts.agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
                F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("x") * F.col("y")).alias("sxy"))
    n_d = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (n_d * sxy - sx * sy) / (n_d * sxx - sx * sx)
    return m.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - slope * sx) / n_d, 6).alias("intercept"))


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: share of all token OCCURRENCES covered by
# the top-K vocabulary, for K in COVERAGE_KS — the measurement that
# sizes a tokenizer vocab (pick K where the curve flattens; everything
# past it becomes <unk>/byte-fallback). One two-phase word count, one
# rank over the Zipf-compressed frequency table, a cumulative window
# over <= max(K) rows. Exact integer ratios rounded at the 6-dp
# boundary; rank ties break on the token string.
# ---------------------------------------------------------------------------

COVERAGE_KS = (10, 100, 1000)


@query(
    "vocab_coverage_curve",
    oracle=f"""
    WITH freq AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY 1
    ),
    tot AS (SELECT SUM(c) AS t, COUNT(*) AS vocab FROM freq),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
      FROM freq
    ),
    cum AS (
      SELECT rnk, SUM(c) OVER (ORDER BY rnk) AS cum_c
      FROM ranked WHERE rnk <= {max(COVERAGE_KS)}
    )
    SELECT k, CAST(vocab AS BIGINT) AS vocab_size,
           CAST(covered AS BIGINT) AS covered_occurrences,
           CAST(t AS BIGINT) AS total_occurrences,
           round(CAST(covered AS DOUBLE) / t, 6) AS coverage
    FROM (
      {" UNION ALL ".join(
        f"SELECT {k} AS k,"
        f" coalesce((SELECT MAX(cum_c) FROM cum WHERE rnk <= {k}), 0)"
        f" AS covered"
        for k in COVERAGE_KS)}
    ) CROSS JOIN tot
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (docs.select(F.explode(F.split("text", " ")).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("w").agg(F.count("*").alias("c")))
    tot = freq.agg(F.sum("c").alias("t"), F.count("*").alias("vocab"))
    ranked = (_global_topr(freq, max(COVERAGE_KS))
              .filter(F.col("rnk") <= max(COVERAGE_KS)))
    cum = ranked.select(
        "rnk", F.sum("c").over(
            Window.orderBy("rnk")
            .rowsBetween(Window.unboundedPreceding, 0)).alias("cum_c"))
    out = None
    for k in COVERAGE_KS:
        pt = (cum.filter(F.col("rnk") <= k)
              .agg(F.coalesce(F.max("cum_c"), F.lit(0)).alias("covered"))
              .select(F.lit(k).cast("bigint").alias("k"), "covered"))
        out = pt if out is None else out.unionAll(pt)
    return (out.crossJoin(F.broadcast(tot))
            .select("k", F.col("vocab").cast("bigint").alias("vocab_size"),
                    F.col("covered").cast("bigint")
                    .alias("covered_occurrences"),
                    F.col("t").cast("bigint").alias("total_occurrences"),
                    F.round(F.col("covered").cast("double")
                            / F.col("t"), 6).alias("coverage")))


# ---------------------------------------------------------------------------
# Hybrid retrieval with Reciprocal Rank Fusion (Cormack, Clarke &
# Buettcher, SIGIR 2009): fuse a LEXICAL ranking (BM25 over tokens)
# and a SEMANTIC ranking (cosine over the embedding column) of the
# same corpus with score(d) = sum over systems of 1/(RRF_K + rank_d).
# This is the retrieval shape RAG/data-curation stacks actually run —
# neither system alone survives vocabulary mismatch (lexical) or
# keyword-exact needs (semantic). Reference parity: generalises the
# keyword-search surface (app/func/SplitFunction.java) the same way
# text_bm25_search does, adding the embedding leg.
#
# Corpus: documents that HAVE an embedding row (doc_id = vec_id) — both
# systems must rank the same candidate set or ranks aren't comparable.
# Query q_i pairs BM25_QUERIES[i]'s terms with vec_id = i's vector.
#
# Scale shape: the lexical leg is the inverted-index plan above
# (postings filtered to query terms BEFORE the shuffle); the semantic
# leg broadcasts Q query vectors against the corpus (one map stage +
# per-query top-RRF_DEPTH TakeOrdered); fusion is a per-query
# full-outer join of two <= RRF_DEPTH-row lists — constant-size.
# Determinism: each per-system rank rounds its score to 6 dp with a
# doc_id tie-break; the fused score is a sum of exactly two doubles
# (commutative in IEEE), rounded at the 6-dp boundary.
# ---------------------------------------------------------------------------

RRF_K = 60          # standard RRF damping constant
RRF_DEPTH = 20      # per-system list depth fed into fusion
HYBRID_TOP_K = 10


def _hybrid_rrf_oracle() -> str:
    qt_rows = ", ".join(
        f"({i}, '{t}')" for i, (_q, ts) in enumerate(BM25_QUERIES)
        for t in ts)
    in_list = ", ".join(f"'{t}'" for t in _ALL_TERMS)
    tfn = _BM25_TF_NORM.format(
        tf="t.tf", dl="d.dl",
        avgdl="(CAST(s.sum_dl AS DOUBLE) / s.n_docs)")
    idf = _BM25_IDF.format(n="s.n_docs", df="f.df")
    return f"""
    WITH qt(query_id, term) AS (VALUES {qt_rows}),
    corpus AS (
      SELECT d.doc_id, d.text, e.embedding::DOUBLE[] AS emb,
             sqrt(list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[])) AS norm
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM corpus
    ),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM corpus)
      WHERE term IN ({in_list}) GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    lex AS (
      SELECT query_id, doc_id, lex_rank FROM (
        SELECT q.query_id, t.doc_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(SUM({idf} * {tfn}), 6) DESC, t.doc_id
               ) AS lex_rank
        FROM tf t
        JOIN dfreq f USING (term)
        JOIN qt q USING (term)
        JOIN dl d USING (doc_id)
        CROSS JOIN stats s
        GROUP BY 1, 2)
      WHERE lex_rank <= {RRF_DEPTH}
    ),
    qv AS (
      SELECT q.query_id, c.emb, c.norm
      FROM (SELECT DISTINCT query_id FROM qt) q
      JOIN corpus c ON c.doc_id = q.query_id
    ),
    sem AS (
      SELECT query_id, doc_id, sem_rank FROM (
        SELECT qv.query_id, c.doc_id,
               row_number() OVER (
                 PARTITION BY qv.query_id
                 ORDER BY round(list_dot_product(qv.emb, c.emb)
                                / (qv.norm * c.norm), 6) DESC, c.doc_id
               ) AS sem_rank
        FROM qv, corpus c)
      WHERE sem_rank <= {RRF_DEPTH}
    ),
    fused AS (
      SELECT COALESCE(l.query_id, m.query_id) AS query_id,
             COALESCE(l.doc_id, m.doc_id) AS doc_id,
             l.lex_rank, m.sem_rank,
             round(COALESCE(1.0 / ({RRF_K} + l.lex_rank), 0)
                   + COALESCE(1.0 / ({RRF_K} + m.sem_rank), 0), 6)
               AS rrf_score
      FROM lex l FULL OUTER JOIN sem m
        ON l.query_id = m.query_id AND l.doc_id = m.doc_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(rnk AS BIGINT) AS rnk,
           doc_id,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank, rrf_score
    FROM (SELECT *, row_number() OVER (
            PARTITION BY query_id
            ORDER BY rrf_score DESC, doc_id) AS rnk
          FROM fused)
    WHERE rnk <= {HYBRID_TOP_K}
    """


@query("search_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF fusion of BM25 and cosine rankings over the embedded corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = (load_table(spark, sf_dir, "embeddings")
           .select(F.col("vec_id").alias("doc_id"),
                   F.expr("transform(embedding, x -> cast(x as double))")
                    .alias("emb")))
    emb = emb.withColumn("norm", F.expr(
        "sqrt(aggregate(emb, cast(0 as double), (acc, x) -> acc + x * x))"))
    corpus = checkpoint(                       # reused by both legs + qv
        docs.join(emb, "doc_id").withColumn("w", F.split("text", " ")),
        eager=False)

    # ---- lexical leg: BM25 over the shared corpus -----------------------
    dl = corpus.select("doc_id", F.size("w").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    qt = spark.createDataFrame(
        [(i, t) for i, (_q, ts) in enumerate(BM25_QUERIES) for t in ts],
        "query_id long, term string")
    tf = (corpus.select("doc_id", F.explode("w").alias("term"))
          .filter(F.col("term").isin(list(_ALL_TERMS)))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    tfn = _BM25_TF_NORM.format(
        tf="tf", dl="dl", avgdl="(CAST(sum_dl AS DOUBLE) / n_docs)")
    idf = _BM25_IDF.format(n="n_docs", df="df")
    lex_scored = (tf.join(F.broadcast(dfreq), "term")
                  .join(F.broadcast(qt), "term")
                  .join(dl, "doc_id")
                  .crossJoin(F.broadcast(stats))
                  .groupBy("query_id", "doc_id")
                  .agg(F.round(F.sum(F.expr(f"{idf} * {tfn}")), 6)
                       .alias("score")))
    wl = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id"))
    lex = (lex_scored.withColumn("lex_rank", F.row_number().over(wl))
           .filter(F.col("lex_rank") <= RRF_DEPTH)
           .select("query_id", "doc_id", "lex_rank"))

    # ---- semantic leg: cosine of each query doc's vector ----------------
    qv = (corpus.join(
              qt.select("query_id").distinct(),
              corpus.doc_id == F.col("query_id"))
          .select("query_id", F.col("emb").alias("qemb"),
                  F.col("norm").alias("qnorm")))
    dot = F.expr("aggregate(zip_with(qemb, emb, (x, y) -> x * y),"
                 " cast(0 as double), (acc, x) -> acc + x)")
    sem_scored = (corpus.crossJoin(F.broadcast(qv))
                  .select("query_id", "doc_id",
                          F.round(dot / (F.col("qnorm") * F.col("norm")), 6)
                           .alias("cosine")))
    ws = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("doc_id"))
    sem = (sem_scored.withColumn("sem_rank", F.row_number().over(ws))
           .filter(F.col("sem_rank") <= RRF_DEPTH)
           .select("query_id", "doc_id", "sem_rank"))

    # ---- fusion ----------------------------------------------------------
    fused = (lex.join(sem, ["query_id", "doc_id"], "full_outer")
             .withColumn("rrf_score", F.round(
                 F.coalesce(1.0 / (F.lit(RRF_K) + F.col("lex_rank")),
                            F.lit(0.0))
                 + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("sem_rank")),
                              F.lit(0.0)), 6)))
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.col("doc_id"))
    return (fused.withColumn("rnk", F.row_number().over(wf))
            .filter(F.col("rnk") <= HYBRID_TOP_K)
            .select(F.col("query_id").cast("bigint").alias("query_id"),
                    F.col("rnk").cast("bigint").alias("rnk"), "doc_id",
                    F.col("lex_rank").cast("bigint").alias("lex_rank"),
                    F.col("sem_rank").cast("bigint").alias("sem_rank"),
                    "rrf_score"))
