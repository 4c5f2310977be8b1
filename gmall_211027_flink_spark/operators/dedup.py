"""Document deduplication family — exact, n-gram Jaccard, MinHash+LSH,
SimHash (training-data-pipeline operators; beyond the reference surface,
which the build brief adds as first-class).

Scale design (the point at 100 TB):

- **exact**: hash-groupBy on a content digest — one shuffle on md5(text),
  map-side partial agg. Never groupBy the raw text: the digest is 32
  bytes, the text can be megabytes.
- **n-gram Jaccard**: shingle-explode → self-join *on the shingle* →
  pair-count. The join key is a shingle, so co-occurring docs meet
  without a cross product; hot shingles (stopword runs) are the skew
  risk — AQE skew-join handles it, and a doc-frequency cap can drop
  degenerate shingles.
- **MinHash+LSH**: the scale path — signature size is constant (16
  hashes) per doc regardless of length, and candidate generation joins
  on (band, band-key) buckets, never all-pairs. Verification (exact
  Jaccard) runs only on candidates.
- **SimHash**: constant 60-bit sketch; pigeonhole banding (4×15-bit
  bands; hamming<=3 ⇒ at least one band equal) keeps candidate
  generation an equi-join. Band width is the scale knob: 15-bit bands
  give 32768 bucket values, so expected bucket occupancy stays ~n/32768
  per band — the r2 scale probe showed 8-bit bands (256 values) going
  quadratic at 50k docs (16.3 s vs 1.9 s for 10x data); 15-bit bands
  restore near-linear scaling.

Portability: all content hashing is md5-derived (identical hex in Spark
and DuckDB), integer math only — so every operator here has an exact
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gmall_211027_flink_spark.catalog import load_table
from gmall_211027_flink_spark.registry import query
from gmall_211027_flink_spark.session import checkpoint

N_MINHASH = 16
N_BANDS = 4          # 4 rows per band
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 60    # 15 hex chars of md5 — fits signed 64-bit in both engines
SIMHASH_BANDS = 4    # 15 bits per band -> 32768 bucket values per band
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1
HAMMING_MAX = 3


def _threshold_fraction_floor(x: float, max_den: int = 1000):
    """Largest fraction tn/td <= x with td <= max_den.

    The exact-integer prefilters below (prefix length, size bound,
    positional bound) use tn/td as a stand-in for the float threshold;
    they are only sound if tn/td is a LOWER bound of x, else the
    prefilter is stricter than the final float Jaccard filter and
    silently drops true pairs.  ``Fraction(x).limit_denominator`` picks
    the CLOSEST rational, which can land above x (fine for 0.8 -> 4/5,
    wrong for e.g. 0.7 -> 7/10 > double(0.7)) — so take the floor
    approximation explicitly.
    """
    from fractions import Fraction

    fx = Fraction(x)  # exact rational of the double
    best = Fraction(0)
    for d in range(1, max_den + 1):
        f = Fraction((fx.numerator * d) // fx.denominator, d)
        if f > best:
            best = f
    assert best <= fx
    return best.numerator, best.denominator


_JT_NUM, _JT_DEN = _threshold_fraction_floor(JACCARD_THRESHOLD)


# Shared word-3-gram shingle-SET expression (input column `w` = split
# words). The if() guard matters: Spark's sequence(1, 0) infers step -1
# and yields [1, 0] -> element_at out-of-bounds on sub-3-word docs
# (DuckDB's generate_series(1, 0) is empty, so oracles never see it).
# ONE definition for batch (_shingle_arrays) and streaming
# (bands_for_docs) so the two paths cannot silently diverge.
_SHINGLE_ARR_SQL = (
    "array_distinct(transform("
    " if(size(w) >= 3, sequence(1, size(w)-2), cast(array() as array<int>)),"
    " i -> concat_ws(' ', element_at(w,i), element_at(w,i+1), element_at(w,i+2))))"
)


def _shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh_arr): the distinct word-3-gram shingle SET per doc, as
    an array column — computed in one map stage and cached.

    This is the shared representation for the whole dedup family: Jaccard
    explodes it for the shingle self-join, MinHash folds it into constant
    signatures without any shuffle (array_min over a lambda), sizes come
    from ``size(sh_arr)`` for free. Identical plans share Spark's cache
    manager entry, so the corpus is shingled once per session.

    The source is repartitioned by doc_id BEFORE shingling: a doc corpus
    often arrives as few large files; spreading docs first parallelizes
    the row-amplifying work.
    """
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # Split ONCE into a named column before the shingle lambda: referencing
    # split(text) inside the lambda re-tokenizes per element (O(words^2) —
    # measured 6.5x slower at sf0.1).
    # if() guard, not greatest(..., 0): Spark's sequence(1, 0) infers
    # step -1 and yields [1, 0] -> element_at out-of-bounds on sub-3-word
    # docs (found by the prefix-filter property test; DuckDB's
    # generate_series(1, 0) is empty, so the oracles never saw it)
    wdocs = docs.select("doc_id", F.split("text", " ").alias("w")).select(
        "doc_id", F.expr(_SHINGLE_ARR_SQL).alias("sh_arr")).cache()
    wdocs.count()  # materialize eagerly: parallel downstream stages would
    # otherwise race to recompute the cached subtree
    return wdocs


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded (doc_id, shingle) rows, derived from the cached arrays."""
    return (_shingle_arrays(spark, sf_dir)
            .select("doc_id", F.explode("sh_arr").alias("shingle")))


_SHINGLES_SQL = """
  toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
  sh AS (
    SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
    FROM toks, UNNEST(generate_series(1, greatest(len(w)-2, 0))) AS t(i)
  )
"""


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy (the baseline every pipeline runs first).
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           COUNT(*) AS copy_ct,
           MIN(doc_id) AS canonical_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("copy_ct"), F.min("doc_id").alias("canonical_doc_id"))
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup: shingle self-join (exact, quadratic only in
# truly-overlapping docs).
# ---------------------------------------------------------------------------

def _prefix_filtered_pairs(spark: SparkSession, sf_dir: str,
                           df_cap: int | None,
                           threshold: float | None = None) -> DataFrame:
    """(doc_a, doc_b, i, na, nb) exact shared-shingle counts for every
    pair that can reach JACCARD_THRESHOLD, via AllPairs/PPJoin prefix
    filtering (Bayardo et al. WWW'07) — see dedup_ngram_jaccard_capped's
    docstring for the full derivation. ``df_cap=None`` is the uncapped
    variant: shingles with doc frequency 1 still drop (they cannot
    contribute to any intersection — pure optimization, identical
    output), hot shingles stay, but rarest-first prefix ordering puts
    them LAST so they almost never enter a prefix.

    Grouping on xxhash64(shingle) not the string is an ACCEPTED
    APPROXIMATION vs the raw-shingle oracles: a 64-bit collision merges
    two shingles' postings. Expected colliding pairs = n(n-1)/2^65 —
    ~0.03 at 10^9 distinct shingles, ~300 at 10^11; each inflates a
    handful of intersection counts by at most 1, far below the
    threshold's resolution. For exact-recall audits, key on the shingle
    string (the oracle's form) at ~4x the shuffle bytes.

    Construction-time side effect (ADVICE r15): the docsets checkpoint
    below is EAGER, so merely building this query runs Spark jobs and
    pins checkpoint blocks — deliberate (the bench times construction +
    execution together; a lazy checkpoint would just move the same work
    inside the first action), but explain-only flows pay it too.
    """
    # floor rational of the threshold (module top), or of an explicit
    # sweep threshold — the shingle subtree is threshold-free and
    # cached; the docset subtree is checkpointed once per call (below)
    tn, td = ((_JT_NUM, _JT_DEN) if threshold is None
              else _threshold_fraction_floor(threshold))
    wdocs = _shingle_arrays(spark, sf_dir)
    sh = wdocs.select(
        "doc_id", F.size("sh_arr").alias("n"),
        F.explode(F.expr("transform(sh_arr, s -> xxhash64(s))")).alias("k"))
    df_pred = F.col("df") > 1
    if df_cap is not None:
        df_pred = df_pred & (F.col("df") <= df_cap)
    keptdf = (sh.groupBy("k").agg(F.count("*").alias("df"))
              .filter(df_pred).select("k", "df"))
    # per-doc shingle set, rarest-first (struct sort on (df, k)).
    docsets = (sh.join(keptdf, "k")
               .groupBy("doc_id", "n")
               .agg(F.sort_array(F.collect_list(F.struct("df", "k")))
                     .alias("skk"))
               .select("doc_id", "n",
                       F.expr("transform(skk, x -> x.k)").alias("arr"),
                       F.size("skk").alias("nk")))
    # Materialize docsets ONCE (r15, guide §2.4/§5). This subtree feeds
    # FOUR consumers (the a/b prefix sides and both verification array
    # sides), and the executed plan shows Spark rebuilding it for each —
    # the hoped-for ReusedExchange never fires (the reuse rule
    # canonicalizes the whole exchange subtree; the cached-scan +
    # broadcast-join operators under it defeat the match), so one query
    # paid the explode + df groupBy + collect_list aggregate 4x
    # (measured: 28.3 cpu-s at sf0.1, 129 cpu-s at the 10x probe).
    # localCheckpoint beats .cache() here by 5x on build cost: caching
    # an array<bigint> column goes through the columnar InMemoryRelation
    # encoder (measured 56 cpu-s to build at sf0.1!) while checkpoint
    # blocks store the rows as-is. Measured min-of-3, identical output
    # (256 pairs at 1x / 248,600 at 10x, the documented r3 numbers):
    #   sf0.1: wall 3.42 -> 2.20 s, cpu 28.3 -> 11.5 s
    #   10x:   wall 8.17 -> 5.32 s, cpu 129  -> 54.2 s
    # Trade-off at 100 TB: checkpoint blocks are pinned to executors
    # (lineage is CUT — an executor loss fails the query instead of
    # recomputing), the standard localCheckpoint caveat; for a 4-read
    # intermediate that costs ~25% of the query's cpu per rebuild, that
    # trade is right, and a reliable checkpoint dir restores fault
    # tolerance where executor churn is real (r16: session.checkpoint
    # switches to reliable checkpoint() when SPARK_GRAFT_CHECKPOINT_DIR
    # is set — the cluster profile VERDICT r15 asked for).
    docsets = checkpoint(docsets)
    # prefix length nk - ceil(t*nk) + 1, exact integer ceil of tn*nk/td
    plen = (F.col("nk")
            - F.expr(f"({tn} * nk + {td} - 1) div {td}") + 1).cast("int")
    pref = docsets.select(
        "doc_id", "n", "nk",
        F.posexplode(F.slice("arr", F.lit(1), plen)).alias("pos", "k"))
    a = pref.alias("a")
    b = pref.alias("b")
    # POSITIONAL filter (PPJoin): all shared elements of a qualifying
    # pair sit at/after its first shared element's position in each
    # rarest-first array, so i <= min(nk - pos) for that match row — and
    # that row provably lies in both prefixes (else i < t*nk, refuting
    # J >= t). Filtering match ROWS is safe because a pair survives if
    # ANY of its rows passes, and the first-shared row always does.
    # Measured at the 10x probe: candidates 4.3M -> 1.25M, verification
    # 64 s -> 2.8 s, identical output.
    ub = F.lit(1) + F.least(F.col("a.nk") - F.col("a.pos") - 1,
                            F.col("b.nk") - F.col("b.pos") - 1)
    cand = (
        a.join(b, (F.col("a.k") == F.col("b.k"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(F.least(F.col("a.nk"), F.col("b.nk")) * (td + tn)
                >= tn * (F.col("a.n") + F.col("b.n")))
        .filter(ub * (td + tn) >= tn * (F.col("a.n") + F.col("b.n")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n").alias("na"), F.col("b.n").alias("nb"))
        .distinct())
    da = docsets.select(F.col("doc_id").alias("doc_a"),
                        F.col("arr").alias("arr_a"))
    db = docsets.select(F.col("doc_id").alias("doc_b"),
                        F.col("arr").alias("arr_b"))
    return (
        cand.join(da, "doc_a").join(db, "doc_b")
        .withColumn("i", F.size(F.array_intersect("arr_a", "arr_b")))
        .select("doc_a", "doc_b", "i", "na", "nb")
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall n-gram Jaccard pairs (no DF cap) via the shared
    prefix-filtered pair generator (r3; replaced the r1 posting-list
    expansion — same output, candidates pruned at generation instead of
    every co-occurring pair being counted)."""
    inter = _prefix_filtered_pairs(spark, sf_dir, df_cap=None)
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")).cast("double"))
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH: constant-size signatures, banded candidate buckets.
# Each shingle is digested ONCE (md5 → first 8 hex chars → 32-bit int);
# the 16 minhash functions are affine transforms over that one digest:
# h_s(x) = (A_s * x + B_s) mod P, with P prime > 2^32 and A_s odd. One
# expensive hash pass instead of 16 (md5 dominates the signature stage —
# measured 1.9x faster end-to-end at sf0.1); the integer math is exact
# and identical in Spark and DuckDB, so the oracle mirrors it verbatim.
# A_s*x stays < 2^63 (x < 2^32, A_s < 2^31): no overflow in either engine.
# ---------------------------------------------------------------------------

MINHASH_P = 4294967311          # smallest prime > 2^32
MINHASH_A = [1000003 + 2 * s for s in range(N_MINHASH)]   # odd multipliers
MINHASH_B = [12345 + 7 * s for s in range(N_MINHASH)]


def _minhash_band_pairs_sql() -> str:
    rows = N_MINHASH // N_BANDS
    a_vals = ",".join(str(a) for a in MINHASH_A)
    b_vals = ",".join(str(b) for b in MINHASH_B)
    return f"""
    WITH {_SHINGLES_SQL},
    shi AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
      FROM sh
    ),
    mh AS (
      SELECT doc_id, s.seed,
             MIN(([{a_vals}][s.seed + 1] * x + [{b_vals}][s.seed + 1])
                 % {MINHASH_P}) AS h
      FROM shi, (SELECT UNNEST(generate_series(0, {N_MINHASH - 1})) AS seed) s
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, seed // {rows} AS band_id,
             string_agg(CAST(h AS VARCHAR), '|' ORDER BY seed) AS band_key
      FROM mh GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
    """


def minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band_id, band_key) LSH bands for every document.

    Signatures computed ENTIRELY map-side from the per-doc shingle array:
    one md5 pass folds each shingle to a 32-bit int, then each of the 16
    minhashes is an array_min over a cheap affine transform of that int
    array — zero shuffle until banding. At 100 TB this stage is
    scan-bound; nothing wide happens until each doc is reduced to 16
    8-byte values (constant size regardless of doc length). Shared by
    dedup_minhash_lsh (band self-join) and decontaminate_fuzzy_minhash
    (band join against the eval suite).
    """
    return _bands_from_shingle_arrays(_shingle_arrays(spark, sf_dir))


def bands_for_docs(docs: DataFrame) -> DataFrame:
    """LSH bands for an arbitrary (doc_id, text) frame — the
    per-micro-batch entry point for streaming ingest dedup (no cache:
    each batch is consumed once). Shares the shingle expression with
    the batch path so stream and batch bands can never diverge."""
    return _bands_from_shingle_arrays(
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .select("doc_id", F.expr(_SHINGLE_ARR_SQL).alias("sh_arr")))


def _bands_from_shingle_arrays(wdocs: DataFrame) -> DataFrame:
    rows = N_MINHASH // N_BANDS
    # Docs with EMPTY shingle sets (shorter than the n-gram width) have
    # no signature: array_min over empty is null, every such doc would
    # share one all-null band key, and the 0-size "candidates" divide by
    # zero at verification. The SQL-oracle form excludes them naturally
    # (no exploded shingle rows -> no minhash rows) — match it.
    ih = wdocs.filter(F.size("sh_arr") > 0).select(
        "doc_id",
        F.expr(
            "transform(sh_arr,"
            " x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint))"
        ).alias("ih"),
    )
    mh = ih.select(
        "doc_id",
        *[F.expr(
            f"array_min(transform(ih, x -> (x * {MINHASH_A[s]}L + {MINHASH_B[s]}L)"
            f" % {MINHASH_P}L))"
          ).alias(f"h{s}") for s in range(N_MINHASH)],
    )
    band_structs = F.array(*[
        F.struct(
            F.lit(b).cast("long").alias("band_id"),
            F.concat_ws("|", *[F.col(f"h{b * rows + i}") for i in range(rows)])
             .alias("band_key"),
        )
        for b in range(N_BANDS)
    ])
    return (
        mh.select("doc_id", F.explode(band_structs).alias("b"))
        .select("doc_id", F.col("b.band_id").alias("band_id"),
                F.col("b.band_key").alias("band_key"))
    )


# SQL mirror of minhash_bands (CTE tail: shi -> mh -> bands), appended
# after _SHINGLES_SQL in the oracles that consume bands.
def _minhash_bands_sql() -> str:
    rows = N_MINHASH // N_BANDS
    a_vals = ",".join(str(a) for a in MINHASH_A)
    b_vals = ",".join(str(b) for b in MINHASH_B)
    return f"""
    shi AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
      FROM sh
    ),
    mh AS (
      SELECT doc_id, s.seed,
             MIN(([{a_vals}][s.seed + 1] * x + [{b_vals}][s.seed + 1])
                 % {MINHASH_P}) AS h
      FROM shi, (SELECT UNNEST(generate_series(0, {N_MINHASH - 1})) AS seed) s
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, seed // {rows} AS band_id,
             string_agg(CAST(h AS VARCHAR), '|' ORDER BY seed) AS band_key
      FROM mh GROUP BY 1, 2
    )
    """


@query("dedup_minhash_lsh", bench=True, oracle=_minhash_band_pairs_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bands is tiny (4 rows/doc) but sits above the signature computation;
    # cache it so the a/b sides of the self-join don't recompute it.
    bands = minhash_bands(spark, sf_dir).cache()
    wdocs = _shingle_arrays(spark, sf_dir)
    bands.count()  # materialize before the self-join (both sides reuse it)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    ).cache()
    cand.count()  # materialize: consumed by three branches below
    # Verification: fetch the two (already-cached) shingle SETS per
    # candidate pair and intersect them map-side with array_intersect —
    # no shingle re-explode, no pair-count shuffle (r1 shape: explode
    # candidates' shingles + 2-way join + groupBy = two extra exchanges).
    # The broadcast semi-join prunes the corpus to candidate docs before
    # any array moves; per-pair work is O(|doc|) hash intersection, and
    # arrays are bounded by doc length, so the shape survives 100 TB.
    cand_docs = (cand.select(F.col("doc_a").alias("doc_id"))
                 .union(cand.select("doc_b")).distinct())
    arrs = (wdocs.join(F.broadcast(cand_docs), "doc_id", "left_semi")
            .select("doc_id", "sh_arr"))
    # Materialize arrs ONCE (r16, guide §2.4/§5): the executed plan
    # built this semi-join subtree TWICE — once per verify side — each
    # build paying its own wdocs cache decode plus its own copy of the
    # cand union-distinct exchange. The r15 checkpoint attempt regressed
    # at 10x because the LogicalRDD loses the stats that made both
    # verify joins broadcast; the explicit F.broadcast hints below keep
    # the SAME strategy the stats-driven plan picks today, so the
    # checkpoint only removes the duplicate build. Measured (noop
    # min-of-3, identical output 256 / 246,707 pairs): 1x cpu
    # 10.10 -> 6.65 s, 10x cpu 34.1 -> 24.8 s; executed plan keeps
    # BroadcastHashJoin on both verify joins at both scales. 100 TB
    # note: broadcasting candidate-doc shingle arrays is the bet the
    # pre-checkpoint plan already made (estimated under the 64 MB
    # threshold); where the candidate set outgrows a broadcast, the
    # hint — not the checkpoint — is what must be revisited.
    arrs = checkpoint(arrs)
    scored = (
        cand
        .join(F.broadcast(arrs.select(F.col("doc_id").alias("doc_a"),
                                      F.col("sh_arr").alias("arr_a"))),
              "doc_a")
        .join(F.broadcast(arrs.select(F.col("doc_id").alias("doc_b"),
                                      F.col("sh_arr").alias("arr_b"))),
              "doc_b")
        .select("doc_a", "doc_b",
                F.size(F.array_intersect("arr_a", "arr_b")).alias("i"),
                F.size("arr_a").alias("na"), F.size("arr_b").alias("nb"))
    )
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")).cast("double"))
    return (
        scored.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# SimHash: 32-bit sketch from md5-derived token hashes; banded pairing
# (hamming <= 3 over 4 bands ⇒ some band equal), then exact hamming filter.
# ---------------------------------------------------------------------------

_SIMHASH_SQL = f"""
  tok AS (
    SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS token
    FROM documents
  ),
  th AS (
    SELECT doc_id, token,
           ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
    FROM tok
  ),
  bitsum AS (
    SELECT doc_id, b.bit,
           SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM th, (SELECT UNNEST(generate_series(0, {SIMHASH_BITS - 1})) AS bit) b
    GROUP BY 1, 2
  ),
  sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsum GROUP BY 1
  )
"""


@query(
    "dedup_simhash",
    bench=True,
    oracle=f"""
    WITH {_SIMHASH_SQL},
    banded AS (
      SELECT doc_id, simhash, k.band_id,
             (simhash >> (15 * k.band_id)) & 32767 AS band_val
      FROM sig, (SELECT UNNEST(generate_series(0, {SIMHASH_BANDS - 1})) AS band_id) k
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS ha, b.simhash AS hb
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {HAMMING_MAX}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signature computed ENTIRELY map-side with nested higher-order
    # functions: token-hash array once (the only md5 pass), then ONE pass
    # over the tokens accumulating all 60 per-bit sign-counters
    # (zip_with on an array accumulator), folded into one BIGINT — zero
    # shuffle until the banded self-join, mirroring the minhash layout
    # above. The single-pass form beats a per-bit re-scan of the token
    # array (per-bit aggregates) by ~6.7x measured at sf0.1.
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    sig = docs.select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(text, ' ')),"
            " t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
        ).alias("th"),
    ).select(
        "doc_id",
        F.expr(
            f"aggregate(aggregate(th, array_repeat(0, {SIMHASH_BITS}),"
            f"  (acc, x) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}),"
            "   (a, j) -> a + (case when ((x >> j) & 1) = 1 then 1 else -1 end))),"
            " named_struct('j', 0, 's', cast(0 as bigint)),"
            " (st, c) -> named_struct('j', st.j + 1, 's', st.s +"
            "   (case when c > 0 then shiftleft(cast(1 as bigint), st.j)"
            "    else cast(0 as bigint) end)),"
            " st -> st.s)"
        ).alias("simhash"),
    ).cache()
    sig.count()  # materialize before the banded self-join
    bands = spark.range(SIMHASH_BANDS).withColumnRenamed("id", "band_id")
    banded = (
        sig.crossJoin(F.broadcast(bands))
        .withColumn("band_val", F.expr(
            f"(simhash >> cast(band_id * {SIMHASH_BAND_BITS} as int))"
            f" & {SIMHASH_BAND_MASK}"))
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # Hamming filter BEFORE the distinct: the filter is free map-side on
    # the join output, so pairs that fail it never reach the dedup
    # exchange — the distinct then shuffles only surviving (doc_a,
    # doc_b, hamming) rows instead of every band collision ×4 bands.
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("bigint")
    return (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_val") == F.col("b.band_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the Jaccard similarity
# graph → every doc in a component gets the component's MIN doc_id as its
# canonical representative (the step a dedup pipeline runs AFTER pair
# generation: pairs say "a≈b", the pipeline needs "keep one per
# cluster"). Spark side is iterative min-label propagation — each round
# every node adopts the smallest label among itself and its neighbors;
# converges in graph-diameter rounds (near-dup clusters are shallow).
# The driver loop only checks a per-round CHANGED counter (a scalar);
# data never leaves the cluster. At 100 TB scale the same loop runs with
# per-round checkpointing to truncate lineage (and the large-star/
# small-star variant if clusters get deep). The oracle states the same
# fixpoint as a recursive CTE (min label reachable along edges).
# ---------------------------------------------------------------------------

_JACCARD_PAIRS_SQL = f"""
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
            >= {JACCARD_THRESHOLD}
    )
"""


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    {_JACCARD_PAIRS_SQL},
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lab) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.v, r.lab FROM reach r JOIN edges e ON r.node = e.u
    ),
    canon AS (
      SELECT node AS doc_id, MIN(lab) AS canonical_doc_id
      FROM reach GROUP BY 1
    )
    SELECT doc_id, canonical_doc_id,
           COUNT(*) OVER (PARTITION BY canonical_doc_id) AS cluster_size,
           (doc_id = canonical_doc_id) AS is_canonical
    FROM canon
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min-label propagation with pointer jumping (O(log diameter)
    # rounds) — shared with the co-purchase component rollup
    from gmall_211027_flink_spark.operators.graph import min_label_components
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
             .union(pairs.select(F.col("doc_b").alias("u"),
                                 F.col("doc_a").alias("v")))
             .distinct())
    labels = min_label_components(edges)
    w_sz = F.count("*").over(Window.partitionBy("canonical_doc_id"))
    return (
        labels.select(F.col("node").alias("doc_id"),
                      F.col("label").alias("canonical_doc_id"))
        .withColumn("cluster_size", w_sz)
        .withColumn("is_canonical",
                    F.col("doc_id") == F.col("canonical_doc_id"))
    )


# ---------------------------------------------------------------------------
# Doc-frequency-capped Jaccard — the SKEW GUARD made live. A shingle
# shared by k docs yields k(k-1)/2 pairs; boilerplate shingles (headers,
# license text) produce quadratic hot groups. Dropping shingles with
# document frequency > DF_CAP bounds every posting list's pair fan-out
# at DF_CAP²/2 — the standard trade (boilerplate carries no similarity
# signal anyway). The cap changes semantics (capped intersection
# counts), so this is registered SEPARATELY with the cap mirrored in the
# oracle: the gate proves the guarded plan's exact semantics, not just
# the unguarded one's.
# ---------------------------------------------------------------------------

# Cap sized for production stopword-run skew, not the test corpus: a
# shingle shared by >500 docs is boilerplate and contributes k²/2 pair
# bombs at billion-doc scale (bounded here at 125k pairs/shingle), while
# any corpus whose max doc-frequency is below the cap gets FULL recall —
# the sf0.1 corpus (max DF 25) and the 10x scale probe (max DF ~250)
# both stay exact. (r2: the old cap of 8 sat BELOW this corpus's median
# DF and silently zeroed recall at bench scale.)
DF_CAP = 500


@query(
    "dedup_ngram_jaccard_capped",
    bench=True,   # the 100 TB-safe default: hot shingles are k^2 pair bombs,
                  # so the DF-capped path is the headline; uncapped stays the
                  # exact-recall audit option (VERDICT r1 #6)
    oracle=f"""
    WITH {_SHINGLES_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    kept AS (
      SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) <= {DF_CAP}
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a
      JOIN kept k ON a.shingle = k.shingle
      JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard_capped
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair generation by PREFIX FILTERING (AllPairs/PPJoin, Bayardo et
    al. WWW'07), replacing the r2 full self-join of capped postings.

    The r2 shape self-joined ALL capped postings and counted shared
    shingles per pair with a groupBy — but at the 10x scale probe the
    aggregate had 113M distinct (doc_a, doc_b) groups with avg
    intersection 1.2: the "reduce" reduced nothing and the pair shuffle
    dominated (the probe measured minutes, not seconds). Prefix
    filtering prunes at generation time instead:

    1. per doc, sort its capped shingles rarest-first (ascending doc
       frequency, hash as tie-break — any global total order is valid);
    2. only the first ``nk - ceil(t*nk) + 1`` shingles (the PREFIX, ~20%
       at t=0.8) are exploded into the self-join: two capped sets with
       Jaccard >= t MUST share a prefix element (if all shared shingles
       sat outside A's prefix, the suffix holds < t*nk <= i of them —
       contradiction), so candidates are a strict superset of answers;
    3. a size bound prunes candidates further: i <= min(nka, nkb) and
       i*(TD+TN) >= TN*(na+nb) in EXACT integer arithmetic (t as the
       rational TN/TD), so no float-boundary pair is ever dropped;
    4. candidates (now ~100x fewer than pair-rows) verify EXACTLY via
       array_intersect on the per-doc capped-shingle arrays — a map-side
       JVM intrinsic, no giant aggregate shuffle anywhere.

    The final jaccard filter is the same double comparison the oracle
    runs, so output is bit-identical to the r2 shape (verified: 248,600
    pairs, exceptAll empty both directions at the 10x probe) — 3-10x
    faster there, and the 100 TB story changes in kind: shuffled bytes
    are prefix postings (~20% of postings) + surviving candidates, not
    every co-occurring pair. Rarest-first ordering means hot shingles
    (the pair bombs the DF cap exists for) land LAST and almost never
    inside a prefix. Grouping on xxhash64(shingle) not the string is the
    same ACCEPTED APPROXIMATION as the uncapped variant (collision odds
    documented there); the oracle groups on the raw shingle.
    """
    inter = _prefix_filtered_pairs(spark, sf_dir, df_cap=DF_CAP)
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")).cast("double"))
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard_capped"))
        .filter(F.col("jaccard_capped") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Sketch-quality evaluation: MinHash-LSH recall against the EXACT pair
# set — the meta-check a pipeline runs before trusting a sketch config
# at scale (here: 16 hashes / 4 bands vs Jaccard >= 0.8; the published
# band-hit curve gives P(candidate) = 1 - (1 - s^4)^4, ~0.986 at
# s = 0.8). LSH output is candidates-then-exact-verified, so precision
# is 1.0 by construction and the interesting number is band-miss
# recall. Both sides reuse the already-cached pair pipelines; the
# comparison itself is one tiny outer join.
# ---------------------------------------------------------------------------

def _recall_oracle() -> str:
    rows = N_MINHASH // N_BANDS
    a_vals = ",".join(str(a) for a in MINHASH_A)
    b_vals = ",".join(str(b) for b in MINHASH_B)
    return f"""
    WITH {_SHINGLES_SQL},
    {_JACCARD_PAIRS_SQL},
    shi AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
      FROM sh
    ),
    mh AS (
      SELECT doc_id, s.seed,
             MIN(([{a_vals}][s.seed + 1] * x + [{b_vals}][s.seed + 1])
                 % {MINHASH_P}) AS h
      FROM shi, (SELECT UNNEST(generate_series(0, {N_MINHASH - 1})) AS seed) s
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, seed // {rows} AS band_id,
             string_agg(CAST(h AS VARCHAR), '|' ORDER BY seed) AS band_key
      FROM mh GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT COUNT(*) AS exact_pairs,
           COUNT(c.doc_a) AS lsh_found,
           COUNT(*) - COUNT(c.doc_a) AS band_missed,
           -- integer half-up to ppm, then exact /1e6: float round()
           -- semantics differ across engines at exact 7-digit
           -- midpoints, which k/2^m ratios produce systematically
           CAST((2 * COUNT(c.doc_a) * 1000000 + COUNT(*))
                // (2 * COUNT(*)) AS DOUBLE) / 1000000 AS recall
    FROM pairs p
    LEFT JOIN cand c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
    """


@query("dedup_minhash_recall", oracle=_recall_oracle())
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cand_bands = minhash_bands(spark, sf_dir)
    a = cand_bands.alias("a")
    b = cand_bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("c_a"), F.col("b.doc_id").alias("c_b"))
        .distinct()
        .withColumn("hit", F.lit(1)))
    return (
        # No broadcast hint: cand is the band-fanout-sized side (can be
        # millions of pairs at scale); this is a one-off audit query, so
        # let AQE pick the join strategy (shuffle join is safe here).
        exact.join(cand,
                   (F.col("doc_a") == F.col("c_a"))
                   & (F.col("doc_b") == F.col("c_b")), "left")
        .agg(F.count("*").alias("exact_pairs"),
             F.count("hit").alias("lsh_found"),
             (F.count("*") - F.count("hit")).alias("band_missed"),
             # ppm integer half-up (see oracle comment): midpoint-proof
             (F.expr("(2 * count(hit) * 1000000 + count(*))"
                     " div (2 * count(*))").cast("double") / 1000000)
              .alias("recall"))
    )


# ---------------------------------------------------------------------------
# Passage-level exact dedup (C4/RefinedWeb-style boilerplate stripping).
# Crawl corpora repeat PASSAGES (nav bars, footers, license blurbs)
# across documents far more often than whole documents; training
# pipelines drop repeated passages while keeping the first occurrence.
# The corpus here is flat word text (no newlines), so a "passage" is a
# fixed PARA_W-word window — the segmentation is deterministic and
# mirrored bit-for-bit by the oracle.
#
# Scale shape: segmentation is map-side (split + slice, zero Python);
# the only shuffle is the per-passage ROW_NUMBER window, partitioned by
# passage text. Group sizes are the passage's duplication count — the
# boilerplate passages being removed are exactly the biggest groups,
# and even a passage repeated on every page of a 10^9-doc crawl is one
# group of 10^9 SMALL rows (doc_id, pos), not a pair explosion; for
# truly degenerate keys a salted two-phase form applies (per-salt min
# then global min, like operators/joins.py::salted_groupby_count).
# Reassembly is a per-doc groupBy (co-partitioned by doc_id).
# 100 TB byte-cut variant (not needed at bench scale, where both
# shuffles fit comfortably): run the keep-first window over
# (xxhash64(chunk), doc_id, pos) ONLY — a 24-byte row — then rejoin the
# verdict to the text rows by (doc_id, pos); passage text then crosses
# the wire once (for reassembly) instead of twice, at the cost of the
# same 2^-64 collision approximation the jaccard family documents.
# ---------------------------------------------------------------------------

PARA_W = 20     # words per passage window


@query(
    "dedup_passage_exact",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id, i AS pos,
             array_to_string(
               list_slice(w, i * {PARA_W} + 1, i * {PARA_W} + {PARA_W}),
               ' ') AS chunk
      FROM t, LATERAL unnest(generate_series(
               0, (len(w) + {PARA_W} - 1) // {PARA_W} - 1))
             AS g(i)
    ),
    ranked AS (
      SELECT doc_id, pos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk
                                ORDER BY doc_id, pos) AS rn
      FROM chunks
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_ct,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dropped_ct,
           md5(coalesce(
             string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos),
             '')) AS clean_fp
    FROM ranked GROUP BY 1
    """,
)
def dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide passage dedup, keep-first: a PARA_W-word passage
    instance survives only if it is the first occurrence in global
    (doc_id, pos) order; each doc reports kept/dropped counts and the
    md5 fingerprint of its cleaned text (order-preserving reassembly).
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    nc = F.expr(f"(size(w) + {PARA_W} - 1) div {PARA_W}")
    # empty-safe: sequence(0, -1) would auto-step backwards in Spark
    idx = F.when(nc <= 0, F.expr("array()")).otherwise(
        F.expr(f"sequence(0, (size(w) + {PARA_W} - 1) div {PARA_W} - 1)"))
    chunks = (docs.select(
        "doc_id",
        F.explode(idx).alias("pos"),
        "w")
        .select("doc_id", "pos",
                F.concat_ws(" ", F.expr(
                    f"slice(w, pos * {PARA_W} + 1, {PARA_W})")).alias("chunk")))
    rn = F.row_number().over(
        Window.partitionBy("chunk").orderBy("doc_id", "pos"))
    ranked = chunks.withColumn("rn", rn)
    kept_sorted = F.expr(
        "transform(array_sort(collect_list(CASE WHEN rn = 1 THEN "
        "struct(pos, chunk) END)), s -> s.chunk)")
    return (
        ranked.groupBy("doc_id")
        .agg(F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
              .cast("bigint").alias("kept_ct"),
             F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
              .cast("bigint").alias("dropped_ct"),
             F.md5(F.concat_ws(" ", kept_sorted)).alias("clean_fp"))
    )


# ---------------------------------------------------------------------------
# Jaccard threshold sweep — the exact-dedup sibling of the minhash/IVF
# recall audits: pair counts per threshold band, measured BEFORE
# committing a near-dup threshold to a full-corpus pass (too low melts
# distinct documents together; too high leaves templated near-dups in).
# One prefix-filtered pair generation at the LOWEST threshold feeds all
# bands; the SHINGLE subtree is shared with the 0.8 pipelines via the
# session cache, while the docset subtree is checkpointed once per
# _prefix_filtered_pairs call (r15 — per-call because its df filter
# depends on the threshold).
# ---------------------------------------------------------------------------

SWEEP_THRESHOLDS = (0.7, 0.8, 0.9)


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH {{sh}},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS j
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
    SELECT band, COUNT(*) AS pair_ct FROM (
      SELECT CASE WHEN j >= 0.9 THEN '0.9'
                  WHEN j >= 0.8 THEN '0.8'
                  ELSE '0.7' END AS band
      FROM jac WHERE j >= 0.7
    ) GROUP BY 1
    """.format(sh=_SHINGLES_SQL),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = _prefix_filtered_pairs(spark, sf_dir, df_cap=None,
                                   threshold=min(SWEEP_THRESHOLDS))
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")).cast("double"))
    band = (F.when(jac >= 0.9, "0.9")
            .when(jac >= 0.8, "0.8")
            .otherwise("0.7"))
    return (
        inter.filter(jac >= min(SWEEP_THRESHOLDS))
        .select(band.alias("band"))
        .groupBy("band").agg(F.count("*").alias("pair_ct"))
    )


# ---------------------------------------------------------------------------
# Containment near-dup (asymmetric): containment(A in B) = |A∩B| / |A|
# over shingle sets. Jaccard misses inclusion pairs — a short doc
# quoted wholesale inside a long one has tiny |A∩B|/|A∪B| but
# containment ~1. This is the screen for quote/boilerplate inclusion
# and for training-eval leakage where the eval item is embedded in a
# larger page (the decontaminate_* ops are the eval-side special case).
#
# Scale shape: same inverted-index (shingle-keyed) co-occurrence join
# as dedup_ngram_jaccard — pair generation touches only docs that
# actually share a shingle, df-capped to drop degenerate hot shingles;
# the containment test is then a map-side ratio of exact integer
# counts. The AllPairs prefix trick specializes to containment too
# (prefix size |A| - ceil(t*|A|) + 1) if generation ever dominates.
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.9
CONTAINMENT_DF_CAP = 200


@query(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLES_SQL},
    df AS (
      SELECT shingle FROM sh GROUP BY 1
      HAVING COUNT(*) <= {CONTAINMENT_DF_CAP}
    ),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
             COUNT(*) AS i
      FROM shc a JOIN shc b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_contained, doc_container,
           sa.n AS n_contained, sb.n AS n_container,
           round(CAST(i AS DOUBLE) / sa.n, 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_contained
    JOIN sizes sb ON sb.doc_id = doc_container
    WHERE CAST(i AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment pairs (shared shingles / contained-doc
    size >= threshold). The shared-shingle count uses only shingles
    below the df cap; the containment denominator is the TRUE shingle
    count, so capping can only lose candidates, never inflate scores."""
    sh = _shingles(spark, sf_dir)
    df_ok = (sh.groupBy("shingle").agg(F.count("*").alias("df"))
             .filter(F.col("df") <= CONTAINMENT_DF_CAP)
             .select("shingle"))
    shc = sh.join(df_ok, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = shc.select(F.col("doc_id").alias("doc_contained"), "shingle")
    b = shc.select(F.col("doc_id").alias("doc_container"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("doc_contained") != F.col("doc_container"))
             .groupBy("doc_contained", "doc_container")
             .agg(F.count("*").alias("i")))
    sa = sizes.select(F.col("doc_id").alias("doc_contained"),
                      F.col("n").alias("n_contained"))
    sb = sizes.select(F.col("doc_id").alias("doc_container"),
                      F.col("n").alias("n_container"))
    return (inter.join(sa, "doc_contained").join(sb, "doc_container")
            .filter(F.col("i").cast("double") / F.col("n_contained")
                    >= CONTAINMENT_THRESHOLD)
            .select("doc_contained", "doc_container", "n_contained",
                    "n_container",
                    F.round(F.col("i").cast("double")
                            / F.col("n_contained"), 6).alias("containment")))


# ---------------------------------------------------------------------------
# Bloom-filter membership audit: the ingest-time "have we crawled this
# before?" gate a 100 TB pipeline runs BEFORE any expensive dedup — a
# constant-size bit set answers most negatives without touching the
# seen-corpus. This operator builds the filter relationally (distinct
# bit positions from BLOOM_K md5 slices of each seen doc), probes the
# incoming half of the corpus, and reports the measured false-positive
# rate against exact membership — the calibration read before trusting
# (m, k) at a new corpus scale, same audit role as dedup_minhash_recall.
#
# Scale shape: the bit set is <= BLOOM_M rows (broadcast); probes are a
# map-side explode + one broadcast semi-join + per-doc count — the
# corpus never shuffles. Exact membership is an md5 equi-join (keyed).
# All-integer math; the one ratio rounds at the 6-dp boundary.
# ---------------------------------------------------------------------------

BLOOM_M = 4096   # bits; deliberately small so the audit SEES collisions
BLOOM_K = 3      # md5 32-bit slices used as hash functions


def _bloom_pos_sql(text: str) -> str:
    """DuckDB: list of BLOOM_K bit positions for a text expression."""
    slices = ", ".join(
        f"('0x' || substr(md5({text}), {i * 8 + 1}, 8))::BIGINT % {BLOOM_M}"
        for i in range(BLOOM_K))
    return f"[{slices}]"


@query(
    "dedup_bloom_membership_audit",
    oracle=f"""
    WITH seen AS (
      SELECT md5(text) AS h, {_bloom_pos_sql('text')} AS pos
      FROM documents WHERE doc_id % 2 = 0
    ),
    bits AS (SELECT DISTINCT unnest(pos) AS b FROM seen),
    inc AS (
      SELECT doc_id, md5(text) AS h,
             list_distinct({_bloom_pos_sql('text')}) AS pos
      FROM documents WHERE doc_id % 2 = 1
    ),
    probe_hits AS (
      SELECT u.doc_id, COUNT(*) AS n_hit
      FROM (SELECT doc_id, unnest(pos) AS p FROM inc) u
      JOIN bits ON bits.b = u.p
      GROUP BY 1
    ),
    probe AS (
      SELECT i.doc_id, len(i.pos) AS n_pos,
             coalesce(ph.n_hit, 0) AS n_hit,
             i.h IN (SELECT h FROM seen) AS is_exact
      FROM inc i LEFT JOIN probe_hits ph USING (doc_id)
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_incoming,
      CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT)
        AS n_exact_dup,
      CAST(SUM(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END) AS BIGINT)
        AS n_bloom_positive,
      CAST(SUM(CASE WHEN n_hit = n_pos AND NOT is_exact
               THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
      round(CAST(SUM(CASE WHEN n_hit = n_pos AND NOT is_exact
                     THEN 1 ELSE 0 END) AS DOUBLE)
            / greatest(COUNT(*) - SUM(CASE WHEN is_exact THEN 1 ELSE 0
                                      END), 1), 6) AS fpr,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS bits_set
    FROM probe
    """,
)
def dedup_bloom_membership_audit(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pos_expr = F.array(*[
        (F.conv(F.substring(F.md5("text"), i * 8 + 1, 8), 16, 10)
         .cast("bigint") % BLOOM_M)
        for i in range(BLOOM_K)])
    seen = (docs.filter(F.col("doc_id") % 2 == 0)
            .select(F.md5("text").alias("h"), pos_expr.alias("pos")))
    bits = seen.select(F.explode("pos").alias("b")).distinct()
    seen_h = seen.select("h").distinct()
    inc = (docs.filter(F.col("doc_id") % 2 == 1)
           .select("doc_id", F.md5("text").alias("h"),
                   F.array_distinct(pos_expr).alias("pos")))
    hits = (inc.select("doc_id", F.size("pos").alias("n_pos"),
                       F.explode("pos").alias("b"))
            .join(F.broadcast(bits), "b")
            .groupBy("doc_id", "n_pos")
            .agg(F.count("*").alias("n_hit")))
    probe = (inc
             .join(hits.select("doc_id", "n_hit"), "doc_id", "left")
             .withColumn("n_hit", F.coalesce("n_hit", F.lit(0)))
             .join(F.broadcast(seen_h.withColumn("is_exact", F.lit(True))),
                   "h", "left")
             .withColumn("is_exact",
                         F.coalesce("is_exact", F.lit(False)))
             .withColumn("positive",
                         F.col("n_hit") == F.size("pos")))
    n_bits = bits.agg(F.count("*").cast("bigint").alias("bits_set"))
    return (probe.agg(
        F.count("*").cast("bigint").alias("n_incoming"),
        F.sum(F.when(F.col("is_exact"), 1).otherwise(0)).cast("bigint")
         .alias("n_exact_dup"),
        F.sum(F.when(F.col("positive"), 1).otherwise(0)).cast("bigint")
         .alias("n_bloom_positive"),
        F.sum(F.when(F.col("positive") & ~F.col("is_exact"), 1)
              .otherwise(0)).cast("bigint").alias("n_false_positive"),
        F.round(
            F.sum(F.when(F.col("positive") & ~F.col("is_exact"), 1)
                  .otherwise(0)).cast("double")
            / F.greatest(
                F.count("*")
                - F.sum(F.when(F.col("is_exact"), 1).otherwise(0)),
                F.lit(1)), 6).alias("fpr"))
        .crossJoin(F.broadcast(n_bits)))


# ---------------------------------------------------------------------------
# MinHash band-tuning sweep: band-miss recall vs the exact Jaccard pair
# set for three (bands x rows) splits of the SAME 16-hash signature —
# (2x8) tight, (4x4) the production config dedup_minhash_lsh runs,
# (8x2) loose. This is the tuning CURVE next to dedup_minhash_recall's
# single-point audit (the s-curve P(candidate) = 1-(1-s^r)^b moves with
# r and b; the sweep measures it on the actual corpus). Signatures are
# computed ONCE map-side; each sweep point only regroups the 16 hashes
# into different band keys, so the sweep costs ~3 band self-joins on
# constant-size keys.
# ---------------------------------------------------------------------------

BAND_SWEEP = ((2, 8), (4, 4), (8, 2))   # (n_bands, rows_per_band)


def _band_sweep_oracle() -> str:
    a_vals = ",".join(str(a) for a in MINHASH_A)
    b_vals = ",".join(str(b) for b in MINHASH_B)
    points = []
    for nb, rows in BAND_SWEEP:
        points.append(f"""
    bands_{nb} AS (
      SELECT doc_id, seed // {rows} AS band_id,
             string_agg(CAST(h AS VARCHAR), '|' ORDER BY seed) AS band_key
      FROM mh GROUP BY 1, 2
    ),
    cand_{nb} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_{nb} a JOIN bands_{nb} b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    point_{nb} AS (
      SELECT {nb} AS n_bands, {rows} AS rows_per_band,
             COUNT(*) AS exact_pairs, COUNT(c.doc_a) AS lsh_found
      FROM pairs p
      LEFT JOIN cand_{nb} c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
    )""")
    union = "\n      UNION ALL\n".join(
        f"SELECT * FROM point_{nb}" for nb, _r in BAND_SWEEP)
    return f"""
    WITH {_SHINGLES_SQL},
    {_JACCARD_PAIRS_SQL},
    shi AS (
      SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
      FROM sh
    ),
    mh AS (
      SELECT doc_id, s.seed,
             MIN(([{a_vals}][s.seed + 1] * x + [{b_vals}][s.seed + 1])
                 % {MINHASH_P}) AS h
      FROM shi, (SELECT UNNEST(generate_series(0, {N_MINHASH - 1})) AS seed) s
      GROUP BY 1, 2
    ),
    {",".join(p.strip() for p in points)}
    SELECT CAST(n_bands AS BIGINT) AS n_bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(exact_pairs AS BIGINT) AS exact_pairs,
           CAST(lsh_found AS BIGINT) AS lsh_found,
           CAST((2 * lsh_found * 1000000 + exact_pairs)
                // (2 * exact_pairs) AS DOUBLE) / 1000000 AS recall
    FROM ({union})
    """


@query("dedup_minhash_band_sweep", oracle=_band_sweep_oracle())
def dedup_minhash_band_sweep(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    exact = (dedup_ngram_jaccard(spark, sf_dir)
             .select("doc_a", "doc_b").localCheckpoint())
    wdocs = _shingle_arrays(spark, sf_dir)
    ih = wdocs.filter(F.size("sh_arr") > 0).select(
        "doc_id",
        F.expr(
            "transform(sh_arr,"
            " x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint))"
        ).alias("ih"))
    mh = ih.select(
        "doc_id",
        *[F.expr(
            f"array_min(transform(ih, x -> (x * {MINHASH_A[s]}L"
            f" + {MINHASH_B[s]}L) % {MINHASH_P}L))").alias(f"h{s}")
          for s in range(N_MINHASH)]).localCheckpoint()
    out = None
    for nb, rows in BAND_SWEEP:
        band_structs = F.array(*[
            F.struct(
                F.lit(b).cast("long").alias("band_id"),
                F.concat_ws("|", *[F.col(f"h{b * rows + i}")
                                   for i in range(rows)])
                 .alias("band_key"))
            for b in range(nb)])
        bands = (mh.select("doc_id", F.explode(band_structs).alias("b"))
                 .select("doc_id", "b.band_id", "b.band_key"))
        a = bands.alias("a")
        bb = bands.alias("b")
        cand = (a.join(bb, (F.col("a.band_id") == F.col("b.band_id"))
                       & (F.col("a.band_key") == F.col("b.band_key"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("c_a"),
                        F.col("b.doc_id").alias("c_b"))
                .distinct().withColumn("hit", F.lit(1)))
        point = (exact.join(cand, (F.col("doc_a") == F.col("c_a"))
                            & (F.col("doc_b") == F.col("c_b")), "left")
                 .agg(F.count("*").alias("exact_pairs"),
                      F.count("hit").alias("lsh_found"))
                 .select(F.lit(nb).cast("bigint").alias("n_bands"),
                         F.lit(rows).cast("bigint").alias("rows_per_band"),
                         F.col("exact_pairs").cast("bigint"),
                         F.col("lsh_found").cast("bigint")))
        out = point if out is None else out.unionAll(point)
    # ppm integer half-up, same midpoint-proof form as
    # dedup_minhash_recall (see _recall_oracle comment)
    return out.withColumn(
        "recall",
        F.expr("(2 * lsh_found * 1000000 + exact_pairs)"
               " div (2 * exact_pairs)").cast("double") / 1000000)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
# MOSS algorithm): per document, hash every K-token gram, then in every
# sliding window of W consecutive gram hashes select the minimum
# (rightmost on ties); the selected (position, hash) set is the
# document's fingerprint. Guarantees every shared run of >= W+K-1
# tokens contributes at least one shared fingerprint — a POSITIONAL
# locality guarantee MinHash doesn't give (MinHash samples globally;
# winnowing covers every window). Doc-pair overlap of fingerprint hash
# sets is the plagiarism/near-dup score.
#
# Selection trick: encode (hash, position) as one BIGINT
# enc = h * M + (M - p) with M = 2^20 > any position; MIN(enc) over the
# window frame is "min hash, ties to the RIGHTMOST position" — a plain
# rolling MIN both engines compute identically (no argmin needed).
#
# Scale: gram hashing + window-min are per-document (one keyed sort);
# the only cross-document stage is the fingerprint equi-join, which is
# capped by dropping ubiquitous fingerprints (> WINNOW_MAXDF docs —
# the stop-gram discipline of the paper) so no bucket goes quadratic.
# ---------------------------------------------------------------------------

WINNOW_K = 5           # tokens per gram
WINNOW_W = 4           # grams per winnowing window
WINNOW_M = 1 << 20     # position encoding base (doc token count < 2^20)
WINNOW_MAXDF = 50      # fingerprint doc-frequency cap (stop-grams)
WINNOW_MIN_SHARED = 2


_WINNOW_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    docg AS (
      SELECT doc_id, len(w) - {WINNOW_K} + 1 AS ng, w
      FROM toks WHERE len(w) >= {WINNOW_K}
    ),
    grams AS (
      SELECT doc_id, ng, i AS p,
             ('0x' || substr(md5(array_to_string(
                w[i:i + {WINNOW_K} - 1], ' ')), 1, 8))::BIGINT AS h
      FROM docg, UNNEST(generate_series(1, ng)) AS t(i)
    ),
    wins AS (
      SELECT doc_id, ng, p,
             MIN(h * {WINNOW_M} + ({WINNOW_M} - p)) OVER (
               PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
               AS me
      FROM grams
    ),
    fp AS (
      SELECT DISTINCT doc_id, me // {WINNOW_M} AS h
      FROM wins WHERE p <= ng - {WINNOW_W} + 1
    ),
    keep AS (
      SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= {WINNOW_MAXDF}
    ),
    fpc AS (SELECT f.doc_id, f.h FROM fp f JOIN keep USING (h)),
    sizes AS (SELECT doc_id, COUNT(*) AS nf FROM fpc GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_shared
      FROM fpc a JOIN fpc b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(CAST(n_shared AS DOUBLE)
                 / (sa.nf + sb.nf - n_shared), 6) AS score
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_shared >= {WINNOW_MIN_SHARED}
    """


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, h) winnowed fingerprint set (pre stop-gram cap) for a
    frame carrying (doc_id, text). Per-document computation only —
    valid on a micro-batch inside foreachBatch (the streaming index
    maintenance path) exactly as on the full corpus."""
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    grams = (toks.filter(F.size("w") >= WINNOW_K)
             .select("doc_id",
                     (F.size("w") - WINNOW_K + 1).alias("ng"),
                     F.explode(F.expr(
                         f"transform(sequence(1, size(w) - {WINNOW_K} + 1),"
                         f" i -> struct(i as p,"
                         f"  cast(conv(substring(md5(concat_ws(' ',"
                         f"   slice(w, i, {WINNOW_K}))), 1, 8), 16, 10)"
                         f"   as bigint) as h))")).alias("g"))
             .select("doc_id", "ng", "g.p", "g.h"))
    w_roll = (Window.partitionBy("doc_id").orderBy("p")
              .rowsBetween(0, WINNOW_W - 1))
    wins = grams.withColumn(
        "me", F.min(F.col("h") * WINNOW_M + (WINNOW_M - F.col("p")))
        .over(w_roll))
    return (wins.filter(F.col("p") <= F.col("ng") - WINNOW_W + 1)
            .select("doc_id", F.expr(f"me div {WINNOW_M}").alias("h"))
            .distinct())


def winnow_pairs(fp: DataFrame) -> DataFrame:
    """Stop-gram-capped pair scores over a (doc_id, h) fingerprint set
    — the read-side shared by the batch operator and the streaming
    index store."""
    keep = (fp.groupBy("h").agg(F.count("*").alias("dfreq"))
            .filter(F.col("dfreq") <= WINNOW_MAXDF).select("h"))
    fpc = fp.join(keep, "h")
    sizes = fpc.groupBy("doc_id").agg(F.count("*").alias("nf"))
    a = fpc.alias("a")
    b = fpc.alias("b")
    pairs = (a.join(b, (F.col("a.h") == F.col("b.h"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_shared"))
             .filter(F.col("n_shared") >= WINNOW_MIN_SHARED))
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (pairs
            .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
            .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.col("n_shared").cast("bigint").alias("n_shared"),
                    F.round(F.col("n_shared").cast("double")
                            / (F.col("sa.nf") + F.col("sb.nf")
                               - F.col("n_shared")), 6).alias("score")))


@query("dedup_winnowing_fingerprints", oracle=_WINNOW_ORACLE)
def dedup_winnowing_fingerprints(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint near-dup pairs with >= WINNOW_MIN_SHARED
    shared (non-ubiquitous) fingerprints; score = Jaccard of the two
    docs' kept-fingerprint sets."""
    from gmall_211027_flink_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_pairs(winnow_fingerprints(docs))


# ---------------------------------------------------------------------------
# TF-IDF sparse-cosine near-dup: lexical-vector similarity over an
# idf-filtered vocabulary — the sparse companion to the dense
# embedding_near_dup (catches word-overlap duplicates an embedding
# model may smooth over, and vice versa). Vector space = terms with
# 2 <= df and df * 10 <= N (hapaxes can't pair; ubiquitous terms are
# the stop-term cut that also CAPS the postings join — no term bucket
# exceeds N/10 docs, the blocking discipline of dedup_ngram_jaccard_
# capped, which remains the asymptotically tighter path).
#
# Float discipline (cross-engine): tf and df are exact ints; each
# wt = tf * ln(N/df) is one identical double expression; every SUM
# (dot products, squared norms) first rounds its term to 6 dp and
# accumulates as DECIMAL(18,6) — exact, partition-order-proof.
# ---------------------------------------------------------------------------

TFIDF_COS_THRESHOLD = "0.5"   # identical literal text in both engines


@query(
    "dedup_tfidf_cosine",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM toks
      WHERE t <> '' GROUP BY 1, 2
    ),
    stats AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
    vocab AS (
      SELECT t, df FROM dfreq, stats WHERE df >= 2 AND df * 10 <= n
    ),
    w AS (
      SELECT f.doc_id, f.t,
             CAST(f.tf AS DOUBLE)
             * ln(CAST(s.n AS DOUBLE) / CAST(v.df AS DOUBLE)) AS wt
      FROM tf f JOIN vocab v USING (t) CROSS JOIN stats s
    ),
    norms AS (
      SELECT doc_id,
             SUM(CAST(round(wt * wt, 6) AS DECIMAL(18,6))) AS n2
      FROM w GROUP BY 1
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(CAST(round(a.wt * b.wt, 6) AS DECIMAL(18,6))) AS dot
      FROM w a JOIN w b ON a.t = b.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(dot AS DOUBLE)
                 / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
                 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE round(CAST(dot AS DOUBLE)
                / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
                6) >= {TFIDF_COS_THRESHOLD}
    """,
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs with idf-filtered TF-IDF cosine >= 0.5."""
    from gmall_211027_flink_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("t"))
          .filter(F.col("t") != "")
          .groupBy("doc_id", "t").agg(F.count("*").alias("tf")))
    stats = tf.agg(F.countDistinct("doc_id").alias("n"))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    vocab = (dfreq.crossJoin(F.broadcast(stats))
             .filter((F.col("df") >= 2) & (F.col("df") * 10 <= F.col("n")))
             .select("t", "df", "n"))
    w = (tf.join(vocab, "t")
         .select("doc_id", "t",
                 (F.col("tf").cast("double")
                  * F.log(F.col("n").cast("double")
                          / F.col("df").cast("double"))).alias("wt")))
    norms = (w.groupBy("doc_id")
             .agg(F.sum(F.round(F.col("wt") * F.col("wt"), 6)
                        .cast("decimal(18,6)")).alias("n2")))
    a = w.alias("a")
    b = w.alias("b")
    dots = (a.join(b, (F.col("a.t") == F.col("b.t"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.sum(F.round(F.col("a.wt") * F.col("b.wt"), 6)
                       .cast("decimal(18,6)")).alias("dot")))
    na = norms.alias("na")
    nb = norms.alias("nb")
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na.n2").cast("double")
                 * F.col("nb.n2").cast("double")), 6)
    return (dots
            .join(na, F.col("na.doc_id") == F.col("doc_a"))
            .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
            .filter(cos >= float(TFIDF_COS_THRESHOLD))
            .select("doc_a", "doc_b", cos.alias("cosine")))


# ---------------------------------------------------------------------------
# Dedup-rate accounting by source: the per-source duplicate report a
# curation pipeline publishes after exact dedup — which crawl sources
# are re-serving the same bytes, and what fraction of each source's
# volume survives. Exact-hash grain (md5 of text), two count
# aggregations, one shuffle on (source, hash) then one on source.
# ---------------------------------------------------------------------------

def _register_dedup_rate() -> None:
    from pyspark.sql import SparkSession

    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.registry import query

    @query(
        "curation_dedup_rate_by_source",
        oracle="""
        WITH per AS (
          SELECT source, md5(text) AS h, COUNT(*) AS copies
          FROM documents GROUP BY 1, 2
        )
        SELECT source,
               CAST(SUM(copies) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_unique,
               CAST(SUM(copies) - COUNT(*) AS BIGINT) AS dup_docs,
               round(CAST(SUM(copies) - COUNT(*) AS DOUBLE) / SUM(copies), 6)
                 AS dup_rate
        FROM per GROUP BY 1
        """,
    )
    def curation_dedup_rate_by_source(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
        per = (load_table(spark, sf_dir, "documents")
               .groupBy("source", F.md5("text").alias("h"))
               .agg(F.count("*").alias("copies")))
        return (per.groupBy("source")
                .agg(F.sum("copies").cast("bigint").alias("n_docs"),
                     F.count("*").cast("bigint").alias("n_unique"),
                     (F.sum("copies") - F.count("*")).cast("bigint")
                      .alias("dup_docs"),
                     F.round((F.sum("copies") - F.count("*")).cast("double")
                             / F.sum("copies"), 6).alias("dup_rate")))


_register_dedup_rate()


# ---------------------------------------------------------------------------
# MinHash ESTIMATE bias audit: the recall audit (dedup_minhash_recall)
# asks "did the bands find the pairs?"; this one asks "how good is the
# signature-agreement Jaccard ESTIMATE itself?" — matches/16 vs the
# exact shingle Jaccard, per banded candidate pair. The per-pair error
# is what a pipeline consults before replacing exact verification with
# the estimate at scale (16 hashes ⇒ ±1/16 quantization). n_agree is an
# integer, the estimate is an exact multiple of 1/16, and the exact
# Jaccard is the same integer ratio both engines compute — no float
# boundary risk.
# ---------------------------------------------------------------------------

def _mh_estimate_bias_oracle() -> str:
    rows = N_MINHASH // N_BANDS
    return f"""
    WITH {_SHINGLES_SQL},
    {_minhash_bands_sql()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    agree AS (
      SELECT c.doc_a, c.doc_b,
             CAST(SUM(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM cand c
      JOIN mh a ON a.doc_id = c.doc_a
      JOIN mh b ON b.doc_id = c.doc_b AND b.seed = a.seed
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
      GROUP BY 1, 2
    )
    SELECT g.doc_a, g.doc_b, g.n_agree,
           round(g.n_agree / {N_MINHASH}.0, 6) AS mh_estimate,
           round(CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / (sa.n + sb.n - COALESCE(i.i, 0)), 6) AS exact_jaccard,
           round(ABS(g.n_agree / {N_MINHASH}.0
                     - CAST(COALESCE(i.i, 0) AS DOUBLE)
                       / (sa.n + sb.n - COALESCE(i.i, 0))), 6) AS abs_err
    FROM agree g
    LEFT JOIN inter i ON i.doc_a = g.doc_a AND i.doc_b = g.doc_b
    JOIN sizes sa ON g.doc_a = sa.doc_id
    JOIN sizes sb ON g.doc_b = sb.doc_id
    """


def _register_mh_estimate_bias() -> None:
    from gmall_211027_flink_spark.registry import query as _q

    @_q("dedup_minhash_estimate_bias", oracle=_mh_estimate_bias_oracle())
    def dedup_minhash_estimate_bias(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
        wdocs = _shingle_arrays(spark, sf_dir)
        ih = wdocs.filter(F.size("sh_arr") > 0).select(
            "doc_id", "sh_arr",
            F.expr("transform(sh_arr, x -> cast(conv(substring(md5(x), 1, 8),"
                   " 16, 10) as bigint))").alias("ih"))
        sig = ih.select(
            "doc_id", "sh_arr",
            F.array(*[F.expr(
                f"array_min(transform(ih, x -> (x * {MINHASH_A[s]}L"
                f" + {MINHASH_B[s]}L) % {MINHASH_P}L))")
                for s in range(N_MINHASH)]).alias("sig"))
        bands = minhash_bands(spark, sf_dir)
        a, b = bands.alias("a"), bands.alias("b")
        cand = (a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
                       & (F.col("a.band_key") == F.col("b.band_key"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"))
                .distinct())
        sa = sig.select(F.col("doc_id").alias("doc_a"),
                        F.col("sig").alias("sig_a"),
                        F.col("sh_arr").alias("sh_a"))
        sb = sig.select(F.col("doc_id").alias("doc_b"),
                        F.col("sig").alias("sig_b"),
                        F.col("sh_arr").alias("sh_b"))
        joined = cand.join(sa, "doc_a").join(sb, "doc_b")
        n_agree = F.expr(
            "aggregate(zip_with(sig_a, sig_b,"
            " (x, y) -> if(x = y, 1, 0)), 0, (acc, x) -> acc + x)"
        ).cast("bigint")
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
        uni = (F.size("sh_a") + F.size("sh_b")).cast("bigint") - inter
        est = F.col("n_agree").cast("double") / N_MINHASH
        exact = F.col("i").cast("double") / F.col("u")
        return (joined
                .select("doc_a", "doc_b", n_agree.alias("n_agree"),
                        inter.alias("i"), uni.alias("u"))
                .select("doc_a", "doc_b", "n_agree",
                        F.round(est, 6).alias("mh_estimate"),
                        F.round(exact, 6).alias("exact_jaccard"),
                        F.round(F.abs(est - exact), 6).alias("abs_err")))


_register_mh_estimate_bias()


# ---------------------------------------------------------------------------
# Entity-resolution near-dup by banded edit distance — the classic
# record-linkage comparator (Levenshtein) made shuffle-safe with
# standard blocking: candidates must share a 16-char prefix block AND
# sit within a character-length band, so the quadratic DP only ever
# runs inside blocks. Complements the set-based comparators (Jaccard /
# MinHash / SimHash): edit distance catches in-place typo edits that
# barely move shingle sets but matter for citation/record linkage.
#
# Scale shape: the self-join is an EQUI-join on the prefix block key
# (never all-pairs); the length band is a residual predicate inside
# the block, and blocks larger than ED_BLOCK_CAP docs are DROPPED
# before pair generation (the DF_CAP rationale from the shingle
# pipeline: a prefix shared by thousands of docs is boilerplate, and
# its k^2/2 pairs are the exact quadratic blow-up blocking exists to
# prevent — at 100 TB the cap is what makes worst-case cost
# O(blocks * cap^2) instead of O(hottest_block^2)). The comparator runs on a 120-char prefix window, never
# the full document — full-doc O(n*m) DP is not a thing you run at
# 100 TB, and for near-identical records the prefix window decides.
# Both engines implement standard Levenshtein (unit insert/delete/
# substitute), so the distance itself is integer-exact in the oracle.
# ---------------------------------------------------------------------------

ED_BLOCK_PFX = 16       # chars of shared prefix forming the block key
ED_LEN_BAND = 24        # max |len_a - len_b| inside a block
ED_WINDOW = 120         # comparator window (chars)
ED_MAX_DIST = 20        # accept pairs at or under this distance
ED_BLOCK_CAP = 64       # drop degenerate blocks bigger than this


@query(
    "dedup_edit_distance_banded",
    oracle=f"""
    WITH d0 AS (
      SELECT doc_id, n_chars,
             substr(text, 1, {ED_BLOCK_PFX}) AS blk,
             substr(text, 1, {ED_WINDOW}) AS win
      FROM documents
    ),
    ok AS (
      SELECT blk FROM d0 GROUP BY blk
      HAVING COUNT(*) <= {ED_BLOCK_CAP}
    ),
    d AS (SELECT d0.* FROM d0 JOIN ok ON d0.blk = ok.blk)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.win, b.win) AS BIGINT) AS edit_dist,
           CAST(abs(a.n_chars - b.n_chars) AS BIGINT) AS len_diff
    FROM d a JOIN d b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= {ED_LEN_BAND}
    WHERE levenshtein(a.win, b.win) <= {ED_MAX_DIST}
    ORDER BY doc_a, doc_b
    """,
)
def dedup_edit_distance_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by Levenshtein distance <= {ED_MAX_DIST} on a
    {ED_WINDOW}-char window, candidates blocked by shared
    {ED_BLOCK_PFX}-char prefix + length band {ED_LEN_BAND}."""
    d0 = (load_table(spark, sf_dir, "documents")
          .select("doc_id", "n_chars",
                  F.substring("text", 1, ED_BLOCK_PFX).alias("blk"),
                  F.substring("text", 1, ED_WINDOW).alias("win")))
    ok = (d0.groupBy("blk").agg(F.count("*").alias("bn"))
          .filter(F.col("bn") <= ED_BLOCK_CAP).select("blk"))
    d = d0.join(ok, "blk", "left_semi")
    a = d.select(F.col("doc_id").alias("doc_a"),
                 F.col("n_chars").alias("len_a"),
                 F.col("blk"), F.col("win").alias("win_a"))
    b = d.select(F.col("doc_id").alias("doc_b"),
                 F.col("n_chars").alias("len_b"),
                 F.col("blk"), F.col("win").alias("win_b"))
    return (a.join(b, "blk")
            .filter((F.col("doc_a") < F.col("doc_b"))
                    & (F.abs(F.col("len_a") - F.col("len_b"))
                       <= ED_LEN_BAND))
            .withColumn("edit_dist",
                        F.levenshtein("win_a", "win_b").cast("bigint"))
            .filter(F.col("edit_dist") <= ED_MAX_DIST)
            .select("doc_a", "doc_b", "edit_dist",
                    F.abs(F.col("len_a") - F.col("len_b")).cast("bigint")
                    .alias("len_diff"))
            .orderBy("doc_a", "doc_b"))


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (r11) — the rsync/LBFS family
# (Muthitacharoen et al., SOSP 2001): split every document at positions
# where a fingerprint of the SLIDING 8-byte window hits a boundary
# pattern (fp % 64 == 0 -> ~64-char expected chunks), then dedup at the
# CHUNK level.  Unlike fixed-size blocks, an insertion early in a
# document only re-chunks locally — the property backup systems and
# training-data delta pipelines rely on.  This closes the last classic
# dedup granularity between exact-doc and n-gram: exact > passage >
# span > CDC chunk > shingle.
#
# The window fingerprint is md5 of the 8-char gram (content-defined and
# engine-identical; production Gear/Rabin hashes are a cheaper rolling
# form of the same local function — the CHUNKING semantics, boundary
# distribution, and dedup math are identical, and md5 is the one
# fingerprint both engines share exactly).  No min/max chunk-length
# clamps: those are sequential (each boundary depends on the previous),
# which would serialize the scan; the pure local rule keeps every
# position independent -> embarrassingly parallel.
#
# Scale: per-doc work is linear in chars and never leaves the task
# until the per-(source, chunk-hash) aggregate — the same hash-groupBy
# shape as dedup_exact.  EXACTNESS: all counts BIGINT; the two ratios
# are 6-dp floor-quantized doubles from identical integers.
# ---------------------------------------------------------------------------

CDC_WINDOW = 8          # sliding fingerprint window (CHARACTERS: both
#                         engines substring by character, then md5 the
#                         UTF-8 bytes — a byte-window Gear/Rabin port
#                         would differ on multi-byte text)
CDC_MASK = 64           # boundary when fp % CDC_MASK == 0 (~64-char chunks)


@query(
    "dedup_cdc_chunking",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, text, length(text) AS n_len FROM documents
    ),
    b AS (
      SELECT doc_id, p
      FROM d, UNNEST(generate_series({CDC_WINDOW}, n_len - 1)) t(p)
      WHERE ('0x' || substr(md5(substr(text, p - {CDC_WINDOW - 1},
                                       {CDC_WINDOW})), 1, 4))::BIGINT
            % {CDC_MASK} = 0
    ),
    bl AS (SELECT doc_id, list(p ORDER BY p) AS bs FROM b GROUP BY 1),
    db AS (
      SELECT d.doc_id, d.source, d.text, d.n_len,
             COALESCE(bl.bs, CAST([] AS BIGINT[])) AS bs
      FROM d LEFT JOIN bl USING (doc_id)
    ),
    ck AS (
      SELECT doc_id, source, substr(text, s + 1, e - s) AS chunk
      FROM (
        SELECT doc_id, source, text,
               list_prepend(CAST(0 AS BIGINT), bs)[i] AS s,
               list_append(bs, CAST(n_len AS BIGINT))[i] AS e
        FROM db, UNNEST(generate_series(1, len(bs) + 1)) t(i)
      )
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT md5(chunk)) AS BIGINT)
             AS n_distinct_chunks,
           CAST(SUM(length(chunk)) AS BIGINT) AS sum_chunk_chars,
           CAST(CAST(floor(CAST(SUM(length(chunk)) AS DOUBLE)
                           / CAST(COUNT(*) AS DOUBLE)
                           * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS avg_chunk_len,
           CAST(CAST(floor((1.0 - CAST(COUNT(DISTINCT md5(chunk))
                                       AS DOUBLE)
                                  / CAST(COUNT(*) AS DOUBLE))
                           * 1000000 + 0.5) AS BIGINT) AS DOUBLE)
             / 1000000.0 AS dup_chunk_pct
    FROM ck
    GROUP BY source
    ORDER BY source
    """,
)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (LBFS-style sliding-window boundaries)
    with chunk-level dedup stats per source (see block comment)."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "text",
                    F.length("text").alias("n_len")))
    # SCALE.md §11 rule (same hazard decode_parallel guards): the
    # fingerprint stage is ~len(text) md5 calls per row, so a
    # single-file corpus must not run it on 1-2 scan splits — measured
    # 10.5 s -> 1 s at sf0.1 (the 10x probe corpus, pre-split 32 ways,
    # ran 2.7x FASTER than 1x before this)
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    # boundary positions: fingerprint of the 8-char window ending at p
    grams = docs.select(
        "doc_id", "text",
        F.explode(
            F.when(F.col("n_len") > CDC_WINDOW,
                   F.expr(f"sequence({CDC_WINDOW}, n_len - 1)"))
            .otherwise(F.array())).alias("p"))
    bnd = (grams.filter(
        F.conv(F.substring(
            F.md5(F.expr(f"substring(text, p - {CDC_WINDOW - 1}, "
                         f"{CDC_WINDOW})")), 1, 4), 16, 10)
        .cast("bigint") % CDC_MASK == 0)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("p")).alias("bs")))
    db = (docs.join(bnd, "doc_id", "left")
          .withColumn("bs", F.coalesce(
              "bs", F.array().cast("array<bigint>"))))
    z = db.select(
        "doc_id", "source", "text",
        F.explode(F.arrays_zip(
            F.concat(F.array(F.lit(0).cast("bigint")), F.col("bs")),
            F.concat(F.col("bs"),
                     F.array(F.col("n_len").cast("bigint")))))
        .alias("se"))
    ck = z.select(
        "doc_id", "source",
        F.expr("substring(text, se['0'] + 1, se['1'] - se['0'])")
        .alias("chunk"))
    q6 = lambda col: (F.floor(col * F.lit(1000000.0) + F.lit(0.5))  # noqa: E731
                      .cast("bigint").cast("double") / F.lit(1000000.0))
    return (ck.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_chunks"),
        F.countDistinct(F.md5(F.col("chunk").cast("binary")))
        .cast("bigint").alias("n_distinct_chunks"),
        F.sum(F.length("chunk")).cast("bigint").alias("sum_chunk_chars"))
        .select(
            "source", "n_docs", "n_chunks", "n_distinct_chunks",
            "sum_chunk_chars",
            q6(F.col("sum_chunk_chars").cast("double")
               / F.col("n_chunks").cast("double")).alias("avg_chunk_len"),
            q6(F.lit(1.0) - F.col("n_distinct_chunks").cast("double")
               / F.col("n_chunks").cast("double")).alias("dup_chunk_pct"))
        .orderBy("source"))
