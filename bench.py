"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion through the noop sink (computes
every column of every row — guide §1.4; r15 fix, count() let the
optimizer prune final aggregate expressions) so lazy plans can't fake
speed. Timings include plan+execute, not session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable
from pathlib import Path
from typing import Any, NamedTuple

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from gmall_211027_flink_spark import get_spark  # noqa: E402
from gmall_211027_flink_spark.registry import (  # noqa: E402
    BENCH_QUERIES, QUERIES, load_all,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_all()
    spark = get_spark("bench")
    names = BENCH_QUERIES or sorted(QUERIES)
    # Warm the JVM once: run every headline query at sf0.001 first. The
    # plans are structurally identical at any sf, so this compiles the
    # whole-stage-codegen classes and JIT-warms them without touching
    # sf_dir data — timings below still include full plan+execute, they
    # just measure the engine instead of first-run Janino/C2 compilation
    # (measured: 2-4x cold-run inflation on the dedup pipelines).
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in names:
            try:
                QUERIES[name](spark, warm_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception as exc:  # warmup must never fail the bench
                print(f"WARNING: warmup {name}: {exc}", file=sys.stderr)
        spark.catalog.clearCache()  # drop warm-dir caches before timing

    # min-of-3 per headline query: the host's burst noise (steal, GC —
    # see scale-probe comment below) otherwise reads as a regression in
    # round-over-round comparisons of a single-shot timing (measured:
    # back-to-back capped-jaccard runs of 7.1/4.1/5.4 s on an idle host)
    #
    # r15 MEASUREMENT FIX (guide §1.4, declared in OPTIMIZATION_r15.md):
    # the timed action is now a NOOP SINK write, not count(). count()
    # lets the optimizer prune the final aggregate expressions — e.g.
    # q1's seven decimal sums vanish from the counted plan (verified:
    # the optimized plan under count() is `Aggregate [l_returnflag,
    # l_linestatus]` with no aggregate expressions and a 3-column scan
    # instead of 7) — so the r1-r14 numbers under-measured every
    # query whose tail is an aggregate/projection. The noop sink
    # computes every column of every row and discards it.
    timings: dict[str, float] = {}
    # per-query cpu/steal/gc for the min-wall run (VERDICT r5 #5, r6 #4):
    # lets a wall-time delta be read as regression-vs-noise off the
    # artifact alone — a query whose wall grew but whose cpu_s held is
    # host noise; cpu growth with gc_s growth is heap pressure from
    # neighbors sharing the JVM; cpu growth without gc is a plan change
    q_cpu: dict[str, float] = {}
    q_steal: dict[str, float] = {}
    q_gc: dict[str, float] = {}
    hl_c0, hl_s0 = _jvm_cpu_seconds(), _host_steal_seconds()
    for name in names:
        spark.sparkContext.setJobDescription(f"bench headline: {name}")
        best = _best_of(spark, 3, lambda: QUERIES[name](spark, sf_dir)
                        .write.format("noop").mode("overwrite").save())
        timings[name] = round(best.wall, 3)
        q_cpu[name] = round(best.cpu, 3)
        q_steal[name] = round(best.steal, 3)
        q_gc[name] = round(best.gc, 3)
        # untimed sanity check: a headline query over empty output
        # would time nothing
        if QUERIES[name](spark, sf_dir).count() == 0:
            print(f"WARNING: {name} returned 0 rows", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    # same self-diagnosis as the scale probe, over the whole headline
    # loop: a high total with high steal is a noisy-host artifact, not a
    # regression (identical back-to-back totals measured 16.5/21.0/26.2 s)
    hl_cpu = round(_jvm_cpu_seconds() - hl_c0, 1)
    hl_steal = round(_host_steal_seconds() - hl_s0, 1)

    # Drop the sf-dir caches before the probe: the 10x corpus gets its
    # own cache entries, and carrying both inflates GC pauses into the
    # probe timings (measured: minutes of variance on a 48g heap).
    spark.catalog.clearCache()
    scale = _dedup_scale_probe(spark, sf_dir)
    spark.catalog.clearCache()
    tpch_scale = _fact_scale_probe(spark, sf_dir, TPCH_PROBE_QUERIES)
    spark.catalog.clearCache()
    daygrain_scale = _fact_scale_probe(spark, sf_dir, DAYGRAIN_PROBE_QUERIES)
    spark.catalog.clearCache()
    grid_rank_ab = _grid_rank_probe(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        # methodology marker: headline timings are min-of-N since r4
        # (r1-r3 were single-shot) — repeat runs can reuse
        # session-level caches (e.g. the shared shingle arrays), so
        # cross-round comparisons should note the change
        "headline_runs": 3,
        # r15: the timed action for "queries" is the noop sink (every
        # column computed)
        "timed_action": "noop_write",
        # since the count()-timed series was retired, these two cover
        # 3 noop runs plus 1 untimed count() per query (before: 3 noop
        # plus 3 timed count() runs), so they do not compare with
        # earlier rounds' values
        "headline_cpu_s": hl_cpu,
        "headline_steal_s": hl_steal,
        "queries": timings,
        "queries_cpu_s": q_cpu,
        "queries_steal_s": q_steal,
        "queries_gc_s": q_gc,
        "sf": sf_val,
        "scale_probe": scale,
        "tpch_scale": tpch_scale,
        "daygrain_scale": daygrain_scale,
        "grid_rank_ab": grid_rank_ab,
    }
    # Full telemetry blob FIRST (one line, for humans / scripts that read
    # whole stdout), then a compact headline-only line LAST.  The driver
    # captures only a ~2 KB tail of stdout and parses its final JSON line;
    # in r6 the telemetry detail grew past that window and the driver
    # artifact lost the headline wall totals entirely ("parsed": null in
    # BENCH_r06.json — VERDICT r6 #1).  The compact line stays well under
    # 1 KB by construction: 13 query names × ~25 bytes plus the envelope.
    print(json.dumps(detail))
    # Also persist the full blob next to the repo so the detail survives
    # regardless of tail-capture limits.
    try:
        with open(Path(__file__).resolve().parent / "bench_out.json", "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"WARNING: bench_out.json not written: {exc}", file=sys.stderr)
    compact = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # r16 (VERDICT r15 item 2): the compact line the driver parses
        # must identify the timed methodology — PERF r15 mechanically
        # compared count-timed r14 against noop-timed r15 and reported
        # 11 phantom regressions. timed_action makes noop-vs-noop
        # comparisons self-evident; headline_steal_s lets a high total
        # be read as host noise without digging for bench_out.json.
        "timed_action": "noop_write",
        "headline_steal_s": hl_steal,
    }
    line = json.dumps(compact)
    if len(line) > 1000:  # hard guard: driver tail capture is ~2 KB
        line = json.dumps({"metric": compact["metric"], "value": total,
                           "unit": "sec", "sf": sf_val,
                           "timed_action": "noop_write",
                           "headline_steal_s": hl_steal,
                           "queries_detail": "see bench_out.json"})
    print(line)


SCALE_FACTOR = 10          # synthetic 10x documents corpus
SCALE_QUERIES = ["dedup_ngram_jaccard_capped", "dedup_minhash_lsh",
                 "dedup_simhash", "dedup_exact", "dedup_passage_exact",
                 # round-5 corpus-scaling ops: span-level dedup and the
                 # inverted-index BM25 (worst-case dup density exercises
                 # the duplicated-window explosion / postings fan-out)
                 "dedup_span_exact", "text_bm25_search",
                 # round-6: the multiscale pyramid must stay linear too
                 "dedup_span_multiscale",
                 # round-11 continuation: content-defined chunking is
                 # per-char linear + one chunk-hash groupBy; the 10x
                 # near-dup corpus is its worst case (every replica
                 # shares most chunks with 9 siblings)
                 "dedup_cdc_chunking"]
ANN_SCALE_QUERIES = ["ann_cosine_topk", "ann_lsh_bucketed",
                     # r8: the PCA scatter pass is the O(n d^2)
                     # map-side stage — the probe checks it scales
                     # linearly in n on the 10x near-neighbor corpus
                     "embedding_pca_power_iteration"]
# round-6 (VERDICT r5 #6): the behavior family is a user-key-shuffle
# plan whose skew behavior was asserted, not measured — probe it on a
# 10x events corpus where ONE hot user absorbs 1/SCALE_FACTOR of all
# events (worst-case key skew for the per-user window sort).
# round-7: the salted join rides the same hot-key corpus — user_id 1
# carries ~10% of all fact rows, exactly the regime salting exists for;
# the probe measures that the salted plan stays linear under it.
BEHAVIOR_SCALE_QUERIES = ["ads_window_funnel", "join_salted_skew"]


def ensure_scale_corpus(spark, sf_dir: str, factor: int = SCALE_FACTOR,
                        with_events: bool = True) -> str:
    """Build (once, cached in /tmp across runs) a synthetic ``factor``-x
    probe corpus — near-dup documents, near-neighbor embeddings, and
    (``with_events``) hot-key events + 1x customer dim — and return its
    directory. Shared by the bench scale probe and scripts/mem_probe.py.
    The 100x variant (VERDICT r8 #5) skips the event tables: only the
    two cheapest dedup/ANN probes run there."""
    from pyspark.sql import functions as F

    probe_dir = f"/tmp/spark_graft_scale{factor}x_" \
                f"{os.path.basename(sf_dir.rstrip('/'))}"
    docs_path = f"{probe_dir}/documents.parquet"
    if not os.path.exists(f"{docs_path}/_SUCCESS"):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        (docs.select(
            "*", F.explode(F.sequence(
                F.lit(0), F.lit(factor - 1))).alias("_r"))
         .withColumn("doc_id",
                     F.col("doc_id") * factor + F.col("_r"))
         .withColumn("text", F.concat_ws(" ", "text",
                                         F.concat(F.lit("rep"), F.col("_r"))))
         .drop("_r")
         .repartition(32)
         .write.mode("overwrite").parquet(docs_path))
    # 10x embeddings for the ANN family: replica r perturbs dim 0 by
    # r/1000 (deterministic, keeps the corpus full of near-neighbors —
    # worst case for candidate pruning); query ids (vec_id < N_QUERIES)
    # keep their original vectors via replica 0.
    emb_path = f"{probe_dir}/embeddings.parquet"
    if not os.path.exists(f"{emb_path}/_SUCCESS"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        (emb.select(
            "*", F.explode(F.sequence(
                F.lit(0), F.lit(factor - 1))).alias("_r"))
         .withColumn("vec_id",
                     F.when(F.col("_r") == 0, F.col("vec_id"))
                      .otherwise(F.col("vec_id") * factor + F.col("_r")
                                 + 1_000_000))
         .withColumn("embedding", F.expr(
             "transform(embedding, (x, i) -> case when i = 0"
             " then cast(x + _r / 1000.0 as float) else x end)"))
         .drop("_r")
         .repartition(32)
         .write.mode("overwrite").parquet(emb_path))
    # The probe measures SCALING (does 10x data cost ~10x or ~100x?),
    # not point-in-time latency. Two independent noise sources measured
    # on this host: first-run cache-build/JIT cost, and hypervisor steal
    # (/proc/stat steal jiffies grow in bursts; identical runs measured
    # 6.6 s and 73 s wall). So each query runs 3x and the probe reports,
    # per query:
    #   - wall min-of-3 (keeps the quadratic-blowup signal, sheds noise)
    #   - JVM CPU seconds for the min-wall run (utime+stime of the local
    #     executor JVM — steal- and GC-pause-insensitive, the number
    #     that should reproduce across builder and driver runs)
    #   - host steal seconds observed during the min-wall run (so a
    #     noisy artifact is self-diagnosing)
    # 10x events with one hot user: replica 0 of every event is
    # reassigned to user_id 1 (so ~10% of the 10x corpus is one key);
    # other replicas get fresh user/event ids. The ts column is copied
    # verbatim (whatever encoding the source file uses — load_table
    # normalizes at read).
    # the customer DIM is copied 1x (unscaled) into the probe dir: dims
    # don't grow with the fact table — that asymmetry is what makes the
    # salted join's broadcast-explode side cheap
    if not with_events:
        return probe_dir
    cust_path = f"{probe_dir}/customer.parquet"
    if not os.path.exists(f"{cust_path}/_SUCCESS"):
        (spark.read.parquet(f"{sf_dir}/customer.parquet")
         .write.mode("overwrite").parquet(cust_path))
    ev_path = f"{probe_dir}/events.parquet"
    if not os.path.exists(f"{ev_path}/_SUCCESS"):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        (ev.select(
            "*", F.explode(F.sequence(
                F.lit(0), F.lit(factor - 1))).alias("_r"))
         .withColumn("user_id",
                     F.when(F.col("_r") == 0, F.lit(1).cast("bigint"))
                      .otherwise(F.col("user_id") * factor
                                 + F.col("_r")))
         .withColumn("event_id",
                     F.col("event_id") * factor + F.col("_r"))
         .drop("_r")
         .repartition(32)
         .write.mode("overwrite").parquet(ev_path))
    return probe_dir


def _dedup_scale_probe(spark, sf_dir: str) -> dict:
    """Time the dedup family on a synthetic 10x documents corpus to catch
    quadratic candidate blowup before real scale does (VERDICT r1 #8).

    Each source doc is replicated 10x with a per-replica suffix token, so
    replicas are near-duplicates of their siblings (worst-case dup
    density: every doc belongs to a 10-clique of near-dups). Sub-linear
    scaling here would flag pair-generation blowup. The corpus is built
    once and cached in /tmp across bench runs.
    """
    probe_dir = ensure_scale_corpus(spark, sf_dir)
    docs_path = f"{probe_dir}/documents.parquet"
    emb_path = f"{probe_dir}/embeddings.parquet"
    ev_path = f"{probe_dir}/events.parquet"

    out: dict[str, object] = {}
    cpu_s: dict[str, float] = {}
    steal_s: dict[str, float] = {}
    gc_s: dict[str, float] = {}
    for name in SCALE_QUERIES + ANN_SCALE_QUERIES + BEHAVIOR_SCALE_QUERIES:
        best = _best_of(spark, 3,
                        lambda: QUERIES[name](spark, probe_dir).count())
        out[name] = round(best.wall, 3)
        cpu_s[name] = round(best.cpu, 3)
        steal_s[name] = round(best.steal, 3)
        gc_s[name] = round(best.gc, 3)
    out["cpu_s"] = cpu_s
    out["steal_s"] = steal_s
    out["gc_s"] = gc_s
    # 1x reference points for probe-only queries (not in the headline
    # set), so the artifact carries both ends of the scaling line
    for name in BEHAVIOR_SCALE_QUERIES + ["embedding_pca_power_iteration",
                                          "dedup_cdc_chunking"]:
        best = _best_of(spark, 3,
                        lambda: QUERIES[name](spark, sf_dir).count())
        out[f"{name}_1x"] = round(best.wall, 3)
        cpu_s[f"{name}_1x"] = round(best.cpu, 3)
    out["runs"] = 3
    out["rows"] = spark.read.parquet(docs_path).count()
    out["emb_rows"] = spark.read.parquet(emb_path).count()
    out["event_rows"] = spark.read.parquet(ev_path).count()
    # 100x probe point (VERDICT r8 #5): one decade beyond the 10x line
    # on the two cheapest probes — a superlinear term shows up here two
    # orders of magnitude before production scale, at ~minutes of cost.
    # min-of-2 (cost-bounded), cpu/steal for the min-wall run.
    probe100 = ensure_scale_corpus(spark, sf_dir, factor=100,
                                   with_events=False)
    # r11 continuation: cdc_chunking joins the decade line (measured
    # 1.6 s / 3.8 s / ~12 s at 1x/10x/100x — per-char scan stays linear,
    # fixed overheads amortize)
    for name in ("dedup_exact", "ann_lsh_bucketed", "dedup_cdc_chunking"):
        best = _best_of(spark, 2,
                        lambda: QUERIES[name](spark, probe100).count())
        out[f"{name}_100x"] = round(best.wall, 3)
        cpu_s[f"{name}_100x"] = round(best.cpu, 3)
        steal_s[f"{name}_100x"] = round(best.steal, 3)
    # AQE-vs-manual-salt on the same hot-key corpus (VERDICT r7 #5):
    # times the UNSALTED shuffle join under (a) AQE defaults and (b)
    # AQE skew-join with thresholds scaled to probe size, next to the
    # salted plan — so SCALE.md §3 can state with numbers when manual
    # salting beats AQE's OptimizeSkewedJoin.
    out["aqe_vs_salt"] = _aqe_vs_salt_probe(spark, probe_dir)
    # Sketch-tuning audit (SCALE.md §7): band-miss recall of the 16/4
    # MinHash config vs the exact-Jaccard pair set, at 1x, at the
    # worst-case-density 10x corpus, and (VERDICT r9 #4) at 100x — the
    # r9 100x decade measured COST only; this measures the QUALITY half
    # (recall + band misses) two decades out. The 100x exact-pair set
    # is 27M pairs (~6.5 min), so its RESULT is cached next to the
    # cached 100x corpus (recall is a deterministic property of that
    # corpus — recomputing it per run measures nothing new); delete the
    # /tmp probe dir to force a remeasure.
    for label, d in (("1x", sf_dir), ("10x", probe_dir),
                     ("100x", probe100)):
        cache = f"{d}/minhash_recall_{label}.json" if label == "100x" \
            else None
        if cache and os.path.exists(cache):
            with open(cache) as fh:
                rec = json.load(fh)
            # VERDICT r12 "what's wrong" #1: never present a cached
            # wall-time as if it were re-measured — flag it and carry
            # the mtime of the measuring run so BENCH_r{N}.json shows
            # when the number actually came from
            rec["sec_cached"] = True
            rec["sec_measured_at"] = time.strftime(
                "%Y-%m-%dT%H:%M:%SZ",
                time.gmtime(os.path.getmtime(cache)))
            out[f"minhash_recall_{label}"] = rec
            continue
        t0 = time.perf_counter()
        row = QUERIES["dedup_minhash_recall"](spark, d).collect()[0]
        rec = {"recall": row["recall"], "exact_pairs": row["exact_pairs"],
               "band_missed": row["band_missed"],
               "sec": round(time.perf_counter() - t0, 3)}
        out[f"minhash_recall_{label}"] = rec
        if cache:
            with open(cache, "w") as fh:
                json.dump(rec, fh)
    return out


TPCH_PROBE_QUERIES = ["q1_pricing_summary", "q3_shipping_priority",
                      "q5_local_supplier_volume", "q9_type_profit",
                      "q18_large_orders",
                      # r12 (VERDICT r11 item 8): the remaining
                      # fact-fact-heavy shapes — two-nation flow join
                      # q7, and q21's triple lineitem self-join with
                      # exists/not-exists semi/anti legs
                      "q7_volume_shipping", "q21_sole_late_supplier"]
TPCH_SCALE_FACTOR = 10


def ensure_tpch_scale_corpus(spark, sf_dir: str,
                             factor: int = TPCH_SCALE_FACTOR) -> str:
    """Build (once, cached in /tmp) a ``factor``-x TPC-H fact corpus:
    orders and lineitem replicated with shifted orderkeys (replica r of
    order k becomes k*factor + r, so the orders<->lineitem join stays
    referentially intact), every dim copied 1x — facts grow, dims
    don't, which is exactly the 100 TB asymmetry the headline plans
    bet on (broadcastable dims, fact-keyed shuffles)."""
    from pyspark.sql import functions as F

    # freshness fingerprint (ADVICE r11): key the cache on the source
    # corpus's orders row count, not just the sf_dir basename, so a
    # regenerated testdata corpus can't silently reuse a stale replica
    # (parquet count() is metadata-only — no scan)
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    probe_dir = f"/tmp/spark_graft_tpch{factor}x_" \
                f"{os.path.basename(sf_dir.rstrip('/'))}_{n_orders}"
    for t in ("region", "nation", "customer", "supplier", "part"):
        path = f"{probe_dir}/{t}.parquet"
        if not os.path.exists(f"{path}/_SUCCESS"):
            (spark.read.parquet(f"{sf_dir}/{t}.parquet")
             .write.mode("overwrite").parquet(path))
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        path = f"{probe_dir}/{t}.parquet"
        if not os.path.exists(f"{path}/_SUCCESS"):
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            (df.select("*", F.explode(F.sequence(
                F.lit(0), F.lit(factor - 1))).alias("_r"))
             .withColumn(key, F.col(key) * factor + F.col("_r"))
             .drop("_r")
             .repartition(32)
             .write.mode("overwrite").parquet(path))
    return probe_dir


DAYGRAIN_PROBE_QUERIES = ["stats_durbin", "stats_cochran_q",
                          "stats_seasonal_mann_kendall"]


def _fact_scale_probe(spark, sf_dir: str, names: list[str]) -> dict:
    """Decade line over the 10x fact replica (orders and lineitem grow,
    dims don't): min-of-2 wall and cpu of each query at 1x and 10x, plus
    their wall ratio. Sub-linear wall growth is expected at this size
    (fixed costs amortize); anything super-linear flags a plan that broke
    its bet.

    - ``TPCH_PROBE_QUERIES``: the reference-parity JOIN/AGG plans (scan-agg
      q1, topk join q3, 6-way join q5, heaviest join-agg q9, fact-fact
      semi q18, two-nation flow q7, triple-lineitem semi/anti q21 — every
      multi-join class) must keep their broadcast/pushdown bet.
    - ``DAYGRAIN_PROBE_QUERIES`` (r13): the within-block / trend /
      incidence stats aggregate to calendar- or customer-bounded grids
      before any window or self-join, so the post-scan math is constant
      and wall should grow far sub-linearly (scan-bound); super-linear
      means a stat leaked row-grain work past its grid aggregate."""
    probe_dir = ensure_tpch_scale_corpus(spark, sf_dir)
    out: dict[str, object] = {}
    for name in names:
        row: dict[str, float] = {}
        for label, d in (("1x", sf_dir), ("10x", probe_dir)):
            best = _best_of(spark, 2, lambda: QUERIES[name](spark, d).count())
            row[f"wall_{label}"] = round(best.wall, 3)
            row[f"cpu_{label}"] = round(best.cpu, 2)
        row["wall_ratio"] = round(row["wall_10x"]
                                  / max(row["wall_1x"], 1e-9), 2)
        out[name] = row
    return out


class _Best(NamedTuple):
    wall: float
    cpu: float
    steal: float
    gc: float
    result: Any


def _best_of(spark, n: int, fn: Callable[[], Any]) -> _Best:
    """Run ``fn`` ``n`` times and return the min-wall run: its wall, and
    the JVM cpu, host steal and JVM gc seconds spent around it, with what
    ``fn`` returned. Only ``fn`` is inside the wall timer."""
    best = None
    for _ in range(n):
        g0 = _jvm_gc_seconds(spark)
        c0, s0 = _jvm_cpu_seconds(), _host_steal_seconds()
        t0 = time.perf_counter()
        result = fn()
        wall = time.perf_counter() - t0
        if best is None or wall < best.wall:
            best = _Best(wall, _jvm_cpu_seconds() - c0,
                         _host_steal_seconds() - s0,
                         _jvm_gc_seconds(spark) - g0, result)
    return best


def _min3(spark, fn) -> dict:
    """min-of-3 wall + cpu/gc for the min-wall run (same methodology as
    the headline loop)."""
    best = _best_of(spark, 3, fn)
    return {"wall_s": round(best.wall, 3), "cpu_s": round(best.cpu, 3),
            "gc_s": round(best.gc, 3)}


def _aqe_vs_salt_probe(spark, probe_dir: str) -> dict:
    """Side-by-side on the 10x hot-key corpus (user_id 1 carries ~10% of
    fact rows), with broadcast DISABLED — the regime salting exists for
    (dim too big to broadcast at real scale):

      plain_aqe_default    unsalted shuffle join, AQE skew-join at its
                           default thresholds (256 MB partitions — far
                           above probe size, so the hot partition stays
                           whole: the 'one reducer drags' baseline)
      plain_aqe_skew_tuned same join with skew thresholds scaled to the
                           probe (100 KB threshold/advisory, factor 1.2
                           — the hot partition is only ~MBs compressed
                           at probe scale) so OptimizeSkewedJoin
                           actually splits the hot partition, the way it
                           would at 100 TB under defaults
      salted               the manual salted plan (SALT_BUCKETS-way)

    aqe_skew_fired records whether the tuned run's final plan shows a
    skew=true sort-merge join — evidence the split actually happened
    rather than a mis-tuned no-op. The evidence query COLLECTS ITS OWN
    DataFrame (df.count() executes a different QueryExecution and
    leaves df's own plan isFinalPlan=false — measured), and the agg
    keeps a value sum so column pruning can't strip the shuffle down
    to bare keys."""
    from gmall_211027_flink_spark.catalog import load_table
    from gmall_211027_flink_spark.operators.joins import salted_join

    ev = load_table(spark, probe_dir, "events").select(
        "event_id", "user_id", "value")
    cust = load_table(spark, probe_dir, "customer").select(
        "c_custkey", "c_nationkey")

    def _agg(j):
        return j.groupBy("c_nationkey").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("vs"))

    def plain():
        return _agg(ev.join(cust, ev.user_id == cust.c_custkey))

    def salted():
        return _agg(salted_join(ev, cust, "user_id", "c_custkey",
                                "event_id"))

    conf = spark.conf
    keys = ["spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor"]
    saved = {k: conf.get(k) for k in keys}
    res: dict[str, object] = {}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        res["plain_aqe_default"] = _min3(spark, lambda: plain().count())
        conf.set("spark.sql.adaptive.skewJoin"
                 ".skewedPartitionThresholdInBytes", "100k")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100k")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
        res["plain_aqe_skew_tuned"] = _min3(spark, lambda: plain().count())
        probe_df = plain()
        probe_df.collect()
        res["aqe_skew_fired"] = "skew=true" in (
            probe_df._jdf.queryExecution().executedPlan().toString())
        for k in ("spark.sql.adaptive.skewJoin"
                  ".skewedPartitionThresholdInBytes",
                  "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                  "spark.sql.adaptive.skewJoin.skewedPartitionFactor"):
            conf.set(k, saved[k])
        res["salted"] = _min3(spark, lambda: salted().count())
    except Exception as exc:   # probe must never fail the bench
        res["error"] = str(exc)[:200]
    finally:
        for k, v in saved.items():
            try:
                conf.set(k, v)
            except Exception:
                pass
    return res


def _jvm_gc_seconds(spark) -> float:
    """Cumulative JVM GC time in seconds, summed over all collectors via
    ``GarbageCollectorMXBean.getCollectionTime`` (VERDICT r6 #4).  Deltas
    around a run attribute cpu_s growth to heap pressure (GC) vs plan
    change — the r6 probe saw cpu_s double on unchanged dedup code and
    the artifact couldn't say why.  0.0 if the JVM gateway is unreachable
    (never fails the bench)."""
    try:
        jvm = spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime()
                   for i in range(beans.size())) / 1000.0
    except Exception:
        return 0.0


def _jvm_cpu_seconds() -> float:
    """CPU seconds (utime+stime) of the local-mode executor JVM — the
    direct child 'java' process of this Python driver. 0.0 if not found
    (non-local master)."""
    import glob
    me = os.getpid()
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            raw = open(stat).read()
        except OSError:
            continue
        # comm may contain spaces/parens: split around the LAST ')'
        head, _, rest = raw.rpartition(")")
        comm = head.split("(", 1)[-1]
        fields = rest.split()
        if "java" in comm and fields and int(fields[1]) == me:
            utime, stime = int(fields[11]), int(fields[12])
            return (utime + stime) / os.sysconf("SC_CLK_TCK")
    return 0.0


def _host_steal_seconds() -> float:
    """Cumulative hypervisor-steal seconds across all CPUs (/proc/stat
    'cpu' line, field 8). Deltas around a run expose noisy-host windows."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _grid_rank_probe(spark, sf_dir: str) -> dict:
    """A/B for SCALE.md §16: exact global median rank over orders via
    the single-task `row_number() OVER (ORDER BY ...)` vs the two-level
    grid_rank, at 1x and on the 10x fact replica.  Identical answers
    (asserted); the wall/cpu gap is the measured cost of the one-task
    sort that the r12 rework removed from six queries."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from gmall_211027_flink_spark.operators.ranks import grid_rank

    probe_dir = ensure_tpch_scale_corpus(spark, sf_dir)
    # 100x orders-only replica (the 10x point sits near the local
    # crossover, so the decisive measurement needs another decade;
    # same freshness-keyed /tmp cache scheme as the TPC-H corpus)
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    dir100 = (f"/tmp/spark_graft_rank100x_"
              f"{os.path.basename(sf_dir.rstrip('/'))}_{n_orders}")
    path100 = f"{dir100}/orders.parquet"
    if not os.path.exists(f"{path100}/_SUCCESS"):
        (spark.read.parquet(f"{sf_dir}/orders.parquet")
         .select("o_totalprice", "o_orderkey")
         .select("*", F.explode(F.sequence(F.lit(0), F.lit(99)))
                 .alias("_r"))
         .withColumn("o_orderkey",
                     F.col("o_orderkey") * 100 + F.col("_r"))
         .drop("_r")
         .repartition(32)
         .write.mode("overwrite").parquet(path100))
    out: dict[str, object] = {}
    for label, d in (("1x", sf_dir), ("10x", probe_dir),
                     ("100x", dir100)):
        orders = (spark.read.parquet(f"{d}/orders.parquet")
                  .select("o_totalprice", "o_orderkey"))
        n = orders.count()
        k_med = (n + 1) // 2
        answers = {}
        for name, ranked in (
            ("two_level", grid_rank(
                orders, ["o_totalprice", "o_orderkey"],
                F.floor(F.col("o_totalprice") / 10000).cast("bigint"))),
            ("single_task", orders.select(
                "o_totalprice",
                F.row_number().over(
                    Window.orderBy("o_totalprice", "o_orderkey"))
                .cast("bigint").alias("rk"))),
        ):
            best = _best_of(spark, 2, lambda: ranked.filter(
                F.col("rk") == k_med).select("o_totalprice").first())
            answers[name] = best.result["o_totalprice"]
            out[f"{name}_wall_{label}"] = round(best.wall, 3)
            out[f"{name}_cpu_{label}"] = round(best.cpu, 2)
        if answers["two_level"] != answers["single_task"]:
            raise RuntimeError(
                f"grid_rank probe: median mismatch at {label}: "
                f"{answers}")
        out[f"speedup_{label}"] = round(
            out[f"single_task_wall_{label}"]
            / max(out[f"two_level_wall_{label}"], 1e-9), 2)
    return out


if __name__ == "__main__":
    main()
