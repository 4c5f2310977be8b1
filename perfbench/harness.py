"""One benchmark run: set-up, measured passes (with tracing, interleaved
with traced ones), and the metric records ``run.py`` prints."""

from __future__ import annotations

import time
from pathlib import Path

from probes import (ProcessTree, SparkStatus, host_steal_s, median,
                    tail_percentile)
from session import BenchSession
from spans import Tracer, clip, self_times, union_s
from workloads import STREAM_PATHS, PassRecord

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms",
             "op_tail_ms": "ms", "cpu_s": "s", "rss_off_heap_mb": "MB",
             "heap_live_mb": "MB"}

LAYER_UNITS = {
    "catalog.calls": "count", "catalog.busy_s": "s",
    "catalog.op_share": "ratio",
    "build.self_s": "s", "build.jobs": "count",
    "exec.driver_s": "s", "exec.task_s": "s", "exec.scan_s": "s",
    "exec.shuffle_bytes": "B", "exec.spill_bytes": "B",
    "exec.peak_mem_bytes": "B", "exec.task_skew": "ratio",
    "exec.python_bytes": "B",
    "pyworker.cpu_s": "s",
    "streaming.add_batch_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    **{f"streaming.{p}.rows_per_s": "1/s" for p in STREAM_PATHS},
    "state.commit_ms": "ms", "state.rows_total": "count",
    "state.memory_bytes": "B", "state.rows_dropped_by_watermark": "count",
    "state.rocksdb_commit_flush_ms": "ms",
    "state.rocksdb_commit_checkpoint_ms": "ms",
    "state.rocksdb_commit_file_sync_ms": "ms",
    "jvm.gc_s": "s", "jvm.cpu_s": "s", "host.steal_s": "s",
    "trace.spans": "count", "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


def inside(t: float, intervals: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in intervals)


class Bench:
    def __init__(self, root: Path, work: Path, workload_cls, seed: int,
                 seconds: float, trace: bool, size: float = 1.0):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size          # input size, as a share of the default
        self.session = BenchSession(root, work)
        self.tracer = Tracer(enabled=False)
        self.workload = workload_cls(self)
        self.spark = None
        self.setup_phases: dict[str, float] = {}
        self._pass_no = 0

    # --- phases -------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        wl = self.workload
        t0 = time.perf_counter()
        wl.prepare()      # inputs and expected outputs: not set-up
        t1 = time.perf_counter()
        self.spark = self.session.start()
        from gmall_211027_flink_spark.registry import (ORACLES, QUERIES,
                                                        load_all)
        load_all()
        self.queries, self.oracles = QUERIES, ORACLES
        self.procs = ProcessTree(self.session.jvm_pid)
        self.status = SparkStatus(self.spark)
        t2 = time.perf_counter()
        wl.warm()
        t3 = time.perf_counter()
        setup_s = t3 - t1
        self.setup_phases = {"inputs_s": t1 - t0, "session_s": t2 - t1,
                             "warm_s": t3 - t2}

        if self.trace:
            self.tracer.patch_catalog()
        try:
            passes, traced = self.measure()
        finally:
            self.tracer.unpatch()
        memory = {"rss_off_heap_mb": self.procs.peak_rss_mb()
                  - self.status.heap_committed_mb(),
                  "heap_live_mb": self.status.heap_live_mb()}
        if self.trace:
            self.tracer.write(self.root / ".perfbench" / "traces" /
                              f"{wl.name}-seed{self.seed}.json")
        return self.summarize(passes, traced, setup_s, memory)

    def summarize(self, passes: list[PassRecord], traced: list[PassRecord],
                  setup_s: float, memory: dict[str, float]
                  ) -> tuple[dict, dict]:
        """The detail record and the result line of a finished run."""
        wl = self.workload
        records = [o for p in passes + traced for o in p.ops]
        attempted = len(records)
        failed = sum(1 for o in records if not o.ok)
        # an op that raised is as wrong as one that returned wrong rows:
        # either way its output was not the right one
        correct = failed == 0
        e2e, detail = self.end_to_end(passes, setup_s, memory)
        detail.update(workload=wl.name, seed=self.seed,
                      setup_phases=self.setup_phases,
                      failed_ratio=failed / max(1, attempted),
                      wrong_output=sum(o.mismatch for o in records),
                      session=self.session.settings, size=self.size)
        if self.trace:
            metrics = self.per_layer(traced, passes)
            detail["trace_file"] = str(Path(".perfbench") / "traces" /
                                       f"{wl.name}-seed{self.seed}.json")
        else:
            metrics = e2e
        units = LAYER_UNITS if self.trace else E2E_UNITS
        result = {"correct": correct, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": float(metrics[k]), "unit": u}
                              for k, u in units.items()}}
        return detail, result

    def measure(self) -> tuple[list[PassRecord], list[PassRecord]]:
        """A fixed number of passes, set by ``seconds`` and the workload,
        never by how fast they go.

        With tracing, n // 2 rounds, and at least two, of one untraced
        and one traced pass in alternating order (ABBA): both sides see
        the same JIT and cache state, a trend across passes (JIT warm-up)
        cancels, and their difference is the tracing overhead."""
        n = self.workload.n_passes(self.seconds)
        plain: list[PassRecord] = []
        traced: list[PassRecord] = []
        if not self.trace:
            plain = [self._one_pass() for _ in range(n)]
            return plain, traced
        for r in range(max(2, n // 2)):
            for on in ([False, True] if r % 2 == 0 else [True, False]):
                self.tracer.enabled = on
                (traced if on else plain).append(self._one_pass())
            self.tracer.enabled = False
        return plain, traced

    def _one_pass(self) -> PassRecord:
        gc0, st0, w0 = self.status.gc_s(), host_steal_s(), time.time()
        ops = self.workload.run_pass(self._pass_no)
        self._pass_no += 1
        return PassRecord(ops, self.status.gc_s() - gc0,
                          host_steal_s() - st0, w0, time.time(),
                          list(self.workload.last_batches))

    def close(self) -> None:
        try:
            self.session.stop()
        finally:
            self.session.clean()

    # --- metrics ------------------------------------------------------------

    def end_to_end(self, passes: list[PassRecord], setup_s: float,
                   memory: dict[str, float]) -> tuple[dict, dict]:
        wl = self.workload
        lat = wl.latencies(passes)
        tail_p, tail_v, n = tail_percentile(lat)
        pass_s = median([p.wall_s for p in passes])
        e2e = {"setup_s": setup_s, "pass_s": pass_s,
               "op_p50_ms": median(lat) * 1000.0,
               "op_tail_ms": tail_v * 1000.0,
               "cpu_s": median([p.cpu_s("total") for p in passes]),
               **memory}
        by_kind: dict[str, list[float]] = {}
        by_name: dict[str, list[float]] = {}
        for p in passes:
            for o in p.ops:
                if o.ok:
                    by_kind.setdefault(o.kind, []).append(o.wall_s)
                    by_name.setdefault(o.name, []).append(o.wall_s)
        detail = {
            "metrics_e2e": e2e, "passes": len(passes),
            "pass_s_each": [p.wall_s for p in passes],
            "steal_s_each": [p.steal_s for p in passes],
            "op_kind": self.workload.latency_kind,
            "op_tail_percentile": tail_p, "op_samples": n,
            "p50_ms_by_op_kind": {k: median(v) * 1000.0
                                  for k, v in by_kind.items()},
            "p50_ms_by_op": {k: median(v) * 1000.0
                             for k, v in sorted(by_name.items())},
            "ops_per_pass": len(passes[0].ops),
            **wl.throughput(passes[0], pass_s),
        }
        return e2e, detail

    def per_layer(self, traced: list[PassRecord],
                  untraced: list[PassRecord]) -> dict[str, float]:
        n = len(traced)
        spans = self.tracer.spans
        self.status.sync()
        windows = [(p.start, p.end) for p in traced]
        jobs = [j for j in self.status.jobs()
                if j["start"] is not None and inside(j["start"], windows)]
        m: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}

        cat = [s for s in spans if s.layer == "catalog"]
        cat_ids = {s.id for s in cat}
        top = [(s.start, s.end) for s in cat if s.parent not in cat_ids]
        op_time = sum(s.end - s.start for s in spans if s.layer == "op")
        m["catalog.calls"] = len(top) / n
        m["catalog.busy_s"] = union_s(top) / n
        m["catalog.op_share"] = union_s(top) / op_time if op_time else 0.0

        selfs = self_times(spans)
        m["build.self_s"] = selfs.get("build", 0.0) / n
        build = [(s.start, s.end) for s in spans if s.layer == "build"]
        execs = [(s.start, s.end) for s in spans if s.layer == "exec"]
        m["build.jobs"] = sum(inside(j["start"], build) for j in jobs) / n
        job_ivs = [(j["start"], j["end"] or j["start"]) for j in jobs]
        m["exec.driver_s"] = sum(
            (b - a) - union_s(clip(job_ivs, a, b)) for a, b in execs) / n

        stages = [self.status.stage(sid) for j in jobs
                  if inside(j["start"], execs) for sid in j["stages"]]
        stages = [s for s in stages if s and s["start"] is not None]
        m["exec.task_s"] = sum(s["task_s"] for s in stages) / n
        m["exec.shuffle_bytes"] = sum(s["shuffle_bytes"] for s in stages) / n
        m["exec.spill_bytes"] = sum(s["spill_bytes"] for s in stages) / n
        m["exec.peak_mem_bytes"] = max(
            [s["peak_mem_bytes"] for s in stages], default=0)
        m["exec.task_skew"] = max(
            [s["skew"] for s in stages if s["tasks"] > 1], default=1.0)
        sql = self.status.sql_metrics(windows)
        m["exec.scan_s"] = sql.get("scan time", 0.0) / n
        m["exec.python_bytes"] = (
            sql.get("data sent to Python workers", 0.0)
            + sql.get("data returned from Python workers", 0.0)) / n

        m["pyworker.cpu_s"] = sum(p.cpu_s("pyworker") for p in traced) / n
        m["jvm.cpu_s"] = sum(p.cpu_s("jvm") for p in traced) / n
        m["jvm.gc_s"] = sum(p.gc_s for p in traced) / n
        m["host.steal_s"] = sum(p.steal_s for p in traced) / n

        m.update(self._streaming(traced))

        m["trace.spans"] = len(spans) / n
        m["trace.overhead_s"] = self.tracer.overhead_s / n
        base = median([p.wall_s for p in untraced])
        m["trace.overhead_share"] = (
            median([p.wall_s for p in traced]) - base) / base
        return m

    @staticmethod
    def _streaming(traced: list[PassRecord]) -> dict[str, float]:
        batches = [b for p in traced for b in p.batches]
        n = len(traced)
        m: dict[str, float] = {}
        if not batches:
            return m

        def dur(key):
            return median([b["durationMs"].get(key, 0) for b in batches])
        m["streaming.add_batch_ms"] = dur("addBatch")
        m["streaming.planning_ms"] = dur("queryPlanning")
        m["streaming.wal_commit_ms"] = dur("walCommit")
        m["streaming.commit_offsets_ms"] = dur("commitOffsets")
        for path in STREAM_PATHS:
            mine = [b for b in batches if b["path"] == path]
            secs = sum(b["durationMs"]["triggerExecution"] for b in mine) / 1e3
            rows = sum(b["numInputRows"] for b in mine)
            m[f"streaming.{path}.rows_per_s"] = rows / secs if secs else 0.0
        ops = [(b, o) for b in batches for o in b.get("stateOperators", [])]
        if not ops:
            return m

        def per_batch(key: str, custom: bool = False) -> float:
            """Median over stateful batches of the sum over operators."""
            sums: dict[int, float] = {}
            for b, o in ops:
                v = (o.get("customMetrics", {}) if custom else o).get(key, 0)
                sums[id(b)] = sums.get(id(b), 0.0) + v
            return median(list(sums.values()))
        m["state.commit_ms"] = per_batch("commitTimeMs")
        m["state.rocksdb_commit_flush_ms"] = per_batch(
            "rocksdbCommitFlushLatency", custom=True)
        m["state.rocksdb_commit_checkpoint_ms"] = per_batch(
            "rocksdbCommitCheckpointLatency", custom=True)
        m["state.rocksdb_commit_file_sync_ms"] = per_batch(
            "rocksdbCommitFileSyncLatencyMs", custom=True)
        m["state.rows_total"] = max(o.get("numRowsTotal", 0) for _, o in ops)
        m["state.memory_bytes"] = max(o.get("memoryUsedBytes", 0)
                                      for _, o in ops)
        m["state.rows_dropped_by_watermark"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for _, o in ops) / n
        return m
