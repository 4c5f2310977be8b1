"""The workloads. Each one generates its inputs from the seed,
warms the session during set-up, then runs measured passes: a pass is a
fixed, seeded sequence of operations, so every pass does the same work.

- ``ads_serving``: one dashboard client in a closed loop over ADS
  publisher queries, with table refreshes between reads.
- ``stream_ingest``: time-ordered event files replayed one file per
  micro-batch through three streaming paths.

An operation's timed part calls into the program; its check runs after
the clock stops. An operation that raises or fails its check counts as
failed; the run goes on.
"""

from __future__ import annotations

import importlib.util
import json
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime
from decimal import Decimal
from pathlib import Path
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa

import datagen


@dataclass
class Op:
    kind: str
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]] | None = None


@dataclass
class OpRecord:
    kind: str
    name: str
    wall_s: float
    ok: bool
    cpu_s: dict[str, float] = field(default_factory=dict)
    mismatch: bool = False


@dataclass
class PassRecord:
    ops: list[OpRecord]
    gc_s: float
    steal_s: float
    start: float
    end: float
    batches: list[dict]

    @property
    def wall_s(self) -> float:
        """Timed time of the pass: its operations, not their checks."""
        return sum(o.wall_s for o in self.ops)

    def cpu_s(self, part: str) -> float:
        return sum(o.cpu_s.get(part, 0.0) for o in self.ops)


def run_op(op: Op, ctx) -> OpRecord:
    """Time one operation, then check its output outside the timed part."""
    cpu0 = ctx.procs.cpu()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(op.name, "op"):
            result = op.run()
    except Exception:  # a failed op is counted, never fatal
        print(f"op {op.kind}:{op.name} failed:\n{traceback.format_exc()}",
              file=sys.stderr)
        return OpRecord(op.kind, op.name, time.perf_counter() - t0, False)
    wall = time.perf_counter() - t0
    cpu1 = ctx.procs.cpu()
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    ctx.tracer.op += 1
    if op.check is None:
        return OpRecord(op.kind, op.name, wall, True, cpu)
    try:
        problems = op.check(result)
    except Exception:
        problems = [traceback.format_exc()]
    if problems:
        print(f"op {op.kind}:{op.name} wrong output: {problems}",
              file=sys.stderr)
    return OpRecord(op.kind, op.name, wall, not problems, cpu, bool(problems))


def load_check_module(root: Path):
    """The repository's oracle comparison (``scripts/check.py``).

    That script puts a fixed directory first on ``sys.path`` and then
    imports the package; the package is imported here first, so the
    benchmark always measures and checks the copy in this checkout, and
    ``sys.path`` is put back afterwards."""
    import gmall_211027_flink_spark  # noqa: F401
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", root / "scripts" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    return [tuple(r) for r in pdf.itertuples(index=False, name=None)]


class Workload:
    name = ""
    latency_kind = ""          # op kind whose latency is op_p50/op_tail
    last_batches: tuple = ()   # micro-batch progress of the last pass
    # a measured run makes round(seconds / nominal_pass_s) passes, at
    # least min_passes: the sample count behind every median and tail is
    # the same on every commit, however fast the program has become
    nominal_pass_s = 1.0
    min_passes = 2

    def __init__(self, ctx):
        self.ctx = ctx

    def n_passes(self, seconds: float) -> int:
        return max(self.min_passes, round(seconds / self.nominal_pass_s))

    def samples_per_pass(self) -> int:
        """Latency samples one pass yields (op_p50_ms, op_tail_ms)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Generate inputs and expected outputs (before set-up, untimed)."""

    def warm(self) -> None:
        """One unmeasured pass so JIT, codegen and first-use costs land
        in set-up, not in the timed operations."""
        for op in self.pass_ops(-1):
            rec = run_op(op, self.ctx)
            if not rec.ok:
                raise RuntimeError(f"warm-up op {op.name} failed")

    def pass_ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def run_pass(self, pass_no: int) -> list[OpRecord]:
        return [run_op(op, self.ctx) for op in self.pass_ops(pass_no)]

    def latencies(self, passes: list[PassRecord]) -> list[float]:
        """Samples behind op_p50_ms and op_tail_ms, in seconds."""
        return [o.wall_s for p in passes for o in p.ops
                if o.kind == self.latency_kind and o.ok]

    def throughput(self, one_pass: PassRecord, pass_s: float) -> dict:
        return {}


# --- ads_serving --------------------------------------------------------------

# Panels that go through plans/ads.py ``_sql``: each call registers all
# ten tables as views before it plans, so the catalog dominates.
ADS_SQL_PANELS = (
    "ads_union_metrics", "ads_traffic_channel_stats",
    "ads_supplier_scorecard", "ads_funnel_view_click_purchase",
)
# Panels built with the DataFrame API over the one table they read.
ADS_TABLE_PANELS = (
    "ads_pivot_status_by_priority", "ads_cube_returnflag_linestatus",
    "ads_unpivot_metrics",
)
ADS_QUERIES = ADS_SQL_PANELS + ADS_TABLE_PANELS
# table -> (column whose values a refresh re-draws, SQL panels whose rows
# change when it does; ads_unpivot_metrics also reads o_totalprice)
ADS_REFRESH = {
    "events": ("value", ("ads_traffic_channel_stats",)),
    "orders": ("o_totalprice", ("ads_union_metrics",)),
    "lineitem": ("l_extendedprice", ("ads_supplier_scorecard",)),
}
ADS_SF = 0.005               # table scale factor at size 1
ADS_READS_PER_QUERY = 2      # reads of each ADS query in one pass
ADS_REFRESH_AFTER = 7        # one refresh per pass, after this many reads
ADS_REFRESH_SHARE = 0.02     # share of a table's rows one refresh changes


class AdsServing(Workload):
    name = "ads_serving"
    latency_kind = "read"
    nominal_pass_s = 15.0

    def samples_per_pass(self) -> int:
        return ADS_READS_PER_QUERY * len(ADS_QUERIES)

    def prepare(self) -> None:
        c = self.ctx
        self.dir = c.work / "tables"
        self.tables = datagen.write_tables(self.dir, c.seed, ADS_SF * c.size)
        self.check = load_check_module(c.root)
        self.duck = self.check.duck_conn(str(self.dir))
        self.rng = np.random.default_rng(c.seed + 1)

    def read(self, name: str) -> pd.DataFrame:
        c = self.ctx
        with c.tracer.span(name, "build"):
            df = c.queries[name](c.spark, str(self.dir))
        with c.tracer.span(name, "exec"):
            return df.toPandas()

    def refresh(self, table: str, reader: str) -> pd.DataFrame:
        """Rewrite ``table`` with a seeded change, then read a panel that
        depends on it: the latency until the change is visible."""
        col, _ = ADS_REFRESH[table]
        t = self.tables[table]
        values = t.column(col).to_numpy().copy()
        n = max(1, int(ADS_REFRESH_SHARE * len(values)))
        idx = self.rng.choice(len(values), n, replace=False)
        values[idx] = np.round(values[idx] * self.rng.uniform(0.5, 1.5, n), 2)
        t = t.set_column(t.schema.get_field_index(col), col, pa.array(values))
        self.tables[table] = t
        with self.ctx.tracer.span(f"refresh.{table}", "write"):
            datagen.write_table(t, self.dir / f"{table}.parquet")
        return self.read(reader)

    def warm(self) -> None:
        # a refresh is a pyarrow write plus a read of a warmed query, so
        # warming the reads warms the whole pass
        for name in ADS_QUERIES:
            self.read(name)

    def throughput(self, one_pass: PassRecord, pass_s: float) -> dict:
        reads = sum(1 for o in one_pass.ops if o.kind == "read")
        return {"ads_reads_per_s": reads / pass_s}

    def oracle_check(self, name: str) -> Callable[[pd.DataFrame], list[str]]:
        def check(pdf: pd.DataFrame) -> list[str]:
            ddf = self.duck.execute(self.ctx.oracles[name]).fetchdf()
            return self.check.compare(name, _rows(pdf), list(pdf.columns),
                                      _rows(ddf), list(ddf.columns))
        return check

    def pass_ops(self, pass_no: int) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, pass_no + 1])
        ops: list[Op] = []
        for i, name in enumerate(rng.permutation(
                ADS_QUERIES * ADS_READS_PER_QUERY)):
            name = str(name)
            ops.append(Op("read", name, lambda n=name: self.read(n),
                          self.oracle_check(name)))
            if i + 1 == ADS_REFRESH_AFTER:
                table = str(rng.choice(sorted(ADS_REFRESH)))
                reader = str(rng.choice(ADS_REFRESH[table][1]))
                ops.append(Op("refresh", f"{table}->{reader}",
                              lambda t=table, r=reader: self.refresh(t, r),
                              self.oracle_check(reader)))
        return ops


# --- stream_ingest ------------------------------------------------------------

STREAM_EVENTS = 4000         # events per measured replay, at size 1
STREAM_FILES = 4             # one micro-batch each
STREAM_USERS = 300
WARM_EVENTS, WARM_FILES = 200, 1
STREAM_TIMEOUT_S = 120       # a replay still running after this has failed
WINDOW, WATERMARK = "10 seconds", "2 seconds"
STREAM_PATHS = ("tumbling_agg", "daily_unique", "incremental_agg")


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamIngest(Workload):
    name = "stream_ingest"
    latency_kind = "batch"
    nominal_pass_s = 13.0

    def samples_per_pass(self) -> int:
        """One micro-batch per file and path; a path may add a no-data
        batch that only moves the watermark."""
        return STREAM_FILES * len(STREAM_PATHS)

    def prepare(self) -> None:
        c = self.ctx
        self.warm_dir = c.work / "warm_events"
        self.dir = c.work / "events"
        datagen.write_event_files(self.warm_dir, c.seed + 7, WARM_EVENTS,
                                  WARM_FILES, STREAM_USERS)
        parts = datagen.write_event_files(
            self.dir, c.seed, max(STREAM_FILES, round(STREAM_EVENTS * c.size)),
            STREAM_FILES, STREAM_USERS)
        frames = []
        for i, p in enumerate(parts):
            f = p.to_pandas()
            f["arrival"] = i
            frames.append(f)
        events = pd.concat(frames, ignore_index=True)
        self.n_rows = len(events)
        self.expected = self._expected(events)
        self.schema = None
        self.last_batches: list[dict] = []

    # batch computations over the same rows the stream replays
    @staticmethod
    def _expected(ev: pd.DataFrame) -> dict[str, Any]:
        ev = ev.copy()
        ev["cents"] = np.round(ev["value"] * 100).astype(np.int64)
        ev["wstart"] = ev["ts"].dt.floor("10s")
        tumble = (ev.groupby(["wstart", "event_type"])
                  .agg(pv_ct=("event_id", "size"), cents=("cents", "sum"))
                  .reset_index())
        ev["dt"] = ev["ts"].dt.strftime("%Y-%m-%d")
        first = (ev.sort_values(["arrival", "ts", "event_id"])
                 .drop_duplicates(["user_id", "dt"]))
        uniq = set(zip(first["user_id"], first["dt"], first["event_id"]))
        inc = (ev.groupby("event_type")
               .agg(ct=("event_id", "size"), cents=("cents", "sum")))
        return {"tumble": tumble, "uniq": uniq,
                "inc": {k: (int(r.ct), int(r.cents))
                        for k, r in inc.iterrows()}}

    def _stream(self, path: Path):
        from gmall_211027_flink_spark.catalog import normalize_event_ts
        spark = self.ctx.spark
        if self.schema is None:
            self.schema = spark.read.parquet(str(path)).schema
        raw = (spark.readStream.schema(self.schema)
               .option("maxFilesPerTrigger", "1").parquet(str(path)))
        return normalize_event_ts(raw, "ts")

    def _start(self, stream_path: str, tag: str, src: Path):
        """Build and start one streaming path; returns (query, reader)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        from gmall_211027_flink_spark.streaming.incremental import (
            IncrementalAggStore, run_incremental_agg)
        from gmall_211027_flink_spark.streaming.state import daily_unique
        from gmall_211027_flink_spark.streaming.windows import tumbling_agg
        c = self.ctx
        ckpt = str(c.work / "ckpt" / tag)
        value = F.col("value").cast("decimal(18,2)")
        if stream_path == "tumbling_agg":
            df = tumbling_agg(self._stream(src), "ts", WINDOW, WATERMARK,
                              ["event_type"],
                              [F.count("*").alias("pv_ct"),
                               F.sum(value).alias("value_sum")])
            q = (df.writeStream.format("memory").queryName(tag)
                 .outputMode("append").option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            return q, lambda: c.spark.table(tag).toPandas()
        if stream_path == "daily_unique":
            out = T.StructType([
                T.StructField("user_id", T.LongType()),
                T.StructField("dt", T.StringType()),
                T.StructField("event_id", T.LongType())])
            ev = self._stream(src).withColumn(
                "dt", F.date_format("ts", "yyyy-MM-dd"))
            df = daily_unique(ev, "user_id", "ts", out,
                              order_cols=["ts", "event_id"])
            q = (df.writeStream.format("memory").queryName(tag)
                 .outputMode("append").option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            return q, lambda: c.spark.table(tag).toPandas()
        store = IncrementalAggStore(
            str(c.work / "store" / tag), ["event_type"],
            {"ct": ("count", None), "vs": ("sum", "v")})
        q = run_incremental_agg(
            self._stream(src).select("event_type", value.alias("v")),
            store, ckpt)
        return q, lambda: store.read(c.spark).toPandas()

    def replay(self, stream_path: str, tag: str, src: Path):
        with self.ctx.tracer.span(stream_path, "build"):
            q, reader = self._start(stream_path, tag, src)
        with self.ctx.tracer.span(stream_path, "exec"):
            done = q.awaitTermination(STREAM_TIMEOUT_S)
        if not done:
            q.stop()
            raise TimeoutError(f"{stream_path} still running after "
                               f"{STREAM_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p if isinstance(p, dict) else json.loads(p.json)
                    for p in q.recentProgress]
        for p in progress:
            start = _epoch(p["timestamp"])
            self.ctx.tracer.add(f"{stream_path}.batch{p['batchId']}",
                                "microbatch", start,
                                start + p["durationMs"]["triggerExecution"]
                                / 1000.0)
            p["path"] = stream_path
        self.last_batches += progress
        return progress, reader

    def _check(self, stream_path: str):
        exp = self.expected

        def check(result) -> list[str]:
            progress, reader = result
            out = reader()
            if stream_path == "tumbling_agg":
                wm = _epoch(progress[-1]["eventTime"]["watermark"])
                t = exp["tumble"]
                closed = t[(t["wstart"] + pd.Timedelta(WINDOW)).map(
                    lambda w: w.tz_localize("UTC").timestamp()) <= wm]
                want = {(w.strftime("%Y-%m-%d %H:%M:%S"), e, int(n), int(s))
                        for w, e, n, s in closed.itertuples(index=False)}
                got = {(r.stt, r.event_type, int(r.pv_ct),
                        int(Decimal(r.value_sum) * 100))
                       for r in out.itertuples(index=False)}
                if got != want:
                    return [f"tumbling: {len(got ^ want)} rows differ "
                            f"(got {len(got)}, want {len(want)})"]
                return []
            if stream_path == "daily_unique":
                got = set(zip(out["user_id"], out["dt"], out["event_id"]))
                if got != exp["uniq"] or len(out) != len(got):
                    return [f"daily_unique: {len(got ^ exp['uniq'])} rows "
                            f"differ (got {len(out)}, want "
                            f"{len(exp['uniq'])})"]
                return []
            got = {r.event_type: (int(r.ct), int(Decimal(r.vs) * 100))
                   for r in out.itertuples(index=False)}
            if got != exp["inc"]:
                return [f"incremental_agg: {got} != {exp['inc']}"]
            return []
        return check

    def _ops(self, pass_no: int, src: Path, checked: bool) -> list[Op]:
        ops = []
        for p in STREAM_PATHS:
            tag = f"pb_{p}_{'w' if pass_no < 0 else pass_no}"
            ops.append(Op("replay", p,
                          lambda p=p, tag=tag: self.replay(p, tag, src),
                          self._check(p) if checked else None))
        return ops

    def pass_ops(self, pass_no: int) -> list[Op]:
        if pass_no < 0:
            return self._ops(pass_no, self.warm_dir, checked=False)
        return self._ops(pass_no, self.dir, checked=True)

    def run_pass(self, pass_no: int) -> list[OpRecord]:
        self.last_batches = []
        return super().run_pass(pass_no)

    def latencies(self, passes: list[PassRecord]) -> list[float]:
        return [b["durationMs"]["triggerExecution"] / 1000.0
                for p in passes for b in p.batches]

    def throughput(self, one_pass: PassRecord, pass_s: float) -> dict:
        return {"stream_rows_per_s": self.n_rows * len(STREAM_PATHS) / pass_s}


WORKLOADS = {w.name: w for w in (AdsServing, StreamIngest)}
