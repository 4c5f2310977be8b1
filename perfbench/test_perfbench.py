"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The Spark runs use ``--size 0.2`` (ADS tables at sf0.001, 800 stream
events) and ``--seconds 1`` (the fewest passes); the rest needs no Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from harness import E2E_UNITS, LAYER_UNITS, Bench  # noqa: E402
from probes import parse_sql_metric, tail_percentile  # noqa: E402
from spans import Span, self_times, union_s  # noqa: E402
from workloads import WORKLOADS, Op, Workload, run_op  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture
def scratch(request):
    """A fresh directory inside the checkout's .perfbench/."""
    d = ROOT / ".perfbench" / "tests" / request.node.name
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("n,want", [
    (1, 100.0), (19, 100.0), (20, 50.0), (40, 75.0), (100, 90.0),
    (1000, 99.0)])
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    samples = [float(i) for i in range(n, 0, -1)]
    p, value, count = tail_percentile(samples)
    assert (p, count) == (pytest.approx(want), n)
    if p == 100.0:
        assert value == max(samples)
    else:
        assert sum(1 for s in samples if s > value) == 10
        assert value == sorted(samples)[round(p / 100 * n) - 1]


def test_tail_percentile_of_nothing():
    assert tail_percentile([]) == (100.0, 0.0, 0)


def test_metric_names_match_between_spec_and_harness():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == LAYER_UNITS


def test_sql_metric_parsing():
    assert parse_sql_metric("525 ms") == pytest.approx(0.525)
    assert parse_sql_metric("1,014.5 KiB") == pytest.approx(1014.5 * 1024)
    assert parse_sql_metric("60,000") == 60000
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms "
        "(stage 1.0: task 3))") == pytest.approx(1.5)


def test_self_time_subtracts_children():
    spans = [Span(0, "q", "build", 0.0, 10.0, None, 0),
             Span(1, "c", "catalog", 1.0, 4.0, 0, 0),
             Span(2, "c", "catalog", 3.0, 6.0, 0, 0)]
    assert union_s([(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)]) == 6.0
    selfs = self_times(spans)
    assert selfs["build"] == pytest.approx(5.0)
    assert selfs["catalog"] == pytest.approx(6.0)


def test_catalog_patch_nests_and_unpatches():
    sys.path.insert(0, str(ROOT))
    from gmall_211027_flink_spark import catalog
    from gmall_211027_flink_spark.plans import ads
    from spans import Tracer
    view = SimpleNamespace(createOrReplaceTempView=lambda name: None)
    spark = SimpleNamespace(read=SimpleNamespace(parquet=lambda path: view))
    original = catalog.register_views
    tracer = Tracer(enabled=True)
    tracer.patch_catalog()
    try:
        assert ads.register_views is not original
        ads.register_views(spark, "d", ("orders", "part"))
    finally:
        tracer.unpatch()
    assert catalog.register_views is original
    assert ads.register_views is original
    names = [(s.name, s.parent) for s in tracer.spans]
    assert names == [("catalog.register_views", None),
                     ("catalog.load_table", 0), ("catalog.load_table", 0)]


def test_datagen_is_seeded():
    a = datagen.make_tables(3, 0.001)
    b = datagen.make_tables(3, 0.001)
    c = datagen.make_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


class _FakeCtx:
    def __init__(self):
        from spans import Tracer
        self.tracer = Tracer(enabled=False)
        self.procs = SimpleNamespace(cpu=lambda: {"total": 0.0})


class _FlakyWorkload(Workload):
    """Three ops per pass: one fine, one raising, one with wrong output."""
    name = "flaky"
    latency_kind = "read"

    def pass_ops(self, pass_no):
        def boom():
            raise RuntimeError("injected failure")
        return [Op("read", "good", lambda: 1, lambda r: []),
                Op("read", "raises", boom),
                Op("read", "wrong", lambda: 2, lambda r: ["2 != 3"])]


def test_failing_op_is_counted_not_fatal(scratch):
    ctx = _FakeCtx()
    recs = [run_op(op, ctx) for op in _FlakyWorkload(ctx).pass_ops(0)]
    assert [r.ok for r in recs] == [True, False, False]
    assert [r.mismatch for r in recs] == [False, False, True]

    bench = Bench(ROOT, scratch, _FlakyWorkload, 0, 0.001, False)
    bench.procs = ctx.procs
    bench.status = SimpleNamespace(gc_s=lambda: 0.0)
    passes, traced = bench.measure()
    assert traced == []
    memory = {"rss_off_heap_mb": 1.0, "heap_live_mb": 1.0}
    detail, result = bench.summarize(passes, traced, 1.0, memory)
    assert result["attempted"] == 3 * len(passes)
    assert result["failed"] == 2 * len(passes)
    assert result["correct"] is False
    assert detail["failed_ratio"] == pytest.approx(2 / 3)
    assert set(result["metrics"]) == set(E2E_UNITS)


def test_only_a_failed_op_makes_the_run_incorrect(scratch):
    class _Raising(_FlakyWorkload):
        def pass_ops(self, pass_no):
            return super().pass_ops(pass_no)[:2]   # fine, then raises
    ctx = _FakeCtx()
    bench = Bench(ROOT, scratch, _Raising, 0, 0.001, False)
    bench.procs = ctx.procs
    bench.status = SimpleNamespace(gc_s=lambda: 0.0)
    passes, traced = bench.measure()
    memory = {"rss_off_heap_mb": 1.0, "heap_live_mb": 1.0}
    detail, result = bench.summarize(passes, traced, 1.0, memory)
    assert result["failed"] == len(passes)
    assert detail["wrong_output"] == 0
    assert result["correct"] is False


def test_pass_count_does_not_depend_on_speed(scratch):
    """The same --seconds gives the same number of passes, and so the
    same sample count behind op_p50_ms and op_tail_ms, however long each
    pass takes."""
    counts = []
    for delay in (0.0, 0.02):
        class _Timed(_FlakyWorkload):
            nominal_pass_s = 0.01

            def pass_ops(self, pass_no, d=delay):
                return [Op("read", "sleep", lambda: time.sleep(d),
                           lambda r: [])]
        bench = Bench(ROOT, scratch, _Timed, 0, 0.05, False)
        bench.procs = _FakeCtx().procs
        bench.status = SimpleNamespace(gc_s=lambda: 0.0)
        counts.append(len(bench.measure()[0]))
    assert counts == [5, 5]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tail_rests_on_twenty_samples_or_more(workload):
    """At the spec's run_seconds every workload's tail is a percentile
    with ten samples beyond it, not the maximum."""
    wl = WORKLOADS[workload](None)
    n = wl.n_passes(SPEC["run_seconds"]) * wl.samples_per_pass()
    assert n >= 20
    assert tail_percentile([1.0] * n)[0] < 100.0


def test_run_refuses_a_tree_without_the_program(scratch):
    shutil.copy(ROOT / "BENCHMARK.json", scratch)
    shutil.copytree(HERE, scratch / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ads_serving",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=scratch, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert "{" not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--size", "0.2"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = _last_json(proc.stdout)
    detail = json.loads(proc.stdout.strip().splitlines()[-2])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    wl = WORKLOADS[workload](None)
    if not trace:
        assert detail["op_samples"] >= wl.n_passes(1) * wl.samples_per_pass()
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    assert all(isinstance(v["value"], float)
               for v in out["metrics"].values())
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert all(v > 0 for v in values.values())
    else:
        assert all(values[k] > 0 for k in LAYERS_IN_USE[workload]), values


# per-layer metrics each workload must exercise
LAYERS_IN_USE = {
    "ads_serving": ("catalog.calls", "catalog.busy_s", "catalog.op_share",
                    "build.jobs", "exec.driver_s", "exec.task_s",
                    "trace.spans"),
    "stream_ingest": ("streaming.tumbling_agg.rows_per_s",
                      "streaming.daily_unique.rows_per_s",
                      "streaming.incremental_agg.rows_per_s",
                      "state.commit_ms", "state.rows_total",
                      "pyworker.cpu_s", "exec.python_bytes", "exec.task_s"),
}
