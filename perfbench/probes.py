"""Measurements taken from outside the program: sample statistics,
process-tree CPU and memory read from /proc, host steal time, JVM GC
time, and Spark's own job/stage/SQL status stores read through py4j.
"""

from __future__ import annotations

import gc
import os
import re
import resource
import statistics
import time

_CLK = os.sysconf("SC_CLK_TCK")


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail_percentile(samples: list[float],
                    min_beyond: int = 10) -> tuple[float, float, int]:
    """Return ``(percentile, value, n)`` for the highest percentile that
    leaves at least ``min_beyond`` samples above it: the
    (min_beyond + 1)-th largest sample, at percentile
    100 * (n - min_beyond) / n. Below 2 * min_beyond samples that
    percentile would fall under the median, so the maximum is reported
    instead, as percentile 100."""
    n = len(samples)
    if n == 0:
        return 100.0, 0.0, 0
    ordered = sorted(samples)
    if n < 2 * min_beyond:
        return 100.0, ordered[-1], n
    return 100.0 * (n - min_beyond) / n, ordered[n - min_beyond - 1], n


# --- process tree (/proc) ---------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children(root: int) -> list[int]:
    """All live descendants of ``root``."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                parent[int(entry)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: a process and its reaped children."""
    f = _stat(pid)
    if f is None:
        return 0
    # fields 14-17 (1-based) of stat; after pid and comm, indices 11-14
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcessTree:
    """CPU and peak memory of the driver Python process, the JVM it
    launched and the JVM's Python workers."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per part; subtract two readings."""
        workers = sum(_cpu_ticks(p) for p in _children(self.jvm_pid))
        t = os.times()
        jvm = _cpu_ticks(self.jvm_pid)
        return {"jvm": jvm / _CLK, "pyworker": workers / _CLK,
                "driver": t.user + t.system,
                "total": (jvm + workers) / _CLK + t.user + t.system}

    def peak_rss_mb(self) -> float:
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        kb += _hwm_kb(self.jvm_pid)
        kb += sum(_hwm_kb(p) for p in _children(self.jvm_pid))
        return kb / 1024.0


def host_steal_s() -> float:
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


# --- JVM and Spark status stores (py4j) -------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ns": 1e-9, "ms": 1e-3, "s": 1.0,
          "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Value of one formatted SQL metric ('1.5 s', '10.2 MiB', '60,000',
    or the multi-task 'total (min, med, max ...)\\n1.5 s (...)' form) in
    seconds, bytes or plain units."""
    line = text.strip().splitlines()[-1] if text.strip() else "0"
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class SparkStatus:
    """Reads Spark's status stores. Call ``sync`` before reading so that
    every listener event of finished work has been applied."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        jvm = self.sc._jvm
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._mx = jvm.java.lang.management.ManagementFactory

    def sync(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def heap_committed_mb(self) -> float:
        """Heap the JVM has reserved; with -Xms = -Xmx and pre-touch,
        all of it is resident from the start."""
        return self._mx.getMemoryMXBean().getHeapMemoryUsage() \
            .getCommitted() / 2 ** 20

    def heap_live_mb(self) -> float:
        """Heap still reachable after a full collection: what the program
        and Spark hold on to (cached relations, plans, status stores).

        Python first drops its garbage py4j handles, and the second
        collection runs after Spark's ContextCleaner has had time to
        release the broadcasts and shuffles the first one freed."""
        gc.collect()
        bean = self._mx.getMemoryMXBean()
        bean.gc()
        time.sleep(1.0)
        bean.gc()
        return bean.getHeapMemoryUsage().getUsed() / 2 ** 20

    def gc_s(self) -> float:
        beans = self._mx.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def jobs(self) -> list[dict]:
        """Every retained job: id, submit/complete epoch seconds, stages."""
        out = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            out.append({"id": j.jobId(), "start": _opt_ms(j.submissionTime()),
                        "end": _opt_ms(j.completionTime()),
                        "stages": [int(s) for s in _seq(j.stageIds())]})
        return out

    def stage(self, stage_id: int) -> dict | None:
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Exception:  # py4j error: stage skipped or evicted
            return None
        skew = 1.0
        summary = self.store.taskSummary(stage_id, s.attemptId(),
                                         self._quantiles)
        if summary.isDefined():
            med, mx = _seq(summary.get().executorRunTime())
            skew = mx / med if med > 0 else 1.0
        return {"task_s": s.executorRunTime() / 1000.0,
                "shuffle_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "peak_mem_bytes": s.peakExecutionMemory(),
                "tasks": s.numTasks(), "skew": skew,
                "start": _opt_ms(s.submissionTime())}

    def sql_metrics(self, windows: list[tuple[float, float]]
                    ) -> dict[str, float]:
        """Sum of each named SQL metric over the executions submitted
        inside any of ``windows`` (epoch-second intervals)."""
        totals: dict[str, float] = {}
        it = self.sql_store.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            t = e.submissionTime() / 1000.0
            if not any(a <= t <= b for a, b in windows):
                continue
            names = {}
            mit = e.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                names[m.accumulatorId()] = m.name()
            values = self.sql_store.executionMetrics(e.executionId())
            vit = values.iterator()
            while vit.hasNext():
                kv = vit.next()
                name = names.get(kv._1())
                if name is not None:
                    totals[name] = totals.get(name, 0.0) + \
                        parse_sql_metric(kv._2())
        return totals
