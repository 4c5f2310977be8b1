"""One Spark session per benchmark run, fitted to the host and kept
inside the checkout.

The program's ``get_spark`` reads its sizing from the environment; the
benchmark sets that environment before the JVM starts: ``local[nproc]``,
a driver heap well below physical RAM, Spark local dirs, the JVM temp dir
and the warehouse dir under the run's work dir, and a ``PYTHONPATH`` that
lets Python workers import the package whatever their working directory.
"""

from __future__ import annotations

import os
import shutil
import subprocess
from pathlib import Path


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def settings(root: Path, work: Path) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(1024, _mem_total_mb() // 8)
    return {
        "master": f"local[{cpus}]",
        "cpus": str(cpus),
        "driver_memory": f"{heap_mb}m",
        "local_dirs": str(work / "spark-local"),
        "tmp_dir": str(work / "tmp"),
        "pythonpath": str(root),
    }


class BenchSession:
    """Starts the program's Spark session with ``settings`` and stops it,
    waiting for the JVM and its Python workers to exit."""

    def __init__(self, root: Path, work: Path):
        self.root = root
        self.work = work
        self.settings = settings(root, work)
        self.spark = None
        self._proc: subprocess.Popen | None = None

    def start(self):
        s = self.settings
        for d in (s["local_dirs"], s["tmp_dir"]):
            Path(d).mkdir(parents=True, exist_ok=True)
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = s["cpus"]
        env["SPARK_MASTER"] = s["master"]
        env["SPARK_DRIVER_MEMORY"] = s["driver_memory"]
        env["SPARK_LOCAL_DIRS"] = s["local_dirs"]
        env["TMPDIR"] = s["tmp_dir"]
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (s["pythonpath"], env.get("PYTHONPATH")) if p)
        # a fixed, pre-touched heap: the JVM's resident heap no longer
        # depends on when G1 chose to grow it, so peak RSS measures the
        # rest (metaspace, code cache, direct and native memory, Python)
        java_opts = (f"-Xms{s['driver_memory']} -XX:+AlwaysPreTouch "
                     f"-Djava.io.tmpdir={s['tmp_dir']} -XX:-UsePerfData")
        env["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf", f"spark.driver.extraJavaOptions='{java_opts}'",
            "--conf", f"spark.sql.warehouse.dir={self.work / 'warehouse'}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell"])
        from gmall_211027_flink_spark import get_spark
        self.spark = get_spark("perfbench")
        self._proc = self.spark.sparkContext._gateway.proc
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self._proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self._proc is not None:
            from pyspark import SparkContext
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            # the gateway JVM exits when its stdin closes
            if self._proc.stdin:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self._proc = None

    def clean(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
