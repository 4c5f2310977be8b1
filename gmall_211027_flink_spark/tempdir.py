"""Temp-dir gate queries: ``temp_store`` runs a query over a fresh scratch
dir (its store, checkpoint, staged files or temp table layout) and
materializes its bounded result before the dir is removed."""

from __future__ import annotations

import functools
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def temp_store(fn: Callable[[SparkSession, str, str], DataFrame]):
    """Turn ``fn(spark, sf_dir, tmp_dir) -> DataFrame`` into a query
    ``(spark, sf_dir) -> DataFrame`` that runs ``fn`` over a fresh temp dir
    and removes the dir in ``finally``. The result is collected into a
    local frame first, so it never reads a deleted file. This is
    gate-harness materialization only: ``fn``'s result must be bounded
    (each decorated query is an audited collect site in
    tests/test_collect_lint.py), and production reads a persistent store
    or table path directly, with no driver collect."""
    @functools.wraps(fn)
    def run_in_temp_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = tempfile.mkdtemp(prefix=f"{fn.__name__}_")
        try:
            out = fn(spark, sf_dir, d)
            return spark.createDataFrame(out.collect(), out.schema)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    return run_in_temp_dir
