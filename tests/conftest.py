from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_SQL_SHUFFLE_PARTITIONS", "4")
    from gmall_211027_flink_spark import get_spark
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def await_stream(q, timeout_s: float = 300) -> None:
    """Wait for a test stream to finish. A stream still running after
    ``timeout_s`` is stopped and fails the test, so no test compares a
    partial sink or leaves its query running for the rest of the session.
    A stream that failed raises its ``StreamingQueryException`` here."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        pytest.fail(f"stream {q.name or q.id} still running after "
                    f"{timeout_s} s")
