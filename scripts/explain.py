"""Dump the formatted physical plan of every bench headline query to
PLANS.md — the artifact of the "explain, then iterate until it's the
plan you'd want" loop. Re-run after any plan-shaping change.

Usage: python scripts/explain.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from gmall_211027_flink_spark import get_spark  # noqa: E402
from gmall_211027_flink_spark.registry import (  # noqa: E402
    BENCH_QUERIES, QUERIES, load_all,
)

HEADER = """# PLANS — physical plans of the bench headline queries

Generated by `python scripts/explain.py` (sf={sf}). What to look for,
per SCALE.md: filters/projections inside the FileScan (`PushedFilters`,
`ReadSchema`), `BroadcastHashJoin` for every dim, partial HashAggregate
before every Exchange, codegen (`*`-prefixed) spans over the hot path,
no Exchange whose partitioning repeats a previous one.
"""


NARRATIVE_SENTINEL = ("<!-- NARRATIVES: hand-written sections below; "
                      "scripts/explain.py preserves everything from this "
                      "line on -->")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    load_all()
    spark = get_spark("explain")
    out = [HEADER.format(sf=sf_dir)]
    for name in BENCH_QUERIES:
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        # keep the operator tree + scan details; drop codegen subtree ids noise
        out.append(f"\n## {name}\n\n```\n{plan.strip()}\n```\n")
    # PLANS.md carries hand-written scale narratives below the sentinel —
    # regenerating the plan dump must never destroy them (the r10 splice
    # lesson: an overwrite that silently drops reviewed content is a
    # footgun even when no one has pulled the trigger yet)
    target = Path("PLANS.md")
    tail = ""
    if target.exists():
        old = target.read_text()
        idx = old.find(NARRATIVE_SENTINEL)
        if idx == -1:
            raise SystemExit(
                "PLANS.md has no narrative sentinel — refusing to "
                "overwrite; re-add the marker line before regenerating")
        tail = "\n" + old[idx:]
    target.write_text("\n".join(out) + tail)
    print(f"wrote PLANS.md ({len(BENCH_QUERIES)} plans; narratives kept)")


if __name__ == "__main__":
    main()
