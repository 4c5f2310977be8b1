"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the package in the checkout that holds this
directory and prints, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a JSON detail record (tail percentile and sample
count, failed share, session settings, per-kind latencies). See
README.md in this directory for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "gmall_211027_flink_spark"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=1.0,
                    help="input size of every workload as a share of its "
                         "default, for quick runs (default 1)")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"program package not found at {PACKAGE}", file=sys.stderr)
        return 2
    if args.seed < 0 or args.seconds <= 0 or args.size <= 0:
        print("--seed must be >= 0, --seconds and --size > 0",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from harness import Bench
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    bench = Bench(ROOT, work, WORKLOADS[args.workload], args.seed,
                  args.seconds, bool(args.trace), args.size)
    try:
        detail, result = bench.run()
    finally:
        bench.close()
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"perfbench: exit {code} after {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    sys.exit(code)
