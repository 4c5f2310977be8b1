"""Local replica of the driver's correctness gate.

Runs every registered query at a given sf dir on Spark, runs its DuckDB
oracle on the same parquet files, and compares row count, column names,
and order-insensitive values (exact for ints/strings; exact-first with a
reported max-abs-diff for floats, since the driver value-hashes).

The DuckDB side fetches through ``fetchdf()`` — the pandas path the
driver's value-hash takes — NOT ``fetchall()``.  fetchall() normalizes
HUGEINT to Python int, which made this replica blind for two rounds to
the r9/r10 stats_cramers_v red (a HUGEINT output column hashes as
float64 60000.0 vs Spark's bigint 60000).  On top of the value compare,
every oracle is DESCRIBEd and any pandas-lossy output type (HUGEINT/
UHUGEINT/unsigned) is an immediate FAIL, matching the permanent lint in
tests/test_oracle_types.py.  Int-vs-float type divergence on a cell
value is a mismatch even when the values compare numerically equal.

Usage: python scripts/check.py [sf_dir] [name_filter ...]
       --repeat N   run each query N times (catches nondeterministic
                    plans: ambiguous window orders, ties — the class of
                    bug a single green run hides; the dim_scd2_history
                    tie bug was found exactly this way)
"""

from __future__ import annotations

import datetime
import math
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

LOSSY_TYPES = {"HUGEINT", "UHUGEINT",
               "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from gmall_211027_flink_spark import QUERIES, ORACLES, get_spark  # noqa: E402
from gmall_211027_flink_spark.catalog import TABLES  # noqa: E402
from gmall_211027_flink_spark.registry import load_all  # noqa: E402


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def norm_cell(v):
    """Normalize a cell to (kind, value).

    Kinds are compared STRICTLY: an int on one side and a float on the
    other is a mismatch even when numerically equal — that is exactly
    how the driver's value-hash sees a pandas-lossy type (the r9/r10
    stats_cramers_v red: bigint 60000 vs HUGEINT-as-float64 60000.0).
    Midnight timestamps normalize to dates so DuckDB DATE (datetime64
    via fetchdf) still pairs with Spark DateType (datetime.date); both
    sides pass through the same rule, so no asymmetry is introduced.
    """
    if v is None:
        return ("null", None)
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("int", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return ("null", None)
        return ("float", f)
    if isinstance(v, (np.ndarray, list, tuple)):
        items = v.tolist() if isinstance(v, np.ndarray) else v
        return ("arr", tuple(norm_cell(x) for x in items))
    if isinstance(v, pd.Timestamp):
        v = v.to_pydatetime()
    if isinstance(v, np.datetime64):
        v = pd.Timestamp(v).to_pydatetime()
    if isinstance(v, datetime.datetime):
        if v.time() == datetime.time(0, 0) and v.tzinfo is None:
            return ("date", v.date())
        return ("ts", v)
    if isinstance(v, datetime.date):
        return ("date", v)
    if isinstance(v, (bytes, bytearray)):
        return ("bytes", bytes(v))
    return (type(v).__name__, v)


def normalize(rows: list[tuple], cols: list[str]):
    """Sort columns by name, then rows; mirror a value-hash comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    def key(t):
        return tuple((k == "null", k, str(v)) for k, v in t)
    return sorted(out, key=key), [cols[i] for i in order]


def compare(name: str, spark_rows, spark_cols, duck_rows, duck_cols) -> list[str]:
    problems = []
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
        return problems
    s_rows, s_cols = normalize(spark_rows, spark_cols)
    d_rows, d_cols = normalize(duck_rows, duck_cols)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    max_float_diff = 0.0
    n_mismatch = 0
    first = None
    for sr, dr in zip(s_rows, d_rows):
        for c, ((ka, a), (kb, b)) in zip(s_cols, zip(sr, dr)):
            if ka != kb:
                n_mismatch += 1
                if first is None:
                    first = (c, f"{ka}:{a!r}", f"{kb}:{b!r}  TYPE-LOSSY")
                continue
            if a == b:
                continue
            if ka == "float":
                max_float_diff = max(max_float_diff, abs(a - b))
            n_mismatch += 1
            if first is None:
                first = (c, a, b)
    if n_mismatch:
        problems.append(
            f"{n_mismatch} value mismatches, first={first}, max_float_diff={max_float_diff:g}")
    return problems


def main() -> int:
    args = sys.argv[1:]
    repeat = 1
    if "--repeat" in args:
        i = args.index("--repeat")
        repeat = int(args[i + 1])
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    filters = args[1:]
    load_all()
    spark = get_spark("check")
    con = duck_conn(sf_dir)
    failed = []
    for name, fn in sorted(QUERIES.items()):
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            # the SPARK side must also materialize through pandas: the
            # driver hashes pandas frames on BOTH sides, so a nullable
            # BIGINT column upcasts to float64 on both sides and hashes
            # equal — collect()'s Python ints would false-flag every
            # null-upcast column as type-lossy (measured r11: 3+
            # driver-green queries)
            sdf = df.toPandas()
            spark_rows = [tuple(r) for r in
                          sdf.itertuples(index=False, name=None)]
            for _ in range(repeat - 1):
                again = [tuple(r) for r in
                         fn(spark, sf_dir).toPandas()
                         .itertuples(index=False, name=None)]
                if sorted(map(str, again)) != sorted(map(str, spark_rows)):
                    raise RuntimeError(
                        "NONDETERMINISTIC: two runs differ "
                        f"({len(spark_rows)} vs {len(again)} rows)")
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in ORACLES:
            print(f"ok?  {name}: rows={len(spark_rows)} (no oracle — rows-only) "
                  f"[{time.time()-t0:.1f}s]")
            if len(spark_rows) == 0:
                print(f"     WARNING {name}: 0 rows")
            continue
        try:
            desc = con.execute(f"DESCRIBE {ORACLES[name]}").fetchall()
            lossy = [(c, t) for c, t, *_ in desc
                     if t.split("(")[0].strip().upper() in LOSSY_TYPES]
            if lossy:
                print(f"FAIL {name}: pandas-lossy oracle output types "
                      f"{lossy} (cast to BIGINT/DOUBLE)")
                failed.append(name)
                continue
            ddf = con.execute(ORACLES[name]).fetchdf()
            duck_cols = list(ddf.columns)
            duck_rows = [tuple(r) for r in
                         ddf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = compare(name, spark_rows, spark_cols, duck_rows, duck_cols)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(spark_rows)} [{time.time()-t0:.1f}s]")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
