"""Driver-gate simulation: the EXACT contract the correctness driver
runs — a PLAIN SparkSession (not the repo's tuned factory; non-UTC
session timezone to exercise the runtime pinning), ``__spark_entry__``
loaded the way the driver loads it, the FIRST 50 registration-order
queries (the gate samples registration order), each compared against
its ``oracle_sql()`` string through DuckDB's pandas path.

Usage: python scripts/gate_sim.py [sf_dir] [n_queries]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from scripts.check import LOSSY_TYPES, compare  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_q = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    spark = (SparkSession.builder.master("local[16]")
             .appName("gate-sim")
             .config("spark.sql.session.timeZone", "America/New_York")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    import __spark_entry__ as entry_mod

    ent = entry_mod.entry(spark)
    rows = ent.collect()
    print(f"entry(): {len(rows)} rows, cols {ent.columns}")
    qs = entry_mod.queries()
    orc = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failed = []
    for name in list(qs)[:n_q]:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in
                          df.toPandas().itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in orc:
            print(f"ok?  {name}: rows={len(spark_rows)} (rows-only)")
            continue
        try:
            desc = con.execute(f"DESCRIBE {orc[name]}").fetchall()
            lossy = [(c, ty) for c, ty, *_ in desc
                     if ty.split("(")[0].strip().upper() in LOSSY_TYPES]
            if lossy:
                print(f"FAIL {name}: lossy oracle types {lossy}")
                failed.append(name)
                continue
            ddf = con.execute(orc[name]).fetchdf()
            duck_cols = list(ddf.columns)
            duck_rows = [tuple(r) for r in
                         ddf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        problems = compare(name, spark_rows, spark_cols,
                           duck_rows, duck_cols)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(spark_rows)}"
                  f" [{time.time() - t0:.1f}s]")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
