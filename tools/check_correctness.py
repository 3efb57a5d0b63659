"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB
against the same sf dir, compares row count, column names, and
order-insensitive values. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uber_data_pipeline_spark.harness import clear_all, duck_views  # noqa: E402
from uber_data_pipeline_spark.session import get_spark  # noqa: E402
from uber_data_pipeline_spark.testing import compare  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402



def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duck_views(sf_dir)

    spark = get_spark(shuffle_partitions=8, master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            clear_all(spark)
            print(f"ok?  {name}: rows-only check, {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            failed.append(name)
            print(f"FAIL {name}: oracle error: {e}")
            continue
        problems = compare(name, sdf, odf)
        # operators cache intermediates (shingle arrays, signatures,
        # basket relations) for their own multi-pass plans and cannot
        # unpersist them before the caller's action runs; drop them
        # here so storage memory doesn't accumulate across the sweep
        # (same per-query discipline as bench.py)
        clear_all(spark)
        if problems:
            failed.append(name)
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name} ({len(sdf)} rows)")
    spark.stop()
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
