#!/usr/bin/env python
"""Targeted re-measurement of named registry entries with bench.py's
exact methodology (full-column noop-sink write + observe() row count,
min of up to 4 reps — see bench.py's estimator comment, VERDICT r11
item 1 — compile warm-up at sf0.001), for refreshing
individual BENCH_sf1.json rows after a code change without re-running
the whole 186-entry soak (VERDICT r8 items 3/5/6).

Usage:
    python tools/rebench_entries.py <sf_dir> name [name ...]

Prints ONE JSON line: {"sf_dir", "commit", "entries": {name:
{"min_s", "reps", "rows"}}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uber_data_pipeline_spark.harness import (  # noqa: E402
    clear_all,
    compile_warmup,
    git_commit,
    timed_noop_run,
)
from uber_data_pipeline_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


REP_THRESHOLD_S = 0.3


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="udp-rebench")
    spark.sparkContext.setLogLevel("ERROR")

    compile_warmup(spark, [qs[n] for n in names], sf_dir)

    out: dict = {}
    for n in names:
        best, reps, rows = timed_noop_run(
            spark, qs[n], sf_dir, clear_all, REP_THRESHOLD_S
        )
        out[n] = {
            "min_s": best,
            "reps": reps,
            "rows": rows,
        }
        print(f"{n}: {out[n]}", file=sys.stderr, flush=True)

    print(json.dumps({"sf_dir": sf_dir, "commit": git_commit(), "entries": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
