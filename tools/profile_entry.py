#!/usr/bin/env python
"""Phase profiler for registry entries (r13 optimization round).

For each named entry, separates the two places wall time can hide:

1. CONSTRUCT  — fn(spark, sf_dir): plan construction, which for the
   model-fitting operators includes EAGER driver work (counts, Lloyd
   training collects, eager localCheckpoints, whole structured-
   streaming runs for the sink entries);
2. EXECUTE    — the full-column noop-sink write of the returned plan
   (bench.py's timed action).

Also prints a physical-plan node census (Exchange / joins / Python
eval / window / generate) from explain("formatted") so a plan-shape
claim can be checked without the UI.

Usage:
    python tools/profile_entry.py <sf_dir> name [name ...]

Prints ONE JSON line per entry.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uber_data_pipeline_spark.harness import clear_all, compile_warmup  # noqa: E402
from uber_data_pipeline_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


NODE_PATTERNS = {
    "exchange": re.compile(r"^\s*[*+:\-\s]*(?:\(\d+\)\s*)?Exchange\b", re.M),
    "bhj": re.compile(r"BroadcastHashJoin", re.M),
    "smj": re.compile(r"SortMergeJoin", re.M),
    "shj": re.compile(r"ShuffledHashJoin", re.M),
    "bnlj": re.compile(r"BroadcastNestedLoopJoin", re.M),
    "python": re.compile(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)", re.M),
    "window": re.compile(r"^\s*[*+:\-\s]*(?:\(\d+\)\s*)?Window\b", re.M),
    "generate": re.compile(r"^\s*[*+:\-\s]*(?:\(\d+\)\s*)?Generate\b", re.M),
    "sort": re.compile(r"^\s*[*+:\-\s]*(?:\(\d+\)\s*)?Sort\b", re.M),
}


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="udp-profile")
    spark.sparkContext.setLogLevel("ERROR")

    compile_warmup(spark, [qs[n] for n in names], sf_dir)

    for n in names:
        rec: dict = {"entry": n, "sf_dir": sf_dir}
        # rep 1: cold(ish) construct + execute split
        construct = []
        execute = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = qs[n](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            construct.append(round(t1 - t0, 3))
            execute.append(round(t2 - t1, 3))
            clear_all(spark)
        rec["construct_s"] = construct
        rec["execute_s"] = execute
        rec["construct_min"] = min(construct)
        rec["execute_min"] = min(execute)
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[n](spark, sf_dir).explain("formatted")
            plan = buf.getvalue()
            rec["plan_nodes"] = {
                k: len(p.findall(plan)) for k, p in NODE_PATTERNS.items()
            }
        except Exception as e:  # noqa: BLE001
            rec["plan_err"] = str(e)[:200]
        clear_all(spark)
        print(json.dumps(rec))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
