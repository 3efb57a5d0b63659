#!/usr/bin/env python
"""Concurrent-throughput knee study (VERDICT r9 item 6): the
concurrent-8 bench wall has been flat (~37 s) for three rounds while
the registry grew — find where adding submitter threads stops
helping on one 32-slot local executor.

Methodology = SCHED_AB.md / bench.py's concurrent pass exactly: the
FULL registry through an N-thread pool, one noop-sink write per
entry, longest-processing-time-first submission (per the committed
bench_detail.json sequential timings), fair-share widths on a
scoped child session per cell, FIFO scheduler (the session
default). One warm sequential prime pass at the target SF so plan
compilation isn't billed to the first cell; cells run back-to-back
on one SparkSession.

Usage:
    python tools/concurrency_knee.py [out_json] [workers ...]

Defaults: SCHED_knee.json at the repo root, workers 8 16 32.
SF dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from uber_data_pipeline_spark.session import get_spark, scoped_session  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_secs() -> dict[str, float]:
    try:
        with open(os.path.join(REPO, "bench_detail.json")) as fh:
            return {
                k: float(v)
                for k, v in json.load(fh).get("queries", {}).items()
            }
    except (OSError, ValueError):
        return {}


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "SCHED_knee.json"
    )
    workers = [int(w) for w in sys.argv[2:]] or [8, 16, 32]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark(app_name="udp-concurrency-knee")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    secs = _bench_secs()
    ordered = sorted(qs.items(), key=lambda kv: -secs.get(kv[0], 0.0))

    # prime: one sequential pass compiles every plan and faults the
    # parquet footers in, so cell 1 isn't billed the cold start
    print(f"prime pass ({len(ordered)} entries) ...", file=sys.stderr)
    for name, fn in ordered:
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            print(f"prime {name}: {e}", file=sys.stderr)
        spark.catalog.clearCache()

    def _run_one(item):
        name, fn = item
        try:
            fn(cspark, sf_dir).write.format("noop").mode("overwrite").save()
            return None
        except Exception as e:  # noqa: BLE001
            return f"{name}: {e}"

    cells: dict = {}
    cores = spark.sparkContext.defaultParallelism
    for n in workers:
        # mirroring bench.py's concurrent pass (r13): each in-flight
        # query's spread cap is its exact fair share of the slots
        # (cores/n beat cores*2/n AND spread-off in the r13 A/B), and
        # its shuffle width 2x that (r13 A/B: 47.6 s at the default 32
        # -> 43.8 s at cores*2/8 -> 48.8 s at cores/8 on the
        # 226-entry registry, concurrent-8)
        cspark = scoped_session(
            spark,
            {
                "spark.udp.spread.maxPartitions": max(4, cores // n),
                "spark.sql.shuffle.partitions": max(8, cores * 2 // n),
            },
        )
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=n) as pool:
            errs = [r for r in pool.map(_run_one, ordered) if r]
        wall = round(time.perf_counter() - t0, 3)
        cells[str(n)] = {
            "wall_s": wall,
            "errors": len(errs),
            "error_msgs": [e[:300] for e in errs[:5]],
        }
        print(f"workers={n}: {wall}s, {len(errs)} errors", file=sys.stderr)

    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True,
    ).stdout.strip()
    out = {
        "metric": "full-registry concurrent wall seconds by submitter "
                  "thread count, FIFO scheduler, LPT submission order",
        "method": "bench.py concurrent-pass methodology; one warm "
                  "sequential prime pass; cells back-to-back on one "
                  "session; local[32]",
        "commit": commit,
        "sf_dir": sf_dir,
        "n_queries": len(ordered),
        "cells": cells,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v["wall_s"] for k, v in cells.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
