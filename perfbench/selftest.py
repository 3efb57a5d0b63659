"""Self-test: a tiny-scale smoke run of every workload.

For each workload, one untraced run must emit every end-to-end metric
of BENCHMARK.json and pass its checks, and one traced run with a
deliberately corrupted result must emit every per-layer metric, report
the run as incorrect and raise ``wrong_frac`` above 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

WORKLOADS = ("elt_daily", "marts_adhoc", "operators_heavy")


def _run(script: str, record: str, *extra: str) -> dict:
    cmd = [sys.executable, script, "--scale", "0.001", "--seconds", "1", "--seed", "7",
           "--record", record, *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def selftest_main(script: str, spec: dict) -> int:
    record = os.path.join(os.path.dirname(script), ".work", "selftest.jsonl")
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    failures = []
    for wl in WORKLOADS:
        try:
            plain = _run(script, record, "--workload", wl, "--trace", "0")
            assert set(plain["metrics"]) == e2e, f"end-to-end names differ: {sorted(set(plain['metrics']) ^ e2e)}"
            assert plain["correct"] and plain["failed"] == 0, f"clean run not correct: {plain}"
            bad = _run(script, record, "--workload", wl, "--trace", "1", "--corrupt")
            assert set(bad["metrics"]) == layer, f"per-layer names differ: {sorted(set(bad['metrics']) ^ layer)}"
            assert not bad["correct"] and bad["failed"] >= 1, f"corrupted run passed: {bad['failed']}"
            assert bad["metrics"]["wrong_frac"]["value"] > 0, "wrong_frac stayed 0"
            print(f"ok   {wl}: {plain['attempted']} ops clean, "
                  f"wrong_frac {bad['metrics']['wrong_frac']['value']:.3f} when corrupted")
        except AssertionError as e:
            failures.append(wl)
            print(f"FAIL {wl}: {e}")
    print(f"{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0
