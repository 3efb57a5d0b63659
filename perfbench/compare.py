"""Compare two sets of benchmark runs, per workload and end-to-end metric.

Each set is a JSON-lines file of run records (``run.py --record``).
Untraced records only. For every (workload, metric) the report gives
each set's median and quartiles and one verdict:

- ``better``: the new set wins at least 9 of every 10 pairs (runs
  paired in file order, ties count for neither) and the medians differ
  by more than the base set's own quartile spread;
- ``worse``: the new median is worse by more than the metric's bound
  and the spread of both sets is within the bound (or every new run is
  worse than every base run);
- ``unresolved``: a set's quartile spread is wider than the bound, and
  not every new run beats every base run;
- ``within bound``: otherwise.
"""

from __future__ import annotations

import json
import statistics


def _load(path: str) -> dict[str, dict[str, list[float]]]:
    out: dict[str, dict[str, list[float]]] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            if rec.get("trace"):
                continue
            per = out.setdefault(rec["workload"], {})
            for name, v in rec["end_to_end"].items():
                per.setdefault(name, []).append(float(v))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def verdict(base: list[float], new: list[float], bound: float, lower_is_better: bool) -> str:
    sign = 1.0 if lower_is_better else -1.0
    mb, mn = statistics.median(base), statistics.median(new)
    worse_by = sign * (mn - mb) / mb if mb else 0.0
    pairs = list(zip(base, new))
    wins = sum(sign * (b - n) > 0 for b, n in pairs)
    all_better = all(sign * (b - n) > 0 for b in base for n in new)
    all_worse = all(sign * (n - b) > 0 for b in base for n in new)
    q1, _, q3 = quartiles(base)
    if pairs and wins >= 0.9 * len(pairs) and abs(mn - mb) > (q3 - q1):
        return "better"
    noisy = max(spread(base), spread(new)) > bound
    if worse_by > bound and (not noisy or all_worse):
        return "worse"
    if noisy and not all_better:
        return "unresolved"
    return "within bound"


def compare_main(base_path: str, new_path: str, spec: dict) -> int:
    base, new = _load(base_path), _load(new_path)
    metrics = spec["end_to_end"]
    rows, bad = [], 0
    for wl in sorted(set(base) & set(new)):
        for m in metrics:
            b, n = base[wl].get(m["name"], []), new[wl].get(m["name"], [])
            if not b or not n:
                continue
            v = verdict(b, n, m["bound"], m["better"] == "lower")
            bad += v == "worse"
            qb, qn = quartiles(b), quartiles(n)
            rows.append(
                f"{wl:16s} {m['name']:14s} {m['unit']:6s} "
                f"base {qb[1]:10.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(b):<3d} "
                f"new {qn[1]:10.4g} [{qn[0]:.4g}, {qn[2]:.4g}] n={len(n):<3d} "
                f"spread {spread(b):.3f}/{spread(n):.3f} bound {m['bound']:.2f}  {v}"
            )
    print("\n".join(rows))
    missing = sorted(set(base) ^ set(new))
    if missing:
        print(f"workloads in only one set: {missing}")
    return 1 if bad else 0
