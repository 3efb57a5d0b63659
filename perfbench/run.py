"""Benchmark of the engine: three seeded workloads, end-to-end metrics,
a traced run for per-layer metrics, and a compare mode.

Run from the repository root:

    python3 perfbench/run.py --workload marts_adhoc --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --compare base.jsonl new.jsonl
    python3 perfbench/run.py --selftest

The last line of a run's standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Every run also appends a full record (both metric sets,
per-op timings and a machine stamp) to ``--record``. See
``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
SCALES = (0.01, 0.001)  # committed copies of the engine's test tables
TAIL_LADDER = (99, 95, 90, 80, 75, 50)
POLL_MS = 100
SETTLE_ROUNDS = (5, 20)  # min and max full GCs before reading the live heap


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _env_for_spark(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM, the Python workers and DuckDB
    write inside the checkout, and make the engine importable in the
    Python workers. The session's own settings (heap size included)
    are left to ``get_spark``; the only Spark setting added is the
    memory poller's interval, so the driver's peak memory metrics are
    sampled often enough to be repeatable."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        + f" -Dspark.executor.metrics.pollingInterval={POLL_MS}ms"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))


def _jvm_memory_mb(spark) -> dict:
    """The driver JVM's peak heap and off-heap memory in use, from the
    status store's ``peakMemoryMetrics`` (local mode runs every task in
    the driver), and its heap still live once the context cleaner has
    released what finished ops left behind."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    out = {"heap": 0.0, "offheap": 0.0}
    peak = sc._jsc.sc().statusStore().executorSummary("driver").peakMemoryMetrics()
    if peak.isDefined():
        out["heap"] = peak.get().getMetricValue("JVMHeapMemory") / 2**20
        out["offheap"] = peak.get().getMetricValue("JVMOffHeapMemory") / 2**20
    # Python's collection drops the gateway references to finished
    # plans. The context cleaner then releases their broadcasts, shuffles
    # and checkpoints asynchronously (within ~1 s of the first collection
    # at scale 0.01), so the JVM collects every 0.5 s, at least
    # SETTLE_ROUNDS[0] times, until two rounds agree within 1 MiB.
    gc.collect()
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for i in range(SETTLE_ROUNDS[1]):
        if i:
            time.sleep(0.5)
        spark._jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if i + 1 >= SETTLE_ROUNDS[0] and abs(readings[-1] - readings[-2]) < 1.0:
            break
    out["live_heap"] = readings[-1]
    return out


def _pct(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if values else 0.0


def _tail_pct(n: int) -> int:
    """Highest ladder percentile with at least 10 samples beyond it;
    the median when the run has fewer than 20 ops."""
    return next((q for q in TAIL_LADDER if n * (100 - q) / 100 >= 10), 50)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for the JVM to exit
    (the Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> int:
    try:
        import uber_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import procstat
    from oracle import OracleCache
    from trace import Tracer
    from workloads import WORKLOADS, Ctx, run_window

    spec = _spec()
    stamp_before = procstat.machine_stamp()
    cores = len(os.sched_getaffinity(0))
    data_dir = os.path.join(DATA, f"sf{args.scale:g}")
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    _env_for_spark(WORK, cores)

    oracles = OracleCache(WORK, data_dir)
    workload = WORKLOADS[args.workload]

    from uber_data_pipeline_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t_setup
    try:
        t_warm = time.perf_counter()
        _warm(spark, data_dir, workload.python_workers)
        warm_s = time.perf_counter() - t_warm
        t_stage = time.perf_counter()
        ctx = Ctx(spark, args.seed, cores, data_dir, run_dir, oracles, corrupt=args.corrupt)
        wl = workload(ctx)
        wl.setup()
        stage_s = time.perf_counter() - t_stage
        setup_s = time.perf_counter() - t_setup
        if args.trace:
            ctx.tracer = Tracer(spark, single_client=wl.clients == 1)
            ctx.tracer.install()

        pids = procstat.tree()
        cpu0 = procstat.cpu_seconds(pids)
        min_cycles = 2 if args.trace and len(set(wl.cycle_names())) > 1 else 1
        ops, window_s = run_window(wl, args.seconds, min_cycles, bool(args.trace))
        pids = procstat.tree()
        cpu1 = procstat.cpu_seconds(pids)
        jvm = procstat.jvm_pid()
        mem = {"driver_hwm": procstat.peak_rss_mb([os.getpid()]),
               "jvm_hwm": procstat.peak_rss_mb([jvm] if jvm else []),
               **_jvm_memory_mb(spark)}

        if ctx.tracer is not None:
            ctx.tracer.batch_spans()
            ctx.tracer.uninstall()
        lake_files = sum(
            1 for _r, _d, fs in os.walk(getattr(wl, "lake", run_dir)) for f in fs
            if f.endswith(".parquet")
        ) if wl.name == "elt_daily" else 0
        wl.check(ops)
        oracles.save()
        oracles.close()
    finally:
        _stop_spark(spark)

    attempted = len(ops)
    errors = sum(op.error is not None for op in ops)
    wrong = sum(op.wrong for op in ops)
    plain = [op for op in ops if not op.traced]
    walls = [op.wall for op in plain if op.error is None]
    tail_q = _tail_pct(len(walls))
    e2e = {
        "op_s_p50": statistics.median(walls) if walls else 0.0,
        "op_s_tail": _pct(walls, tail_q),
        "ops_per_s": len([op for op in ops if op.error is None]) / window_s,
        "cpu_s_per_op": (cpu1 - cpu0) / max(1, attempted),
        "setup_s": setup_s,
        "mem_mb": mem["driver_hwm"] + mem["live_heap"] + mem["offheap"],
    }
    info = {
        "failed_frac": (errors + wrong) / max(1, attempted),
        "wrong_frac": wrong / max(1, attempted),
        "tail.pct": tail_q,
        "tail.samples_beyond": sum(w > e2e["op_s_tail"] for w in walls),
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "session.stage_s": stage_s,
        "memory.driver_hwm_mb": mem["driver_hwm"],
        "memory.jvm_live_heap_mb": mem["live_heap"],
        "memory.jvm_heap_peak_mb": mem["heap"],
        "memory.jvm_offheap_peak_mb": mem["offheap"],
        "memory.jvm_rss_hwm_mb": mem["jvm_hwm"],
    }

    layer = dict(info)
    if ctx.tracer is not None:
        layer.update(_layer_metrics(ctx, wl, ops, cores, lake_files))
        ctx.tracer.write(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "time": time.time(),
        "attempted": attempted, "errors": errors, "wrong": wrong,
        "window_s": window_s, "end_to_end": e2e, "per_layer": layer, "memory_mb": mem,
        "machine_before": stamp_before, "machine_after": procstat.machine_stamp(),
        "ops": [
            {"name": op.name, "cycle": op.cycle, "traced": op.traced, "wall": op.wall,
             "construct": op.construct, "execute": op.execute, "error": op.error,
             "wrong": op.wrong, **{k: v for k, v in op.extra.items() if k != "model_s"}}
            for op in ops
        ],
    }
    if args.record:
        os.makedirs(os.path.dirname(os.path.abspath(args.record)), exist_ok=True)
        with open(args.record, "a") as f:
            f.write(json.dumps(record) + "\n")
    for op in ops:
        if op.error or op.wrong:
            print(f"# {'ERROR' if op.error else 'WRONG'} op {op.idx} {op.name}: "
                  f"{op.error or op.extra.get('wrong_models', 'result differs from oracle')}")
    print(f"# machine before {json.dumps(stamp_before)}")
    print(f"# machine after  {json.dumps(record['machine_after'])}")
    print(f"# {args.workload} seed={args.seed} ops={attempted} window_s={window_s:.2f} "
          f"tail=p{tail_q} ({info['tail.samples_beyond']} beyond of {len(walls)})")
    for name, v in {**e2e, **info}.items():
        print(f"# {name:28s} {v:12.6g} {units.get(name, '')}")
    print(json.dumps({
        "correct": errors + wrong == 0, "attempted": attempted,
        "failed": errors + wrong, "metrics": metrics,
    }))
    return 0


def _warm(spark, data_dir: str, python_workers: bool) -> None:
    """Session warm-up: one catalog read and, for workloads that use
    them, one Arrow round trip through the Python workers (their
    start-up is a one-time cost of ~5 s on 4 cores)."""
    from pyspark.sql import functions as F

    from uber_data_pipeline_spark.catalog import load_table

    load_table(spark, data_dir, "nation").groupBy("n_regionkey").count().collect()
    if not python_workers:
        return

    def ident(batches):
        yield from batches

    df = spark.range(0, 1000, numPartitions=spark.sparkContext.defaultParallelism)
    df.withColumn("x", F.col("id") * 2).mapInPandas(ident, "id long, x long").count()


def _overhead(ops) -> float:
    """Median traced op wall over median untraced op wall, minus 1."""
    t = [op.wall for op in ops if op.error is None and op.traced]
    u = [op.wall for op in ops if op.error is None and not op.traced]
    return statistics.median(t) / statistics.median(u) - 1 if t and u else 0.0


def _layer_metrics(ctx, wl, ops, cores: int, lake_files: int) -> dict:
    """Per-layer metrics from the traced ops, their spans and the
    stream's progress events. Per-op figures are means over traced ops."""
    from trace import union_len
    from workloads import MODELS, OPERATOR_ENTRIES

    tracer = ctx.tracer
    tracer.assign_parents()
    spans = tracer.spans
    traced = [op for op in ops if op.traced and op.error is None]
    n = max(1, len(traced))
    catalog = {i for i, s in enumerate(spans) if s.name == "catalog.load_table"}
    jobs = [s for s in spans if s.name == "spark.job"]

    def covered(op, js) -> float:
        return union_len([(max(s.start, op.start), min(s.end, op.end)) for s in js if s.op == op.idx])

    gaps = [op.wall - covered(op, jobs) for op in traced]
    non_catalog = [s for s in jobs if s.parent not in catalog]
    floor = sum(op.wall - covered(op, non_catalog) for op in traced)
    wall_sum = sum(op.wall for op in traced)

    def agg(key: str) -> float:
        return sum((op.spark or {}).get(key, 0.0) for op in traced) / n

    out = {
        "catalog.load_table_calls_per_op": len(catalog) / n,
        "catalog.load_table_s_per_op": sum(spans[i].end - spans[i].start for i in catalog) / n,
        "catalog.jobs_per_op": sum(s.parent in catalog for s in jobs) / n,
        "queries.construct_s": _mean(op.construct for op in traced),
        "queries.execute_s": _mean(op.execute for op in traced),
        "queries.jobs_per_op": agg("jobs"),
        "queries.stages_per_op": agg("stages"),
        "queries.driver_gap_s": _mean(gaps),
        "queries.floor_share": floor / wall_sum if wall_sum else 0.0,
        "spark.tasks_per_op": agg("tasks"),
        "spark.task_run_s_per_op": agg("task_run_s"),
        "spark.task_cpu_s_per_op": agg("task_cpu_s"),
        "spark.gc_s_per_op": agg("gc_s"),
        "spark.shuffle_read_mb_per_op": agg("shuffle_read_mb"),
        "spark.shuffle_write_mb_per_op": agg("shuffle_write_mb"),
        "spark.spill_mb_per_op": agg("spill_mb"),
        # task time over the op's share of the slots (cores / clients)
        "spark.slot_util": agg("task_run_s") * n / (wall_sum * cores / wl.clients) if wall_sum else 0.0,
        "trace.overhead_frac": _overhead(ops),
    }
    for layer, s in tracer.self_times().items():
        out[f"self_s.{layer}"] = s / n
    for entry in OPERATOR_ENTRIES:
        w = [op.wall for op in ops if op.name == entry and op.error is None]
        out[f"operators.{entry}.s"] = statistics.median(w) if w else 0.0
    if wl.name == "elt_daily":
        progress = [p for p in tracer.progress if p.get("op") is not None]

        def batch_mean(*keys: str) -> float:
            return _mean(sum(p["duration_ms"].get(k, 0) for k in keys) / 1e3 for p in progress)

        merges = [s for s in spans if s.name == "writers.merge_upsert_partitioned"]
        landed = sum(op.extra["landed_bytes"] for op in traced)
        written = sum(s.bytes_written for s in merges)
        out.update({
            "streaming.batches_per_day": len(progress) / n,
            "streaming.add_batch_s": batch_mean("addBatch"),
            "streaming.query_planning_s": batch_mean("queryPlanning"),
            "streaming.commit_s": batch_mean("walCommit", "commitOffsets"),
            "streaming.trigger_s": batch_mean("triggerExecution"),
            "writers.merge_calls_per_day": len(merges) / n,
            "writers.merge_s_per_day": sum(s.end - s.start for s in merges) / n,
            "writers.bytes_written_mb_per_day": written / 2**20 / n,
            "writers.write_amp": written / landed if landed else 0.0,
            "writers.lake_files": lake_files,
            "plans.run_dag_s": _mean(op.extra["run_dag_s"] for op in traced),
        })
        for m in MODELS:
            out[f"plans.model_s.{m}"] = _mean(op.extra["model_s"].get(m, 0.0) for op in traced)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", choices=("elt_daily", "marts_adhoc", "operators_heavy"))
    p.add_argument("--seed", type=int, default=1, help="workload seed (start of the op order, change batches)")
    p.add_argument("--seconds", type=float, default=10.0, help="measured window; whole cycles always finish")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, choices=SCALES, default=SCALES[0],
                   help="scale factor of the committed dataset under perfbench/data")
    p.add_argument("--record", default=os.path.join(WORK, "results.jsonl"),
                   help="append the full run record here (JSON lines)")
    p.add_argument("--corrupt", action="store_true", help="self-test: corrupt one result before its check")
    p.add_argument("--compare", nargs=2, metavar=("BASE", "NEW"),
                   help="compare two sets of run records (JSON lines files)")
    p.add_argument("--selftest", action="store_true", help="tiny-scale smoke run of every workload")
    args = p.parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    if args.compare:
        from compare import compare_main

        return compare_main(args.compare[0], args.compare[1], _spec())
    if args.selftest:
        from selftest import selftest_main

        return selftest_main(os.path.abspath(__file__), _spec())
    if not args.workload:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    raise SystemExit(main())
