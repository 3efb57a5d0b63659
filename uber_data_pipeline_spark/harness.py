"""Measurement harness shared by bench.py, tools/ and tests/: clearing a
session between entries, the warm-up pass, the compile counters, the
timed noop-sink run, the DuckDB oracle views and the commit stamp."""

from __future__ import annotations

import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_WARM_DIR = "/root/testdata/sf0.001"


def clear_all(spark) -> None:
    """Drop EVERYTHING a query materialized: clearCache() frees
    InMemoryRelations but NOT localCheckpoint blocks, which otherwise
    accumulate in the block manager across a 212-entry sweep until
    Python's lazy GC gets around to them (r11: the accumulated
    pressure inflated late heavy entries 3-13x at sf1). Explicitly
    unpersist every persistent RDD between queries — queries are
    independent, so nothing later can need an earlier one's blocks.
    Never raises: cleanup must not kill a sweep."""
    try:
        spark.catalog.clearCache()
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def warm_dir(sf_dir: str) -> str:
    """The sf0.001 next to ``sf_dir`` if there is one, else the
    default sf0.001 test data."""
    sibling = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    return sibling if os.path.isdir(sibling) else DEFAULT_WARM_DIR


def compile_warmup(spark, fns, sf_dir: str) -> None:
    """Run every ``fn(spark, dir)`` once at the smallest SF before
    timing, so one-time process costs are not billed to whichever
    entries are timed first: class loading for each operator path, JIT
    warm-up of Spark's and Janino's own code, and staging work done on
    first touch (r2: 12 s of the front entry's 14 s was such cost,
    measured 1.4 s warm). It does not leave the timed run's generated
    classes compiled: Spark's codegen cache is an LRU of
    ``session.CODEGEN_CACHE_ENTRIES`` (256) classes keyed by source
    text, and the whole registry generates thousands, so a
    full-registry run recompiles nearly every class it times (bench.py
    at sf0.001: 4,333 compiles in the timed pass); only a warm-up of a
    few named entries (the rebench and profile tools) still fits. An
    entry that raises is skipped; the session is cleared after each."""
    d = warm_dir(sf_dir)
    for fn in fns:
        try:
            fn(spark, d).count()
        except Exception:  # noqa: BLE001 — warm-up must never kill a sweep
            pass
        clear_all(spark)


def compile_counters(spark) -> tuple[int, int]:
    """(classes Janino has compiled for Spark's generated code, ms the
    JVM's JIT compilers have spent) in this process so far. Both are
    process-wide, so a delta around one sequential run is that run's;
    the JIT compiles in the background, so its delta also holds work
    queued just before the run."""
    jvm = spark._jvm
    return (
        jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime(),
    )


def timed_noop_run(spark, fn, sf_dir, clear_all, threshold_s: float = 0.3):
    """THE shared bench measurement kernel (r12 — previously
    copy-pasted in bench.py, tools/rebench_entries.py and
    tools/scale_ladder.py, whose docstrings promise byte-identical
    methodology; one estimator change already had to be applied three
    times in lockstep).

    Times fn(spark, sf_dir) with a full-column noop-sink write +
    observe() row count: up to 4 reps — rep 1 always; sub-threshold
    entries stop there; reps 2-3 otherwise; a 4th only when the first
    three spread > 2x (bimodal host contention — one more draw from
    the fast regime). Estimator = MIN of reps (contention only ever
    ADDS time; see bench.py's comment / VERDICT r11 item 1).
    ``clear_all`` is called between reps (cache + localCheckpoint
    cleanup is the caller's policy). Returns (min_s, reps, rows)."""
    import time

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    reps: list[float] = []
    rows = None
    for i in range(4):
        t0 = time.perf_counter()
        obs = Observation()
        (
            fn(spark, sf_dir)
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        rows = obs.get["n"]
        reps.append(round(time.perf_counter() - t0, 3))
        clear_all(spark)
        if i == 0 and reps[0] <= threshold_s:
            break
        if i == 2 and max(reps) <= 2.0 * min(reps):
            break
    return min(reps), reps, rows


def duck_views(sf_dir: str):
    """A DuckDB connection with one view per catalog table found in
    ``sf_dir``. Spill goes outside the repo: DuckDB's default
    temp_directory is cwd-relative (".tmp"), which once swept 7.6 GB
    of spill files into a git snapshot."""
    import duckdb

    from uber_data_pipeline_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def git_commit() -> str:
    """Short hash of the checked-out commit ("" outside a git tree)."""
    return subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        capture_output=True,
        text=True,
        cwd=REPO,
    ).stdout.strip()
