"""SparkSession factory tuned for the engine.

Defaults target local[N] testing but every knob is chosen for how it
behaves on a large cluster: AQE on (runtime re-plan, skew-join
handling, partition coalescing), broadcast threshold sized so dim
tables broadcast, Arrow on for the few Pandas-UDF operators.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

import pyspark
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from uber_data_pipeline_spark.sources import staging

# InferFiltersFromGenerate re-derives `size(arr) > 0 AND isnotnull(arr)`
# below every explode; predicate pushdown then substitutes the FULL
# generator expression into that filter, where it runs as an interpreted
# Predicate — for computed arrays (tokenize+shingle) the inner split()
# is re-evaluated per lambda element, an ~8x slowdown on the shingle
# pipelines. The inferred filter never changes results (explode already
# drops empty/null arrays); excluding the rule is pure win here.
EXCLUDED_OPTIMIZER_RULES = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)

# Spark's codegen cache (LRU, keyed by generated source, default 100
# entries) must hold the classes of the plans the engine re-runs, or
# every rerun pays a Janino compile and the JIT work on the new class
# again. A warm elt_daily day (merge + 8-model DAG) runs ~135 distinct
# classes, so at 100 it recompiled all of them every day; 256 is the
# smallest power of two that holds them. A static conf: it takes
# effect only when the context starts, so a caller-owned session
# keeps Spark's 100.
CODEGEN_CACHE_ENTRIES = 256

# Without native libhadoop, Hadoop's local filesystem runs a `chmod`
# process for every file and directory a write creates and a
# `readlink` process per link-status lookup: 114 and 24 on a warm
# elt_daily day. This class and its FileContext twin do both through
# java.nio; everything else (checksums included) is Hadoop's own.
_LOCAL_FS_SOURCE = os.path.join(os.path.dirname(__file__), "jvm", "NioLocalFileSystem.java")
LOCAL_FS_CLASS = "uber_data_pipeline_spark.jvm.NioLocalFileSystem"

log = logging.getLogger(__name__)


@functools.cache
def _local_fs_classes() -> str | None:
    """The directory of the compiled local filesystem classes, or None
    (logged once) when they cannot be had: no `javac`, a failed
    compile, an unwritable artifact root.

    Compiled once per source, `javac -version` and Hadoop API jar into
    ``<ARTIFACT_ROOT>/local_fs/<hash>``: the build goes to a temporary
    sibling that is renamed into place, and a published directory is
    never rewritten, so a JVM never gets a partial one on its
    classpath, even when two processes compile at once."""
    javac = shutil.which("javac")
    # the Spark the session launches: SPARK_HOME, else pyspark's own
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar")))
    if javac is None or not jars:
        log.warning("local filesystem: Hadoop's default, no javac or no hadoop-client-api jar")
        return None
    api = jars[-1]
    tmp = None
    try:
        version = subprocess.run(
            [javac, "-version"], capture_output=True, text=True, check=True
        )
        with open(_LOCAL_FS_SOURCE, "rb") as fh:
            key = hashlib.sha256(
                fh.read() + (version.stdout + version.stderr).encode()
                + os.path.basename(api).encode()
            ).hexdigest()[:16]
        out = os.path.join(staging.ARTIFACT_ROOT, "local_fs", key)
        if os.path.isdir(out):
            return out
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{key}-", dir=os.path.dirname(out))
        subprocess.run(
            [javac, "--release", "17", "-cp", api, "-d", tmp, _LOCAL_FS_SOURCE],
            capture_output=True, text=True, check=True,
        )
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # else another process published it first
                raise
        return out
    except (OSError, subprocess.CalledProcessError) as e:
        detail = (getattr(e, "stderr", None) or str(e)).strip().splitlines()[0]
        log.warning("local filesystem: Hadoop's default, %s", detail)
        return None
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)


def _local_fs_conf(master: str) -> dict:
    """The conf that installs the nio local filesystem for `file:`
    paths. Empty when the classes are missing, when the JVM is already
    running without them on its classpath (a caller-owned session keeps
    what it has), and on a cluster master, whose executors would not
    have them: in local mode every task runs in the driver JVM."""
    if not master.startswith("local"):
        return {}
    classes = _local_fs_classes()
    if classes is None:
        return {}
    jvm = SparkContext._jvm
    if jvm is not None:
        try:
            jvm.java.lang.Class.forName(LOCAL_FS_CLASS)
        except Py4JJavaError:  # ClassNotFoundException
            return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": LOCAL_FS_CLASS + "$Fs",
    }


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Runtime (SQLConf-level) tuning that must hold even when the
    caller owns the SparkSession (the round driver builds a vanilla
    one) — applied from catalog.load_table and the source readers so
    every query path gets it regardless of session factory. This
    module is the only place the engine sets session conf."""
    spark.conf.set("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
    # deterministic tz so NTZ->TIMESTAMP casts and timestamp math match
    # the oracle even when the caller's session didn't pin it
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.ts has shipped as TIMESTAMP(NANOS), which the vectorized
    # reader rejects without this; readers.normalize_events reconciles
    # the long back to a microsecond TIMESTAMP
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the snapshot python data source pushes filters; Spark rejects
    # pushFilters unless this is on when the lazy read's action runs
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # columnar cache codecs buy ~nothing on the engine's high-entropy
    # bigint/array caches: the LPA adjacency materialized in 52 s
    # compressed vs 18 s raw at 50x, and the 26 caching entries ran
    # 4% faster in sum at sf0.1 on 4 cores with every cache uncompressed
    spark.conf.set("spark.sql.inMemoryColumnarStorage.compressed", "false")
    return spark


def scoped_session(spark: SparkSession, conf: dict) -> SparkSession:
    """A child session (shared SparkContext and cache; own temp views
    and SQLConf, which starts from the SparkContext's conf plus
    tune_runtime, not from ``spark``'s runtime settings) with ``conf``
    set on it only — for the one plan that needs a width or semantics
    flag the session default must not carry, so concurrent plans on
    ``spark`` never see it."""
    child = tune_runtime(spark.newSession())
    for key, value in conf.items():
        child.conf.set(key, str(value))
    return child


def _default_driver_mem() -> str:
    """Local-mode driver-heap default: half of the machine's total
    memory, capped at 24g and floored at 2g. In local[N] the driver
    heap IS the executor heap — every task plus every concurrent
    broadcast build shares it — so 24g is right on the 128 GiB bench
    box but would push a small host into swap (ADVICE r3). Explicit
    SPARK_DRIVER_MEM always wins."""
    try:
        pages = os.sysconf("SC_PHYS_PAGES")
        page_size = os.sysconf("SC_PAGE_SIZE")
        total_gib = pages * page_size / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "24g"
    return f"{max(2, min(24, int(total_gib // 2)))}g"


def get_spark(
    app_name: str = "uber-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        # java.nio permissions and link checks for file: paths
        .config(map=_local_fs_conf(master))
        # AQE: runtime partition coalescing, skew-join splitting,
        # dynamic join-strategy switch — essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # parallelismFirst: Spark's true kept (r14 A/B 180.1 s vs 220.2 s false)
        # preferSortMergeJoin: Spark's true kept (r14 A/B 180.1 s vs 195.2 s false)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # dims up to 64 MiB broadcast instead of shuffling the fact side
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for the pandas_udf / mapInPandas operators
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # deterministic session timezone so timestamp math matches the oracle
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode sizing: half of physical RAM capped at 24g (8g
        # OOM'd broadcast builds under 8-way concurrency at the sf1
        # soak). A cluster deployment sizes executors instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.excludedRules", EXCLUDED_OPTIMIZER_RULES)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # FIFO beat per-thread-pool FAIR on both cells (SCHED_AB.md):
        # 156.0 s sequential / 30.0 s concurrent-8 vs 162.5 s / 70.7 s.
        .config("spark.scheduler.mode", "FIFO")
        .getOrCreate()
    )
