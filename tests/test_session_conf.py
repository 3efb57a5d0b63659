"""Session-conf ownership: only session.py sets SQLConf on a session,
and operators that need a different width or streaming flag get it on
a scoped child session. Queries running concurrently on one shared
session must therefore never see each other's settings, and must
return the same rows as when run one at a time."""

from __future__ import annotations

import hashlib
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from uber_data_pipeline_spark.testing import normalize

WATCHED_KEYS = (
    "spark.sql.streaming.statefulOperator.allowMultiple",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.shuffle.partitions",
    "spark.sql.sources.partitionOverwriteMode",
)

ENTRIES = (
    "streaming_late_data_audit",
    "streaming_sessionization_rocksdb",
    "streaming_state_store_read",
    "snapshot_python_datasource",
    "dedup_clusters",
    "cdc_incremental_merge",
    "tpch_q3_shipping_priority",
    "events_windowed_agg",
)


def _conf(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in WATCHED_KEYS}


def _value_hash(spark, name: str) -> str:
    pdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    return hashlib.md5(
        pd.util.hash_pandas_object(normalize(pdf), index=False).values.tobytes()
    ).hexdigest()


def test_scoped_session_conf_stays_in_child(spark):
    from uber_data_pipeline_spark.session import scoped_session

    before = _conf(spark)
    child = scoped_session(spark, {"spark.sql.shuffle.partitions": 3})
    assert child.conf.get("spark.sql.shuffle.partitions") == "3"
    assert child.conf.get("spark.sql.session.timeZone") == "UTC"
    assert _conf(spark) == before


def test_concurrent_entries_leave_session_conf_and_results_unchanged(spark):
    """8 threads run the stateful streams and batch entries on the
    shared session while a sampler reads the watched conf keys: every
    sample equals the pre-run snapshot, and every entry's value hash
    equals its sequential one."""
    snapshot = _conf(spark)
    sequential = {name: _value_hash(spark, name) for name in ENTRIES}
    samples: list[dict] = [_conf(spark)]
    done = threading.Event()

    def sample() -> None:
        while not done.is_set():
            samples.append(_conf(spark))
            done.wait(0.005)

    sampler = threading.Thread(target=sample)
    sampler.start()
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            concurrent = dict(
                zip(ENTRIES, pool.map(lambda n: _value_hash(spark, n), ENTRIES))
            )
    finally:
        done.set()
        sampler.join(timeout=60)
    assert not sampler.is_alive()
    samples.append(_conf(spark))

    assert len(samples) > 10
    drifted = [s for s in samples if s != snapshot]
    assert not drifted, f"session conf moved: {drifted[0]} != {snapshot}"
    assert concurrent == sequential


def test_session_sizes_the_codegen_cache(spark):
    """get_spark sizes Spark's codegen cache to the engine's constant
    (a static conf: set in the builder, before the context starts)."""
    from uber_data_pipeline_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
