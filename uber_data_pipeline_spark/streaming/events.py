"""Streaming event analytics.

The reference's pipeline is daily-batch (Airbyte sync -> dbt); this
module is the always-on upgrade path: the same windowed aggregation
semantics expressed over ``readStream``, plus gap sessionization as a
custom stateful operator (``applyInPandasWithState``) — the thing
batch SQL cannot express incrementally.

Both runners use ``Trigger.AvailableNow`` + a memory sink so they are
testable against the batch oracles: a finite file feed, processed
with full streaming semantics (watermarks, state store), returning
the final result as a batch DataFrame.
"""

from __future__ import annotations

import itertools
import os
import shutil
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from uber_data_pipeline_spark.functions.numeric import dsum
from uber_data_pipeline_spark.session import scoped_session
from uber_data_pipeline_spark.sources.cdc import read_stream_events
from uber_data_pipeline_spark.sources.staging import (
    artifact_dir,
    ensure_staged,
    file_identity,
)
from uber_data_pipeline_spark.sources.writers import PartitionedLake

SESSION_GAP_SECONDS = 1800
_sink_ids = itertools.count()

# Every stateful stream is built on its own scoped_session child: the
# state-partition width (and, per runner, the state-store provider or
# statefulOperator.allowMultiple) is set on that child only, so
# queries planned concurrently on the caller's session never see it.
# A memory sink's view lives in the child; runners return it through
# the child's catalog.

def events_landing_dir(sf_dir: str) -> str:
    """The file stream source needs a DIRECTORY (its basePath); stage
    the events parquet into a landing dir via hardlink (fallback:
    copy). In production this is simply the ingest landing path new
    files arrive in. The stage is bound to the source's file identity,
    so a replaced source (a regenerated SF: new inode, even at equal
    size and mtime) is relinked instead of streaming the dead inode."""
    src = os.path.join(sf_dir, "events.parquet")

    def _link(tgt: str) -> None:
        dst = os.path.join(tgt, "events.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)

    return ensure_staged(
        artifact_dir("stream_landing", sf_dir),
        {"what": "stream_landing", "src": file_identity(src)},
        _link,
    )


# shuffle.partitions at a stateful query's start becomes its STATE
# STORE partition count, and every state partition pays a store
# open/commit plus a Python worker round per batch — on a single node
# 32 partitions cost ~3x over 8 for the same data. On a cluster, size
# it to executors x cores (it is fixed for the checkpoint's lifetime).
STATE_PARTITIONS = 8
_STATE_CONF = {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)}

# HDFS-backed (heap) state store is the default; RocksDB is the
# large-state path — state lives off-heap/on-disk per partition, so
# stateful queries whose working state exceeds executor heap (billions
# of session/dedup keys at 100 TB) keep running instead of OOMing.
# Same query code either way; the provider is a checkpoint-lifetime
# choice.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run an AvailableNow streaming query into a memory sink and
    return the sink as a DataFrame of the stream's own session."""
    spark = stream_df.sparkSession
    name = f"udp_stream_sink_{next(_sink_ids)}"
    (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.table(name)


def windowed_agg_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling 1-hour window per event_type with a watermark for late
    data — identical semantics to the batch events_windowed_agg, so
    the same oracle verifies it. Complete output mode: every window
    is emitted once the finite feed drains.

    sum_value goes through decimal (sum order in a shuffled stream is
    nondeterministic; decimal addition is associative-exact)."""
    ev = read_stream_events(
        scoped_session(spark, _STATE_CONF), events_landing_dir(sf_dir)
    )
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


_SESSION_STATE_SCHEMA = "start long, last long, n long, session_id long"
_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp"
)


def _session_kernel(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Gap-sessionizer fold for applyInPandasWithState: consume the
    batch's timestamp chunks into the user's state = (start_us,
    last_us, n, session_id), and emit a snapshot row per session
    touched (the final emission for a session is its closed form)."""
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    (user_id,) = key
    start, last, n, sid = state.get if state.exists else (None, None, 0, 0)
    out: list[tuple] = []
    for pdf in batches:
        ts = pdf["ts"]
        if getattr(ts.dt, "tz", None) is not None:
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        ts_us = ts.astype("datetime64[us]").astype("int64").sort_values()
        for t in ts_us:
            if last is None or t - last > gap_us:
                if last is not None:
                    out.append((sid, n, start, last))  # close previous
                sid, start, n = sid + 1, t, 1
            else:
                n += 1
            last = t
    if last is not None:
        out.append((sid, n, start, last))  # snapshot of the open one
    state.update((start, last, n, sid))
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(out),
            "session_id": [r[0] for r in out],
            "n_events": [r[1] for r in out],
            "session_start": pd.to_datetime([r[2] for r in out], unit="us"),
            "session_end": pd.to_datetime([r[3] for r in out], unit="us"),
        }
    )


ATTRIBUTION_WINDOW_MINUTES = 30


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: every view joined to the same
    user's purchases within the next ATTRIBUTION_WINDOW_MINUTES —
    real-time attribution, the flagship two-sided stateful operator.
    Both sides carry watermarks and the join carries a time-range
    constraint, which is what lets Spark BOUND the join state: a
    buffered view can be evicted once the purchase-side watermark
    passes view_ts + window (without the constraint, both sides
    buffer forever). The drained result reduces to attributed
    purchase counts per user.

    Scale shape: the join shuffles both streams on user_id (state
    co-partitioned), state size ~= arrival-rate x (watermark + range
    window) per side — independent of total stream length."""
    ev = read_stream_events(
        scoped_session(spark, _STATE_CONF), events_landing_dir(sf_dir)
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .selectExpr("user_id AS v_user", "event_id AS view_id", "ts AS vts")
        .withWatermark("vts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .selectExpr("user_id AS p_user", "event_id AS purchase_id", "ts AS pts")
        .withWatermark("pts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            f"""v_user = p_user AND pts >= vts
            AND pts <= vts + INTERVAL {ATTRIBUTION_WINDOW_MINUTES} MINUTES"""
        ),
    ).select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")
    sink = _run_to_memory(joined, "append")
    return sink.groupBy("user_id").agg(F.count("*").alias("n_attributed"))


WINDOW_TOPK = 3


def windowed_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed top-k: the watermarked tumbling-window
    aggregate (same stateful operator as `streaming_windowed_agg`)
    followed by a per-window rank on the drained sink — the
    "trending items per window" report. The rank runs OVER THE
    ALREADY-REDUCED window x type rows (bounded cardinality), so the
    expensive stateful part stays incremental and the top-k is a
    cheap batch epilogue per trigger."""
    from pyspark.sql import Window

    agg = windowed_agg_stream(spark, sf_dir)
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        agg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= WINDOW_TOPK)
        .select("window_start", "event_type", "n_events", "rk")
    )


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the at-least-once ingest guard. The
    feed replays every 10th event as a duplicate (the redelivery an
    at-least-once source produces); ``dropDuplicatesWithinWatermark``
    on event_id keeps the first arrival and drops redeliveries, with
    the watermark bounding how long each key's fingerprint stays in
    the state store — the unbounded-state-safe form of streaming
    DISTINCT. The sink is then reduced per event_type so the result
    is a small stable frame.

    Scale shape: state is partitioned by event_id hash across the
    state-store partitions; the watermark evicts fingerprints once no
    older-than-horizon arrival is possible, so state size is bounded
    by (arrival rate x watermark) regardless of total stream length."""
    ev = read_stream_events(
        scoped_session(spark, _STATE_CONF), events_landing_dir(sf_dir)
    )
    redelivered = ev.filter(F.col("event_id") % 10 == 0)
    feed = ev.unionByName(redelivered)
    deduped = (
        feed.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    sink = _run_to_memory(deduped, "append")
    return sink.groupBy("event_type").agg(F.count("*").alias("n_events"))


def sessionization_stream(
    spark: SparkSession, sf_dir: str, state_store_provider: str | None = None
) -> DataFrame:
    """Gap-based (30 min) sessionization as a custom stateful
    streaming operator — applyInPandasWithState keyed by user_id,
    keyed state carried across micro-batches.

    With the finite AvailableNow feed every user's history lands in
    the run, so the emitted snapshots equal the batch sessionization
    (same oracle); on an unbounded feed the same code keeps emitting
    per-batch session updates. NoTimeout here because the finite
    runner must terminate when the feed drains — an always-on deploy
    would set ProcessingTimeTimeout ~= the gap to evict idle users'
    state (and emit their final session) instead."""
    conf = dict(_STATE_CONF)
    if state_store_provider is not None:
        conf["spark.sql.streaming.stateStore.providerClass"] = state_store_provider
    ev = read_stream_events(
        scoped_session(spark, conf), events_landing_dir(sf_dir)
    ).select("user_id", "ts")
    sessions = ev.groupBy("user_id").applyInPandasWithState(
        _session_kernel,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(sessions, "update")


def _merge_stream(
    spark: SparkSession,
    changes: DataFrame,
    reduce: Callable[[DataFrame], DataFrame],
    lake: PartitionedLake,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """The writer of both merge streams, without its trigger: each
    micro-batch of ``changes`` is re-homed onto ``spark``, reduced to
    one change row per key by ``reduce`` and merged into ``lake``.

    The merge runs on the caller's session, not on the stream's clone
    (bdf.sparkSession): each exchange Spark starts spawns a pool thread
    that inherits the running query's session as its active one and
    outlives the run, so a merge on the clone kept every run's clone
    (one SparkSession, ~1.4 MiB) reachable. It also plans with
    ``spark``'s conf (AQE on; the stream's clone turns AQE off)."""

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        rows = DataFrame(
            spark._jsparkSession.createDataFrame(bdf._jdf.rdd(), bdf._jdf.schema()),
            spark,
        )
        lake.merge(spark, reduce(rows))

    return changes.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )


def merge_sink_stream(
    spark: SparkSession,
    base: DataFrame,
    delta_dir: str,
    delta_schema: str,
    target_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    part_expr: str,
    part_col: str = "pk_mod",
) -> DataFrame:
    """Streaming MERGE: a file stream of change rows is upserted into
    a partitioned parquet target per micro-batch via foreachBatch +
    merge_upsert_partitioned — the always-on form of the CDC load
    (Airbyte sync cadence -> continuous).

    Batching: an availableNow run consumes every file landed since the
    last run in ONE micro-batch, so a landed day costs one merge (one
    read and one rewrite of each touched partition), not one per file.
    Within the batch, each key keeps only the rows of the NEWEST file
    that carries it, newest = max (file modification time, file path):
    the order the file source would have applied one-file batches in
    (it sorts new files by mtime; see late_data_audit_stream), so the
    last file to touch a key wins exactly as it did when every file
    was merged on its own. ``key_cols`` are the table's primary key
    (non-NULL). The helper columns never reach the merge.

    Exactly-once: the checkpoint records which source files each batch
    consumed; foreachBatch re-runs a failed batch, and the partition
    overwrite inside the merge is idempotent per batch (same keys ->
    same partitions -> same result), which is the standard recipe for
    an idempotent lake sink without a table format.

    Scale shape: per batch, cost is bounded by the touched partitions
    (see merge_upsert_partitioned) plus one shuffle of the change rows
    by key; state is only the file-source log. Returns the final
    merged table (``base`` plus ``part_col``, see PartitionedLake)."""
    from pyspark.sql import Window

    lake = PartitionedLake.stage(base, target_path, key_cols, part_expr, part_col)
    changes = spark.readStream.schema(delta_schema).parquet(delta_dir).select(
        "*",
        F.struct(
            F.col("_metadata.file_modification_time"),
            F.col("_metadata.file_path"),
        ).alias("_src_file"),
    )
    by_key = Window.partitionBy(*key_cols)

    def newest(rows: DataFrame) -> DataFrame:
        return (
            rows.withColumn("_newest_file", F.max("_src_file").over(by_key))
            .filter(F.col("_src_file") == F.col("_newest_file"))
            .drop("_src_file", "_newest_file")
        )

    _merge_stream(spark, changes, newest, lake, checkpoint_dir).trigger(
        availableNow=True
    ).start().awaitTermination()
    return lake.read(spark)


# --- rate-source merge sink -------------------------------------------
#
# Deterministic change-feed derived from Spark's `rate-micro-batch`
# source (the offline Kafka stand-in): `value` is a dense 0..N counter
# (rowsPerBatch per trigger, no wall-clock content), so every change
# row is a pure function of `value` and the FINAL merged state has a
# closed relational form the DuckDB oracle recomputes. Values >=
# RATE_TOTAL are filtered to no-ops, so stopping the unbounded source
# "late" can never change the result.
RATE_TOTAL = 1000  # change events consumed from the feed
RATE_ROWS_PER_BATCH = 250  # -> 4 real micro-batches
RATE_MOD = 40  # value residue -> key-cohort selector
RATE_KEY_MOD = 1000  # key residue space (cohort = residues 0..RATE_MOD-1)


def rate_change_rows(rate: DataFrame) -> DataFrame:
    """Map raw rate rows to CDC change rows. Shared by the stream and
    any batch re-derivation: key_res selects the key cohort
    (o_orderkey % RATE_KEY_MOD == key_res), version = value gives
    last-writer-wins a total order, payloads are exact-in-double
    functions of value (halves)."""
    return rate.filter(f"value < {RATE_TOTAL}").selectExpr(
        f"CAST(value % {RATE_MOD} AS BIGINT) AS key_res",
        "CAST(value AS INT) AS version",
        "CASE CAST(value % 3 AS INT) WHEN 0 THEN 'RATE_A' "
        "WHEN 1 THEN 'RATE_B' ELSE 'RATE_C' END AS o_orderstatus",
        "CAST(1000.0D + CAST(value AS DOUBLE) * 0.5D AS DOUBLE) "
        "AS o_totalprice",
    )


def merge_sink_stream_rate(
    spark: SparkSession,
    base: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    part_expr: str,
    part_col: str = "pk_mod",
) -> DataFrame:
    """The merge sink fed by an UNBOUNDED source the engine does not
    control: `rate-micro-batch` emits rowsPerBatch rows per trigger
    forever (the Kafka analog available offline), each micro-batch is
    compacted (max-version per key, the standard per-batch CDC
    dedupe) and MERGEd into the partitioned parquet target via
    foreachBatch. Because the source never drains, termination is an
    explicit consumption threshold (>= RATE_TOTAL source rows), and
    correctness does NOT depend on where we stop: rows past
    RATE_TOTAL map to zero change rows, and the per-key
    last-writer-wins payload is a closed function of the max consumed
    version, so any stop point at-or-after the threshold yields the
    identical table.

    Scale shape: per batch the compacted change set is at most
    RATE_MOD rows — it BROADCASTS into the cohort scan, and the merge
    rewrites only the touched partitions. Offset/trigger handling is
    the source's own (batch id advances per trigger; the checkpoint
    replays exact value ranges on recovery)."""
    lake = PartitionedLake.stage(
        base, target_path, ["o_orderkey"], part_expr, part_col
    )
    # cohort dimension: the keys the feed can ever touch (bounded:
    # RATE_MOD/RATE_KEY_MOD of the table), computed once and reused
    # every batch
    cohort = (
        base.select("o_orderkey")
        .filter(F.col("o_orderkey") % RATE_KEY_MOD < RATE_MOD)
        .withColumn("key_res", F.col("o_orderkey") % RATE_KEY_MOD)
        .localCheckpoint()
    )

    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(RATE_ROWS_PER_BATCH))
        .option("numPartitions", "4")
        .load()
    )

    def compact(rows: DataFrame) -> DataFrame:
        # per-batch compaction: last writer (max version) per key
        # cohort; versions are distinct so the struct max is total
        last = (
            rows.groupBy("key_res")
            .agg(
                F.max(
                    F.struct("version", "o_orderstatus", "o_totalprice")
                ).alias("s")
            )
            .select("key_res", "s.*")
        )
        return cohort.join(F.broadcast(last), "key_res").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "version"
        )

    q = (
        _merge_stream(spark, rate_change_rows(rate), compact, lake, checkpoint_dir)
        # paced trigger: leaves an idle gap after each batch so the
        # post-threshold stop below lands between batches, and bounds
        # the busy-loop rate of the no-op tail batches
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    # termination: batch k carries values [k*rowsPerBatch,
    # (k+1)*rowsPerBatch), so a COMPLETED progress for LAST_BATCH
    # proves every value < RATE_TOTAL is merged — batches past it are
    # no-ops (rate_change_rows filters them to zero rows). Do NOT sum
    # numInputRows: the foreachBatch body runs several jobs over the
    # batch, and each re-scan of the source is counted again, so the
    # sum overshoots by the job count and would stop early.
    import time

    last_batch = RATE_TOTAL // RATE_ROWS_PER_BATCH - 1
    done = -1
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        done = max(
            (p["batchId"] for p in q.recentProgress), default=-1
        )
        if done >= last_batch:
            break
        time.sleep(0.2)
    # stop in an idle gap between batches so stop() does not interrupt
    # an in-flight foreachBatch callback — an interrupted callback
    # surfaces as uncaught-exception noise in the stream thread. The
    # paced trigger fires on wall-clock multiples of its interval, so
    # the gap after a batch is anywhere from 0 to 500 ms: poll for it
    # rather than stopping on a fixed delay after a progress event.
    settle = time.monotonic() + 10
    while (
        done >= last_batch
        and q.status["isTriggerActive"]
        and time.monotonic() < settle
    ):
        time.sleep(0.01)
    q.stop()
    q.awaitTermination()
    if done < last_batch:
        raise TimeoutError(
            f"rate feed completed batch {done} < {last_batch} in 120s"
        )
    return lake.read(spark)


def sessionization_stream_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sessionizer on the RocksDB state store provider — the
    100 TB state path (keyed state off-heap/on-disk instead of
    executor heap, changelog-checkpointed). Results must be IDENTICAL
    to the default provider, which is exactly what sharing the batch
    sessionization oracle proves; what changes is the state-size
    ceiling and the per-partition open/commit profile."""
    return sessionization_stream(
        spark, sf_dir, state_store_provider=ROCKSDB_PROVIDER
    )


def hll_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count maintenance in a STREAM with BOUNDED state: the
    running aggregate is the HLL register relation — at most
    (groups x 256) rows of keyed state no matter how many events flow
    through — instead of the unbounded per-key state an exact
    streaming COUNT(DISTINCT) would accumulate. Each micro-batch
    folds its rows into the registers with MAX (the same merge
    hll_union proves associative), so the drained stream's registers
    equal the batch sketch's and the report shares
    `events_hll_distinct`'s oracle bit-for-bit.

    This is the always-on form of the sketch rollup: per-day/-source
    register snapshots from this stream union downstream by
    register-wise MAX without touching raw history."""
    from uber_data_pipeline_spark.operators.sketches import (
        HLL_M,
        _hll_rho_sql,
        base_hash48_spark,
        hll_report_from_registers,
    )
    from uber_data_pipeline_spark.catalog import load_table

    ev = read_stream_events(
        scoped_session(spark, _STATE_CONF), events_landing_dir(sf_dir)
    )
    registers = (
        ev.selectExpr(
            "event_type",
            f"{base_hash48_spark('CAST(user_id AS string)')} AS h48",
        )
        .selectExpr(
            "event_type",
            f"h48 % {HLL_M} AS reg",
            f"h48 DIV {HLL_M} AS rest",
        )
        .selectExpr("event_type", "reg", f"{_hll_rho_sql('rest')} AS rho")
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("m_j"))
    )
    regs = _run_to_memory(registers, "complete")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return hll_report_from_registers(regs, exact, "event_type")


LATE_AUDIT_CUT = "2024-01-16 00:00:00"
LATE_AUDIT_DELAY = "1 hour"


def late_data_audit_stream(
    spark: SparkSession, sf_dir: str, delay: str = LATE_AUDIT_DELAY
) -> DataFrame:
    """Watermark late-data semantics, made auditable: the event feed
    is staged as TWO micro-batches — batch 0 is the on-time tail
    (ts >= cut), batch 1 the out-of-order stragglers (ts < cut),
    landing AFTER it like a delayed upstream partition. Once batch 0
    commits, the watermark sits at max(on-time ts) - delay, far past
    every straggler, so UPDATE-mode aggregation drops all of batch 1
    before it touches state: the final keyed state equals the
    on-time-only aggregate, which is exactly what the oracle
    recomputes (`WHERE ts >= cut`). Swap the delay past the
    stragglers' lateness and they'd be admitted — pinned by a unit
    test, proving the drop is the watermark's doing, not the feed's.

    Spark gotcha, discovered empirically and pinned here: since
    stateful-operator CHAINING became the default
    (spark.sql.streaming.statefulOperator.allowMultiple=true), a
    streaming aggregation no longer strictly drops input older than
    the watermark — a late row whose window state was already evicted
    silently re-creates the group (numRowsDroppedByWatermark stays 0)
    so chained operators can consume intermediate results. For a
    single-aggregation query that wants the classic strict-drop
    contract, the flag must be false; it is set on this query's own
    scoped session.

    Sink pattern: update mode emits changed keys per batch; each
    batch APPENDS its rows stamped with the batch id, and the final
    read keeps the last emission per key (row_number over batch desc)
    — the append-log + last-wins view that stands in for a keyed
    upsert sink, with per-key history kept for audit. State stays
    bounded by the watermark (old windows evicted); the log is
    emitted-changes-sized, compacted by the terminal last-wins read.
    """
    from uber_data_pipeline_spark.catalog import load_table

    root = artifact_dir("late_audit", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    os.makedirs(landing, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    cut = F.lit(LATE_AUDIT_CUT).cast("timestamp")
    for i, part in enumerate(
        (ev.filter(F.col("ts") >= cut), ev.filter(F.col("ts") < cut))
    ):
        stage = os.path.join(root, f"stage{i}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        src = next(
            f for f in sorted(os.listdir(stage)) if f.endswith(".parquet")
        )
        dst = os.path.join(landing, f"batch-{i}.parquet")
        os.link(os.path.join(stage, src), dst)
        # file source orders batches by modification time: pin it
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))

    # strict late-row drop (see docstring): single stateful op here
    stream_spark = scoped_session(
        spark,
        {
            **_STATE_CONF,
            "spark.sql.streaming.statefulOperator.allowMultiple": "false",
        },
    )
    changes = (
        stream_spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    agg = (
        changes.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )

    log_dir = os.path.join(root, "emit_log")

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        bdf.withColumn("batch_id", F.lit(batch_id).cast("bigint")).write.mode(
            "append"
        ).parquet(log_dir)

    (
        agg.writeStream.foreachBatch(apply_batch)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    from pyspark.sql import Window

    w = Window.partitionBy("window_start", "event_type").orderBy(
        F.desc("batch_id")
    )
    # read the log with the schema its batches wrote, not an inferred one
    return (
        spark.read.schema(StructType([*agg.schema, StructField("batch_id", LongType())]))
        .parquet(log_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("window_start", "event_type", "n_events", "sum_value")
    )


def state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming STATE itself, read as a batch table through
    Spark's `statestore` data source — the state-debugging /
    state-audit surface a production operator needs when a stateful
    query misbehaves (inspect keys, sizes, skew) without stopping it.

    A daily-window count per event_type runs over the staged feed
    (update mode, 1-hour watermark, own checkpoint); AvailableNow's
    terminal empty batch advances the watermark and EVICTS every
    finalized window, so the surviving state is exactly the
    still-open tail — windows whose end > max(ts) - delay — which is
    what the oracle recomputes relationally. Key/value structs come
    back in the store's internal layout (key.window.start,
    value.count); the projection below is the stable public face."""
    root = artifact_dir("state_read", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    ev = read_stream_events(
        scoped_session(spark, _STATE_CONF), events_landing_dir(sf_dir)
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    (
        agg.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(root, "checkpoint"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return (
        spark.read.format("statestore")
        .load(os.path.join(root, "checkpoint"))
        .select(
            F.col("key.window.start").alias("window_start"),
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n_events"),
        )
    )

