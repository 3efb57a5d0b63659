"""Pipeline-surface queries (SURVEY.md §2.4): incremental CDC merge,
the dbt/Dagster-style DAG run, and the streaming variants of the
event analytics.

The CDC scenario is synthesized deterministically from `orders` so
the oracle can replay it: a full load before the cutoff date, then a
delta batch containing the post-cutoff inserts plus updates to every
97th pre-cutoff key (status -> 'U', price uplift computed in decimal
so both engines agree bit-for-bit).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uber_data_pipeline_spark.catalog import load_table
from uber_data_pipeline_spark.sources.staging import (
    artifact_dir,
    ensure_staged,
    file_identity,
    sf_name,
    spark_success,
)
from uber_data_pipeline_spark.sources.cdc import merge_latest, scd2_history
from uber_data_pipeline_spark.sources.writers import PartitionedLake
from uber_data_pipeline_spark.streaming.events import (
    LATE_AUDIT_CUT,
    RATE_MOD,
    RATE_KEY_MOD,
    RATE_TOTAL,
    state_store_read,
    dedup_stream,
    hll_distinct_stream,
    late_data_audit_stream,
    merge_sink_stream,
    sessionization_stream,
    sessionization_stream_rocksdb,
    stream_stream_join,
    windowed_agg_stream,
    windowed_topk_stream,
)

CDC_CUTOFF = "2000-01-01 00:00:00"
_UPDATE_EVERY = 97
# decimal-exact uplift: DECIMAL * DECIMAL, cast to double at the end
_UPLIFT_SQL = (
    "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,2)) AS DOUBLE)"
)

def _cdc_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The deterministic CDC scenario: (base snapshot, delta batch)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp_ntz")
    base = (
        orders.filter(F.col("o_orderdate") < cutoff)
        .withColumn("version", F.lit(0))
        .drop("o_orderdate")
    )
    inserts = (
        orders.filter(F.col("o_orderdate") >= cutoff)
        .withColumn("version", F.lit(1))
        .drop("o_orderdate")
    )
    updates = (
        base.filter(F.col("o_orderkey") % _UPDATE_EVERY == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.expr(_UPLIFT_SQL))
        .withColumn("version", F.lit(1))
    )
    return base, inserts.unionByName(updates)


def cdc_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark load + latest-version-wins merge (the Airbyte
    CDC role, sources/cdc.py). Full snapshot after one delta batch."""
    base, delta = _cdc_frames(spark, sf_dir)
    merged = merge_latest(base, delta, ["o_orderkey"], "version")
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("total_price"),
        "version",
    )


def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 build over the same CDC batch: every version kept as a
    history row with its validity interval (sources/cdc.scd2_history
    — one union + one per-key window)."""
    base, delta = _cdc_frames(spark, sf_dir)
    hist = scd2_history(base, delta, ["o_orderkey"], "version")
    return hist.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("total_price"),
        "version",
        "valid_to_version",
        "is_current",
    )


def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the nightly rollup
    (revenue + order count per (status, month)) is NOT recomputed from
    scratch when the delta batch lands — the delta is aggregated alone
    and MERGED with the stored partial aggregate (sums add, counts
    add). This query materializes base-side and delta-side partials
    from the same CDC split used by `cdc_incremental_merge` and
    returns the merged rollup; the oracle recomputes the rollup from
    the full union, proving merge == recompute.

    Scale shape: the base partial is month x status cardinality
    (tiny, stored); only the DELTA is scanned and aggregated per
    refresh — the 100 TB history is never re-read. Works because SUM
    and COUNT are commutative monoids; AVG-style views must store
    (sum, count) parts, which is exactly what this does.

    Note: the CDC updates in the delta are new VERSIONS of existing
    keys; for additive view maintenance each update contributes a
    retraction of the old row + insertion of the new one, so the
    delta partial here is built from (inserts + updates - retracted
    old versions) — the retraction is the negated base row."""
    base, delta = _cdc_frames(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")

    def rollup(df: DataFrame, sign: int) -> DataFrame:
        return (
            df.join(orders, "o_orderkey")
            .groupBy(month, F.col("o_orderstatus").alias("status"))
            .agg(
                F.sum(
                    (F.lit(sign) * F.col("o_totalprice")).cast("decimal(25,4)")
                ).alias("rev_part"),
                (F.lit(sign) * F.count("*")).alias("cnt_part"),
            )
        )

    retracted = base.join(
        delta.filter(F.col("o_orderstatus") == "U").select("o_orderkey"),
        "o_orderkey",
        "left_semi",
    )
    parts = (
        rollup(base, 1)
        .unionByName(rollup(delta, 1))
        .unionByName(rollup(retracted, -1))
    )
    return (
        parts.groupBy("month", "status")
        .agg(
            F.sum("rev_part").alias("rev_dec"),
            F.sum("cnt_part").alias("n_orders"),
        )
        .filter(F.col("n_orders") > 0)
        .selectExpr(
            "month",
            "status",
            "CAST(rev_dec AS DOUBLE) AS revenue",
            "n_orders",
        )
    )


def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for a JOIN view — the first-order
    delta-join rule (Blakeley 1986's differential view maintenance;
    DBToaster's delta queries): when the delta arrives on ONE input of
    a two-way join, the maintained view is

        V_new = (V_old ANTI-JOIN changed keys) UNION (delta JOIN other side)

    — no re-join of the unchanged bulk. Here the stored view is the
    order x line-item flat join with per-line discounted revenue; the
    CDC batch (same deterministic split as `cdc_incremental_merge`)
    lands inserts + new versions on the ORDERS side only. Updated
    keys retract their old view rows via a broadcast anti-join; the
    delta re-joins only against line items for its own keys.

    The result aggregates the MAINTAINED view per order status (line
    count, distinct orders, exact decimal revenue) plus the delta
    telemetry (`lines_from_delta`); the oracle recomputes the same
    aggregate from the fully merged latest-version-wins join, proving
    maintenance == recompute.

    Scale shape: at 100 TB the stored view is scanned once with a
    BROADCAST anti-join on the delta's key set (no shuffle of V_old;
    on a key-partitioned lake the same key set prunes partitions
    before the scan) and only the delta — inserts + updates, not the
    history — pays the join shuffle. The join view itself never
    rebuilds; contrast `incremental_agg_maintenance`, which maintains
    an AGGREGATE by partial-merge — this maintains the join ROWS."""
    base, delta = _cdc_frames(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    line_rev = (
        "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4)) AS line_rev"
    )
    v_old = base.join(li, "o_orderkey").selectExpr(
        "o_orderkey", "o_orderstatus", line_rev
    )
    # every delta key (one row per key here: insert keys and update
    # keys are disjoint by construction) — updates retract their old
    # rows, inserts retract nothing (no old rows to hit)
    dkeys = delta.select("o_orderkey").distinct()
    v_delta = delta.join(li, "o_orderkey").selectExpr(
        "o_orderkey", "o_orderstatus", line_rev
    )
    maintained = (
        v_old.join(F.broadcast(dkeys), "o_orderkey", "left_anti")
        .withColumn("from_delta", F.lit(0))
        .unionByName(v_delta.withColumn("from_delta", F.lit(1)))
    )
    return (
        maintained.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").alias("n_lines"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.sum("line_rev").alias("rev_dec"),
            F.sum("from_delta").cast("long").alias("lines_from_delta"),
        )
        .selectExpr(
            "status",
            "n_lines",
            "n_orders",
            "CAST(rev_dec AS DOUBLE) AS revenue",
            "lines_from_delta",
        )
    )


def events_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source-connector exercise as a query: stage the events
    fact to CSV once (the landing-file format half the world's ingest
    still arrives in), read it back through the PERMISSIVE
    explicit-schema reader, and aggregate — the oracle computes the
    same aggregate from the original parquet, so the roundtrip must
    preserve
    every value bit-exactly (doubles survive because the writer emits
    shortest-roundtrip decimal strings).

    Scale shape: the CSV read is splittable (no multiline), schema is
    declared (no inference scan), and the aggregate is the standard
    map-side-combined groupBy."""
    from uber_data_pipeline_spark.sources.readers import read_csv

    stage = artifact_dir("csv_stage", sf_dir)
    cols = ["event_id", "event_type", "value"]
    ensure_staged(
        stage,
        {"table": "events", "columns": cols, "format": "csv",
         "src": file_identity(os.path.join(sf_dir, "events.parquet"))},
        lambda tgt: (
            load_table(spark, sf_dir, "events")
            .select(*cols)
            .write.mode("overwrite")
            .option("header", "true")
            .csv(tgt)
        ),
        valid_fn=spark_success,
    )
    back = read_csv(
        spark, stage, "event_id bigint, event_type string, value double"
    )
    from uber_data_pipeline_spark.functions.numeric import dsum

    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


def _format_roundtrip(
    spark: SparkSession, sf_dir: str, fmt: str
) -> DataFrame:
    """Shared JSON/ORC/XML landing roundtrip (same contract as
    events_csv_roundtrip: stage once, explicit-schema read-back, the
    parquet-derived oracle proves bit-exact value survival). JSON is
    the schemaless-landing half of real ingest; ORC the columnar
    interchange format warehouse exports still arrive in; XML the
    document-feed format Spark 4 reads natively (spark-xml merged
    into core). Every read declares its schema — no inference scan —
    and JSON/ORC stay splittable (XML record-splits by rowTag)."""
    from uber_data_pipeline_spark.functions.numeric import dsum
    from uber_data_pipeline_spark.sources.readers import (
        read_json,
        read_orc,
        read_xml,
    )

    stage = artifact_dir(f"{fmt}_stage", sf_dir)
    cols = ["event_id", "event_type", "value"]
    ensure_staged(
        stage,
        {"table": "events", "columns": cols, "format": fmt,
         "src": file_identity(os.path.join(sf_dir, "events.parquet"))},
        lambda tgt: (
            load_table(spark, sf_dir, "events")
            .select(*cols)
            .write.mode("overwrite")
            .option("rowTag", "row")
            .format(fmt)
            .save(tgt)
        ),
        valid_fn=spark_success,
    )
    schema = "event_id bigint, event_type string, value double"
    back = (
        read_json(spark, stage, schema)
        if fmt == "json"
        else read_xml(spark, stage, schema)
        if fmt == "xml"
        else read_orc(spark, stage, schema)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


def events_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "json")


def events_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "orc")


def events_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _format_roundtrip(spark, sf_dir, "xml")


GDPR_KEY_MOD = 1000
GDPR_KEY_REMAINDER = 7


def gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit: for a deterministic
    deletion cohort (synthetic stand-in for the real request list),
    count the rows each table would purge — the pre-delete impact
    report a governed lake produces before destructive propagation.

    Scale shape: the request list reduces to a small key relation and
    broadcasts into LEFT SEMI joins per table (no fact-fact shuffle);
    each per-table count is a one-row aggregate, unioned into the
    report. The actual delete at scale is the same semi-join driving
    a rewrite of affected partitions only."""
    subjects_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .filter(F.col("user_id") % GDPR_KEY_MOD == GDPR_KEY_REMAINDER)
    )
    subjects_custs = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .filter(F.col("c_custkey") % GDPR_KEY_MOD == GDPR_KEY_REMAINDER)
    )
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def purge_count(df: DataFrame, keys: DataFrame, on: str, name: str) -> DataFrame:
        return (
            df.join(F.broadcast(keys), df[on] == keys[keys.columns[0]], "left_semi")
            .agg(F.count("*").alias("n_rows_to_purge"))
            .selectExpr(f"'{name}' AS table_name", "n_rows_to_purge")
        )

    return (
        purge_count(events, subjects_users, "user_id", "events")
        .unionByName(purge_count(orders, subjects_custs, "o_custkey", "orders"))
        .unionByName(purge_count(customer, subjects_custs, "c_custkey", "customer"))
    )


def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-test analog: the declared check suite (plans/checks.py
    — not_null / unique / accepted_values / relationships) over the
    star schema, one reduced row per check."""
    from uber_data_pipeline_spark.plans.checks import star_schema_checks

    tables = {
        name: load_table(spark, sf_dir, name)
        for name in ("orders", "customer", "lineitem", "events", "nation", "documents")
    }
    return star_schema_checks(spark, tables)


def pipeline_dag_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the full uber-model DAG (plans/) and return the
    build report — the `dbt build` / Dagster-materialize analog.
    Row counts are deterministic; timings are not part of the result."""
    from uber_data_pipeline_spark.plans.dag import run_dag
    from uber_data_pipeline_spark.plans.uber_models import build_registry

    out_dir = artifact_dir("dag", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    results = run_dag(spark, build_registry(), sf_dir, out_dir)
    return spark.createDataFrame(
        [(r.model, r.n_rows) for r in results], "model string, n_rows long"
    )


def pipeline_dag_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-incremental materialization wired through the DAG
    registry: `monthly_status_rollup` (plans/uber_models.py, declared
    with an IncrementalSpec) is fully built over the pre-cutoff window
    (the previous @daily run), then REFRESHED from only the post-cutoff
    delta via plans.dag.refresh_incremental — partial decimal sums
    merged per (month, status). The oracle recomputes the rollup from
    the full table, proving incremental == full rebuild.

    Scale shape: the refresh scans only the delta (event-time
    predicate pushed to the scan); history is touched only as its
    already-reduced partial rows (key-cardinality, tiny)."""
    from uber_data_pipeline_spark.plans.dag import refresh_incremental
    from uber_data_pipeline_spark.plans.uber_models import build_registry

    out_dir = artifact_dir("dag_incr", sf_dir)
    shutil.rmtree(out_dir, ignore_errors=True)
    merged = refresh_incremental(
        spark,
        build_registry(),
        "monthly_status_rollup",
        sf_dir,
        out_dir,
        cutoff=CDC_CUTOFF,
    )
    return merged.selectExpr(
        "month",
        "status",
        "CAST(revenue_part AS DOUBLE) AS revenue",
        "CAST(n_orders AS BIGINT) AS n_orders",
    )


def dag_schedules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ScheduleDefinition surface: (model, cron, n_deps,
    is_incremental) for every registered model — "what runs when"
    (reference: the @daily ScheduleDefinition over the Dagster asset
    graph, Dagster_Files/definitions.py:17-20). Pure metadata, but
    value-checked: the oracle pins the declared schedule table."""
    from uber_data_pipeline_spark.plans.dag import schedule_report
    from uber_data_pipeline_spark.plans.uber_models import build_registry

    return spark.createDataFrame(
        schedule_report(build_registry()),
        "model string, schedule string, n_deps int, is_incremental boolean",
    )


def snapshot_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot retention + orphan GC (sources/snapshots.py
    expire_snapshots — the Delta VACUUM / Iceberg expireSnapshots
    role; the reference's warehouse gets this from BigQuery table
    snapshot expiry). A fresh 4-commit lake is built each run
    (vacuum MUTATES, so unlike the immutable time-travel lake there
    is nothing to stage): v0 overwrite / v1 append / v2 OVERWRITE
    (orphaning v0-v1's files) / v3 append, over the o_orderkey%4
    cohorts of orders, 2 files per commit. expire_snapshots(keep=2)
    must then remove v0/v1's manifests AND their now-unreferenced
    data files while both kept versions still read exactly their
    relational expectation — which is what the returned report pins:
    (version, status, n_rows, n_files) with post-vacuum reads for
    kept versions (NULL rows / 0 files for expired, their commit
    dirs physically gone)."""
    from uber_data_pipeline_spark.sources.snapshots import (
        _manifest_path,
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = artifact_dir("vacuum", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    for v, mode in ((0, "overwrite"), (1, "append"), (2, "overwrite"), (3, "append")):
        commit_snapshot(
            orders.filter(F.col("o_orderkey") % 4 == v).repartition(2),
            root,
            v,
            mode=mode,
        )
    report = expire_snapshots(root, keep_last=2)
    rows = []
    for v in (0, 1, 2, 3):
        if v in report["expired"]:
            data_dir = os.path.join(root, "data", f"commit-{v}")
            assert not os.path.exists(_manifest_path(root, v))
            assert not os.path.exists(data_dir), f"orphans survived in {data_dir}"
            rows.append((v, "expired", None, 0))
        else:
            import json as _json

            with open(_manifest_path(root, v)) as fh:
                n_files = len(_json.load(fh)["files"])
            rows.append(
                (v, "kept", read_snapshot(spark, root, v).count(), n_files)
            )
    return spark.createDataFrame(
        rows, "version int, status string, n_rows bigint, n_files int"
    )


BACKFILL_START, BACKFILL_END = "1995-01-01", "1995-07-01"


def dag_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition backfill planning for the incremental model — the
    Dagster backfill role (pick a partition range of a partitioned
    asset, rebuild it plus the downstream closure). For the pinned
    window [BACKFILL_START, BACKFILL_END) the due partitions are the
    DISTINCT order months ACTUALLY PRESENT in the window (data-driven,
    one pushdown-filtered scan + month-distinct — months with no rows
    need no rebuild), one 'rebuild_partition' row each; downstream
    registry models (plans/dag.downstream_closure — empty for this
    registry, the generic path is unit-tested on a synthetic graph)
    follow as partition-less 'refresh_downstream' rows."""
    from uber_data_pipeline_spark.plans.dag import downstream_closure
    from uber_data_pipeline_spark.plans.uber_models import build_registry

    registry = build_registry()
    target = "monthly_status_rollup"
    spec = registry.models[target].incremental
    orders = load_table(spark, sf_dir, "orders")
    lo = F.lit(BACKFILL_START).cast("timestamp_ntz")
    hi = F.lit(BACKFILL_END).cast("timestamp_ntz")
    parts = (
        orders.filter((F.col(spec.event_col) >= lo) & (F.col(spec.event_col) < hi))
        .select(
            F.lit(target).alias("model"),
            F.date_format(spec.event_col, "yyyy-MM").alias("partition"),
            F.lit("rebuild_partition").alias("action"),
        )
        .distinct()
    )
    down = [
        (m, None, "refresh_downstream") for m in downstream_closure(registry, target)
    ]
    if not down:
        return parts
    return parts.unionByName(
        spark.createDataFrame(down, "model string, partition string, action string")
    )


_BACKFILL_ORACLE = f"""
    SELECT DISTINCT 'monthly_status_rollup' AS model,
           strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS partition,
           'rebuild_partition' AS action
    FROM orders
    WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '{BACKFILL_START}'
      AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '{BACKFILL_END}'
"""


_VACUUM_ORACLE = """
    SELECT 0 AS version, 'expired' AS status,
           CAST(NULL AS BIGINT) AS n_rows, 0 AS n_files
    UNION ALL SELECT 1, 'expired', NULL, 0
    UNION ALL
    SELECT 2, 'kept',
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 2), 2
    UNION ALL
    SELECT 3, 'kept',
           (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 IN (2, 3)), 4
"""


def dag_due_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schedule EXECUTION over the model DAG: for three pinned AS_OF
    instants, the Kahn-ordered due list with each model's next cron
    fire (plans/dag.due_run + plans/cron.next_fire) — the runtime half
    of the reference's ScheduleDefinition (@daily cron over the asset
    graph, Dagster_Files/definitions.py:17-20). The instants exercise
    the strictly-after boundary: mid-day, exactly-at-midnight (fires
    NEXT midnight, not itself), and 23:59 (fires one minute later).
    Closed-form oracle: 8 models x 3 instants, hand-derivable."""
    import datetime as dt

    from uber_data_pipeline_spark.plans.dag import due_run
    from uber_data_pipeline_spark.plans.uber_models import build_registry

    instants = (
        dt.datetime(1995, 6, 15, 7, 30),
        dt.datetime(1995, 6, 15, 0, 0),
        dt.datetime(1995, 6, 14, 23, 59),
    )
    registry = build_registry()
    rows = [
        (as_of, order, model, level, fire)
        for as_of in instants
        for order, model, level, fire in due_run(registry, as_of)
    ]
    return spark.createDataFrame(
        rows,
        "as_of timestamp, run_order int, model string, level int, "
        "next_fire timestamp",
    )


_DUE_RUN_ORACLE = """
    WITH ranked AS (
        SELECT * FROM (VALUES
            ('monthly_status_rollup', 1, 0),
            ('stg_pickups', 2, 0),
            ('pickup_count_vs_average_per_base', 3, 1),
            ('pickup_percentile_by_base_per_month', 4, 1),
            ('top_3_bases_by_total_pickups', 5, 1),
            ('top_3_pickup_dates_per_base', 6, 1),
            ('total_pickups_in_may_by_base', 7, 1),
            ('unter_grun_pickups_in_bronx', 8, 1)
        ) AS t(model, run_order, level)
    ), instants AS (
        -- '0 0 * * *' strictly after each instant, by hand
        SELECT * FROM (VALUES
            (TIMESTAMP '1995-06-15 07:30:00', TIMESTAMP '1995-06-16 00:00:00'),
            (TIMESTAMP '1995-06-15 00:00:00', TIMESTAMP '1995-06-16 00:00:00'),
            (TIMESTAMP '1995-06-14 23:59:00', TIMESTAMP '1995-06-15 00:00:00')
        ) AS t(as_of, next_fire)
    )
    SELECT i.as_of, r.run_order, r.model, r.level, i.next_fire
    FROM instants i CROSS JOIN ranked r
"""


MERGE_SINK_PARTS = 16
_MERGE_SINK_PART = f"CAST(o_orderkey % {MERGE_SINK_PARTS} AS INT)"


def cdc_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-into-storage: the CDC delta is UPSERTED into a partitioned
    parquet target via sources.writers.merge_upsert_partitioned
    (partition-pruned read of touched partitions, anti-join out
    replaced keys, swap in only the rewritten partitions) — the BigQuery-MERGE
    role in the reference's load step, on a plain parquet lake. The
    re-read table must equal the pure-relational CDC merge, so this
    entry shares `cdc_incremental_merge`'s oracle."""
    base, delta = _cdc_frames(spark, sf_dir)
    target = artifact_dir("merge_sink", sf_dir)
    shutil.rmtree(target, ignore_errors=True)
    lake = PartitionedLake.stage(
        base, target, ["o_orderkey"], _MERGE_SINK_PART, "pk_mod"
    )
    lake.merge(spark, delta)
    return lake.read(spark).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("total_price"),
        "version",
    )


def streaming_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC delta applied as a STREAM: the delta batch is staged as
    4 landing files, consumed by one availableNow micro-batch (newest
    file wins per key) and MERGEd into the partitioned parquet target
    via foreachBatch (streaming.events.merge_sink_stream) — the
    always-on Airbyte-sync analog. The final table must equal the
    one-shot relational merge, so this shares `cdc_incremental_merge`'s
    oracle."""
    base, delta = _cdc_frames(spark, sf_dir)
    root = artifact_dir("stream_merge", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    delta_dir = os.path.join(root, "delta")
    delta.repartition(4).write.mode("overwrite").parquet(delta_dir)
    merged = merge_sink_stream(
        spark,
        base,
        delta_dir,
        "o_orderkey bigint, o_orderstatus string, o_totalprice double, version int",
        target_path=os.path.join(root, "target"),
        checkpoint_dir=os.path.join(root, "checkpoint"),
        key_cols=["o_orderkey"],
        part_expr=_MERGE_SINK_PART,
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("total_price"),
        "version",
    )




def streaming_merge_sink_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC merge sink fed by an UNBOUNDED source the engine does
    not control: Spark's `rate-micro-batch` source (the offline Kafka
    stand-in) emits a dense 0..N counter at a fixed rowsPerBatch;
    each value maps to a deterministic change event (key cohort =
    value % RATE_MOD, last-writer-wins by version = value), each
    micro-batch is compacted and MERGEd into the partitioned parquet
    target via foreachBatch — pinning offset/trigger handling on a
    source whose pacing Spark owns, unlike the file feed of
    `streaming_merge_sink`. Termination is a consumption threshold
    (the source never drains); values past RATE_TOTAL are no-ops, so
    the final table is stop-point-invariant and has a closed
    relational form — the oracle (streaming/events.py
    merge_sink_stream_rate has the full argument)."""
    from uber_data_pipeline_spark.streaming.events import merge_sink_stream_rate

    base = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn("version", F.lit(0).cast("int"))
    )
    root = artifact_dir("rate_merge", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    # churn-aligned layout (r13, guide §6): the feed can only ever
    # touch the key cohort o_orderkey % RATE_KEY_MOD < RATE_MOD, so
    # partition the target with that cohort ISOLATED in partition 0
    # and the cold keys spread over the remaining 15 — every batch
    # then reads and rewrites ONE partition (~4% of the table) instead
    # of all 16 (the former % 16 layout scattered the cohort into
    # every partition, making each merge a full-table rewrite; the
    # partition column is dropped from the returned table, so the
    # result is unchanged). Batch merges 1.0 -> ~0.5 s each at sf0.1.
    from uber_data_pipeline_spark.streaming.events import RATE_KEY_MOD, RATE_MOD

    merged = merge_sink_stream_rate(
        spark,
        base,
        target_path=os.path.join(root, "target"),
        checkpoint_dir=os.path.join(root, "checkpoint"),
        part_expr=(
            f"CAST(CASE WHEN o_orderkey % {RATE_KEY_MOD} < {RATE_MOD} "
            f"THEN 0 ELSE 1 + o_orderkey % {MERGE_SINK_PARTS - 1} END AS INT)"
        ),
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("total_price"),
        "version",
    )


COMPACT_FRAGMENTS = 64
COMPACT_TARGET_ROWS = 25_000
BUCKETED_N = 8


def compaction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction exercised end-to-end: stage orders as a
    deliberately fragmented lake (COMPACT_FRAGMENTS part files),
    rewrite it right-sized, report (n_rows, files before, files
    after) with the counts read from the filesystem — the maintenance
    job every micro-batched lake needs (sources/writers.py
    compact_small_files). The oracle pins the CONTRACT: files_after
    must equal ceil(n_rows / COMPACT_TARGET_ROWS) exactly, because
    the rewrite is a round-robin repartition."""
    from uber_data_pipeline_spark.sources.writers import compact_small_files

    root = artifact_dir("compaction", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    return compact_small_files(
        load_table(spark, sf_dir, "orders"),
        os.path.join(root, "fragmented"),
        os.path.join(root, "compacted"),
        COMPACT_FRAGMENTS,
        COMPACT_TARGET_ROWS,
    )


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free fact-fact join from BUCKETED storage: orders and
    lineitem are written bucketBy(orderkey) into the same bucket
    count, then joined via the catalog — the join plan has NO shuffle
    on either side because the shuffle was paid once at write time
    (sources/writers.py write_bucketed; plan pinned exchange-free by
    tests/test_storage_layout.py). At 100 TB this is THE lever for a
    fact-fact join that runs daily: amortize the exchange into the
    layout. Values must equal the plain (shuffled) join, which is
    exactly what the oracle recomputes."""
    from uber_data_pipeline_spark.functions.numeric import dsum
    from uber_data_pipeline_spark.sources.writers import (
        read_table,
        register_bucketed_if_present,
        write_bucketed,
    )

    tag = sf_name(sf_dir).replace(".", "_")
    root = artifact_dir("bucketed_q", sf_dir)
    tables = (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))
    # the bucketed-table contract in full: the clustering shuffle is
    # paid ONCE at write time; a fresh session re-attaches the files
    # (bucket ids live in the file names) instead of re-clustering.
    # One marker covers BOTH tables and the bucket count, so a changed
    # source or BUCKETED_N rebuilds the whole layout and a half-written
    # pair can never mix dataset generations into one join.
    def _write(tgt: str) -> None:
        for tbl, key in tables:
            write_bucketed(
                load_table(spark, sf_dir, tbl),
                f"{tbl}_bq_{tag}",
                os.path.join(tgt, tbl),
                BUCKETED_N,
                [key],
                sort_cols=[key],
            )

    ensure_staged(
        root,
        {"n_buckets": BUCKETED_N,
         "src": {tbl: file_identity(os.path.join(sf_dir, f"{tbl}.parquet"))
                 for tbl, _ in tables}},
        _write,
        valid_fn=lambda tgt: all(
            spark_success(os.path.join(tgt, tbl)) for tbl, _ in tables
        ),
    )
    for tbl, key in tables:
        register_bucketed_if_present(
            spark,
            f"{tbl}_bq_{tag}",
            os.path.join(root, tbl),
            BUCKETED_N,
            [key],
            load_table(spark, sf_dir, tbl).schema.toDDL(),
            sort_cols=[key],
        )
    a = read_table(spark, f"orders_bq_{tag}")
    b = read_table(spark, f"lineitem_bq_{tag}")
    return (
        a.join(b, a["o_orderkey"] == b["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )






def orders_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema DRIFT handled at read time: the lake contains files
    written by two producer versions — v1 rows (pre-cutoff) lack the
    o_orderpriority column, v2 rows carry it — and one
    mergeSchema=true read reconciles them (missing column null-filled
    for old files). This is the reader-side duty every long-lived
    ingest grows into: producers upgrade, history is never rewritten.

    Scale note: mergeSchema scans file FOOTERS (schema metadata), not
    data; pin the merged schema explicitly once it stabilizes so the
    footer sweep isn't paid per read. The report aggregates by the
    evolved column, null = legacy-producer rows; the oracle recomputes
    it from the source table with the same version split."""
    from uber_data_pipeline_spark.functions.numeric import dsum

    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp_ntz")
    root = artifact_dir("schema_evo", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    v1 = orders.filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(root)
    v2.write.mode("append").parquet(root)
    merged = spark.read.option("mergeSchema", "true").parquet(root)
    return merged.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("revenue"),
    )




def _stage_time_travel_lake(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once) the two-commit time-travel lake with o_orderkey
    stats recorded; shared by snapshot_time_travel and
    snapshot_skipping_read."""
    from uber_data_pipeline_spark.sources.snapshots import commit_snapshot

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp_ntz")

    def _commit(tgt: str) -> None:
        commit_snapshot(
            orders.filter(F.col("o_orderdate") < cutoff).repartition(4),
            tgt, 0, mode="overwrite", stats_cols=["o_orderkey"],
        )
        commit_snapshot(
            orders.filter(F.col("o_orderdate") >= cutoff).repartition(4),
            tgt, 1, mode="append", stats_cols=["o_orderkey"],
        )

    return ensure_staged(
        artifact_dir("snapshots", sf_dir),
        {"entry": "time_travel", "cutoff": CDC_CUTOFF, "stats": ["o_orderkey"], "v": 2,
         "src": file_identity(os.path.join(sf_dir, "orders.parquet"))},
        _commit,
    )


BRANCH_CUTOFF = "2001-01-01 00:00:00"


def _stage_branch_lake(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once) the branching lake: main chain v0 (base load,
    overwrite) -> v1 (mid-period append); branch 'exp' created AT v0,
    then a branch commit v2 appends the late period to exp only — the
    two refs share v0's files (a branch is one tiny ref file, no data
    copied) and diverge after it."""
    from uber_data_pipeline_spark.sources.snapshots import (
        commit_snapshot,
        commit_to_branch,
        create_branch,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    c1 = F.lit(CDC_CUTOFF).cast("timestamp_ntz")
    c2 = F.lit(BRANCH_CUTOFF).cast("timestamp_ntz")

    def _commit(tgt: str) -> None:
        commit_snapshot(
            orders.filter(F.col("o_orderdate") < c1).repartition(4),
            tgt, 0, mode="overwrite",
        )
        commit_snapshot(
            orders.filter(
                (F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2)
            ).repartition(4),
            tgt, 1, mode="append",
        )
        create_branch(tgt, "exp", 0)
        commit_to_branch(
            orders.filter(F.col("o_orderdate") >= c2).repartition(4),
            tgt, "exp", 2, mode="append",
        )

    return ensure_staged(
        artifact_dir("branching", sf_dir),
        {"entry": "branch", "cutoffs": [CDC_CUTOFF, BRANCH_CUTOFF], "v": 3,
         "src": file_identity(os.path.join(sf_dir, "orders.parquet"))},
        _commit,
    )


def snapshot_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branching on the manifest lake (sources/snapshots.py refs —
    the Iceberg branch / Delta shallow-clone role): main advances
    v0 -> v1 while branch 'exp' forks at v0 and takes its own commit
    v2, so the two refs SHARE v0's data files and diverge after it —
    a branch costs one ref file, never a data copy, because manifests
    are immutable. Reads resolve strictly through the refs; the
    oracle recomputes both refs' expected contents relationally from
    `orders` (main = base + mid period; exp = base + late period)."""
    from uber_data_pipeline_spark.functions.numeric import dsum
    from uber_data_pipeline_spark.sources.snapshots import (
        read_branch,
        read_snapshot,
    )

    root = _stage_branch_lake(spark, sf_dir)

    def _agg(df: DataFrame, ref: str, version: int) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total_price"),
            F.countDistinct("o_orderstatus").cast("long").alias("n_statuses"),
        ).select(
            F.lit(ref).alias("ref"),
            F.lit(version).alias("version"),
            "n_rows",
            "total_price",
            "n_statuses",
        )

    return _agg(read_snapshot(spark, root, 1), "main", 1).unionByName(
        _agg(read_branch(spark, root, "exp"), "exp", 2)
    )


def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based snapshot versioning + time travel
    (sources/snapshots.py — the Delta/Iceberg/BigQuery-snapshot role
    on a plain parquet lake): commit v0 = the pre-cutoff base load,
    commit v1 = APPEND of the post-cutoff inserts (v1's manifest
    inherits v0's files; nothing rewritten), then read BOTH versions
    back through their manifests and aggregate each — time travel as
    an explicit file-list scan, full pushdown intact.

    The v0-as-of aggregate must equal the base relation's and the
    v1-as-of aggregate the full relation's — which is exactly what
    the oracle recomputes from `orders`."""
    from uber_data_pipeline_spark.functions.numeric import dsum
    from uber_data_pipeline_spark.sources.snapshots import read_snapshot

    root = _stage_time_travel_lake(spark, sf_dir)

    def _agg(df: DataFrame, version: int) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("total_price"),
            F.countDistinct("o_orderstatus").cast("long").alias("n_statuses"),
        ).select(F.lit(version).alias("version"), "n_rows", "total_price", "n_statuses")

    return _agg(read_snapshot(spark, root, 0), 0).unionByName(
        _agg(read_snapshot(spark, root, 1), 1)
    )


# dead-letter rules: genuinely violated by the synthetic lineitem so
# the quarantine is non-empty (discount caps at 0.10, quantity at 50,
# tax at 0.08 in the generator)
_QUARANTINE_RULES = (
    ("discount_le_8pct", "l_discount <= 0.08"),
    ("quantity_le_45", "l_quantity <= 45"),
    ("tax_le_7pct", "l_tax <= 0.07"),
)


def dq_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter split: route rows that violate any DQ rule to a
    quarantine parquet sink (with a reasons array for triage) and the
    rest onward; report per-rule violation counts + the split totals.
    The dbt-test layer (plans/checks.py) COUNTS violations; this is
    the production variant that also QUARANTINES them without
    stalling the pipeline.

    Scale shape: rules are row-local boolean columns computed in one
    scan; the split is two filters of the same relation (Spark reuses
    the scan via ReuseExchange under one action each); per-rule
    counts come from the quarantined side only. No shuffle at all for
    the split itself — the only aggregate is the one-row report per
    rule, unioned reduced frames, same as checks.py."""
    li = load_table(spark, sf_dir, "lineitem")
    flagged = li.select(
        "*",
        F.array_compact(
            F.array(
                *[
                    F.when(~F.expr(pred), F.lit(name))
                    for name, pred in _QUARANTINE_RULES
                ]
            )
        ).alias("violated"),
    )
    quarantined = flagged.filter(F.size("violated") > 0)
    root = artifact_dir("quarantine", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    quarantined.write.mode("overwrite").parquet(root)
    qr = spark.read.schema(quarantined.schema).parquet(root)
    # ONE conditional aggregate over the re-read quarantine (all
    # per-rule counts + the quarantined total share a single scan),
    # unpivoted with stack; total_passed is its own reduced aggregate
    # over the source (was: one scan per rule — measured 5.7 s ->
    # 3.0 s at sf0.1; the rest is the quarantine write itself)
    wide = qr.agg(
        *[
            F.count(F.when(F.array_contains("violated", name), 1))
            .cast("long")
            .alias(f"r{i}")
            for i, (name, _) in enumerate(_QUARANTINE_RULES)
        ],
        F.count("*").cast("long").alias("tq"),
    )
    stack_expr = ", ".join(
        [
            f"'rule:{name}', r{i}"
            for i, (name, _) in enumerate(_QUARANTINE_RULES)
        ]
        + ["'total_quarantined', tq"]
    )
    n = len(_QUARANTINE_RULES) + 1
    per_rule = wide.selectExpr(
        f"stack({n}, {stack_expr}) AS (metric, n_rows)"
    )
    passed = (
        flagged.filter(F.size("violated") == 0)
        .agg(F.count("*").cast("long").alias("n_rows"))
        .select(F.lit("total_passed").alias("metric"), "n_rows")
    )
    return per_rule.unionByName(passed)


PYDS_PRICE_MIN = 150_000.0
PYDS_STREAM_FROM = "2001-01-01 00:00:00"


def snapshot_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot-manifest lake read through the Spark 4 PYTHON
    DataSource API (sources/pyds.py): the planner gets one
    InputPartition per manifest data file, Arrow record batches
    stream back, and the price predicate is HANDED to the reader via
    pushFilters -> pyarrow row-group pruning. Values must equal the
    native read of the same commits — the oracle recomputes from
    `orders`."""
    from uber_data_pipeline_spark.sources import pyds
    from uber_data_pipeline_spark.sources.snapshots import commit_snapshot

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    cutoff = F.lit(CDC_CUTOFF).cast("timestamp_ntz")

    def _commit(tgt: str) -> None:
        commit_snapshot(
            orders.filter(F.col("o_orderdate") < cutoff).drop("o_orderdate"),
            tgt, 0, mode="overwrite",
        )
        commit_snapshot(
            orders.filter(F.col("o_orderdate") >= cutoff).drop("o_orderdate"),
            tgt, 1, mode="append",
        )

    root = ensure_staged(
        artifact_dir("pyds_snapshots", sf_dir),
        {"entry": "pyds_batch", "cutoff": CDC_CUTOFF, "v": 1,
         "src": file_identity(os.path.join(sf_dir, "orders.parquet"))},
        _commit,
    )
    pyds.register(spark)
    from uber_data_pipeline_spark.functions.numeric import dsum

    return (
        spark.read.format("snapshot_manifest")
        .option("root", root)
        .option("version", 1)
        .load()
        .filter(F.col("o_totalprice") > PYDS_PRICE_MIN)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )


def snapshot_stream_python_datasource(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The snapshot commit log consumed as a STREAM through the
    Spark 4 Python streaming DataSource API (sources/pyds.py
    SnapshotCommitPartitionedReader): offsets are commit versions,
    each micro-batch drains newly-published commits. Three commits
    are staged (the CDC cutoff splits orders into three date
    slices); the drained stream's per-status aggregate must equal
    the batch aggregate over `orders` — the oracle.

    This is the partition-based DataSourceStreamReader path: the
    driver only lists commit versions and plans one InputPartition
    per commit FILE; `read()` executes on EXECUTORS and yields
    pyarrow RecordBatches — no row materializes on the driver, so
    the source scales with the cluster, not driver memory."""
    from uber_data_pipeline_spark.functions.numeric import dsum
    from uber_data_pipeline_spark.sources import pyds
    from uber_data_pipeline_spark.sources.snapshots import commit_snapshot

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    root = artifact_dir("pyds_stream", sf_dir)
    lo = F.lit(PYDS_STREAM_FROM).cast("timestamp_ntz")
    cut1 = F.lit("2001-03-01").cast("timestamp_ntz")
    cut2 = F.lit("2001-05-01").cast("timestamp_ntz")
    tail = orders.filter(F.col("o_orderdate") >= lo)
    # commits are immutable -> staged once; the CHECKPOINT is per-run
    # (a reused checkpoint would see no new commits and emit nothing)
    slices = [
        tail.filter(F.col("o_orderdate") < cut1),
        tail.filter((F.col("o_orderdate") >= cut1) & (F.col("o_orderdate") < cut2)),
        tail.filter(F.col("o_orderdate") >= cut2),
    ]

    def _commit(tgt: str) -> None:
        for v, sl in enumerate(slices):
            commit_snapshot(sl.drop("o_orderdate"), tgt, v, mode="append")

    commits_root = ensure_staged(
        os.path.join(root, "commits"),
        {"entry": "pyds_stream", "cuts": [PYDS_STREAM_FROM, "2001-03-01", "2001-05-01"], "v": 2,
         "src": file_identity(os.path.join(sf_dir, "orders.parquet"))},
        _commit,
    )
    checkpoint = os.path.join(root, "checkpoint")
    shutil.rmtree(checkpoint, ignore_errors=True)
    pyds.register_stream(spark)
    st = (
        spark.readStream.format("snapshot_commits")
        .option("root", commits_root)
        .load()
    )
    name = f"pyds_stream_sink_{sf_name(sf_dir).replace('.', '_')}"
    q = (
        st.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = (
        spark.table(name)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
    )
    # the analysed plan holds the sink's rows; the view would keep them
    # (and shadow a caller's view of that name) for the session's life
    spark.catalog.dropTempView(name)
    return out


def orders_observed_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-time metrics via `Dataset.observe` (the Observation API):
    the pipeline attaches count / decimal-sum / null-count aggregates
    to the LOAD action itself — metrics ride the same scan that
    materializes the data (zero extra passes), which is how a
    production load emits its row-count/quality telemetry. The
    staged write is the observed action; the observed values are
    returned as the result row and must equal an independent
    recompute — the oracle."""
    import shutil as _shutil

    from pyspark.sql import Observation

    from uber_data_pipeline_spark.functions.numeric import dsum

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    obs = Observation("load_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("o_totalprice")).alias("total_price"),
        F.count(F.when(F.col("o_orderstatus").isNull(), 1)).alias(
            "n_null_status"
        ),
    )
    target = artifact_dir("observed_load", sf_dir)
    _shutil.rmtree(target, ignore_errors=True)
    observed.write.mode("overwrite").parquet(target)
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                float(m["total_price"]),
                int(m["n_null_status"]),
            )
        ],
        "n_rows bigint, total_price double, n_null_status bigint",
    )


SKIP_KEY_LO = 100
SKIP_KEY_HI = 5_000


def snapshot_skipping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping, value-verified: the time-travel
    lake records per-file [min, max] of o_orderkey in its manifests
    (from the parquet footers the commit already wrote); this read
    asks for a key range and files whose envelope cannot intersect it
    are dropped on the DRIVER, before Spark lists them — the
    Delta/Iceberg file-skipping role. The exact predicate still
    applies to surviving rows (skipping is a pure optimization —
    pruning correctness pinned by tests/test_r4_operators.py), and
    the aggregate must equal the oracle's plain filtered scan."""
    from uber_data_pipeline_spark.functions.numeric import dsum
    from uber_data_pipeline_spark.sources.snapshots import read_snapshot

    root = _stage_time_travel_lake(spark, sf_dir)
    df = read_snapshot(
        spark, root, 1, between=("o_orderkey", SKIP_KEY_LO, SKIP_KEY_HI)
    )
    return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("long").alias("n_orders"),
        dsum(F.col("o_totalprice")).alias("total_price"),
    )


QUERIES = {
    "cdc_incremental_merge": cdc_incremental_merge,
    "snapshot_skipping_read": snapshot_skipping_read,
    "orders_observed_load": orders_observed_load,
    "snapshot_time_travel": snapshot_time_travel,
    "snapshot_branch": snapshot_branch,
    "snapshot_python_datasource": snapshot_python_datasource,
    "snapshot_stream_python_datasource": snapshot_stream_python_datasource,
    "dq_quarantine_split": dq_quarantine_split,
    "cdc_merge_sink": cdc_merge_sink,
    "streaming_merge_sink": streaming_merge_sink,
    "streaming_merge_sink_rate": streaming_merge_sink_rate,
    "streaming_sessionization_rocksdb": sessionization_stream_rocksdb,
    "pipeline_dag_incremental": pipeline_dag_incremental,
    "dag_schedules": dag_schedules,
    "dag_due_run": dag_due_run,
    "snapshot_vacuum": snapshot_vacuum,
    "dag_backfill_plan": dag_backfill_plan,
    "scd2_order_history": scd2_order_history,
    "data_quality_checks": data_quality_checks,
    "pipeline_dag_run": pipeline_dag_run,
    "streaming_windowed_agg": windowed_agg_stream,
    "streaming_sessionization": sessionization_stream,
    "streaming_dedup": dedup_stream,
    "streaming_windowed_topk": windowed_topk_stream,
    "incremental_agg_maintenance": incremental_agg_maintenance,
    "ivm_join_delta": ivm_join_delta,
    "events_csv_roundtrip": events_csv_roundtrip,
    "events_json_roundtrip": events_json_roundtrip,
    "events_orc_roundtrip": events_orc_roundtrip,
    "events_xml_roundtrip": events_xml_roundtrip,
    "streaming_stream_join": stream_stream_join,
    "gdpr_delete_audit": gdpr_delete_audit,
    "compact_small_files_report": compaction_report,
    "bucketed_join_revenue": bucketed_join_revenue,
    "orders_schema_evolution": orders_schema_evolution,
    "streaming_hll_distinct": hll_distinct_stream,
    "streaming_late_data_audit": late_data_audit_stream,
    "streaming_state_store_read": state_store_read,
}


_CDC_ORACLE = f"""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version
        FROM orders WHERE o_orderdate < TIMESTAMP '{CDC_CUTOFF}'
    ),
    delta AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
        FROM orders WHERE o_orderdate >= TIMESTAMP '{CDC_CUTOFF}'
        UNION ALL
        SELECT o_orderkey, 'U' AS o_orderstatus, {_UPLIFT_SQL} AS o_totalprice,
               1 AS version
        FROM base WHERE o_orderkey % {_UPDATE_EVERY} = 0
    ),
    unioned AS (
        SELECT *, 0 AS src FROM base
        UNION ALL
        SELECT *, 1 AS src FROM delta
    ),
    ranked AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, version,
               ROW_NUMBER() OVER (PARTITION BY o_orderkey
                   ORDER BY version DESC, src DESC) AS rn
        FROM unioned
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice AS total_price, version
    FROM ranked WHERE rn = 1
"""

_SCD2_ORACLE = f"""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version
        FROM orders WHERE o_orderdate < TIMESTAMP '{CDC_CUTOFF}'
    ),
    delta AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
        FROM orders WHERE o_orderdate >= TIMESTAMP '{CDC_CUTOFF}'
        UNION ALL
        SELECT o_orderkey, 'U' AS o_orderstatus, {_UPLIFT_SQL} AS o_totalprice,
               1 AS version
        FROM base WHERE o_orderkey % {_UPDATE_EVERY} = 0
    ),
    unioned AS (
        SELECT *, 0 AS src FROM base
        UNION ALL
        SELECT *, 1 AS src FROM delta
    ),
    hist AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, version,
               LAG(version) OVER w AS valid_to_version,
               ROW_NUMBER() OVER w AS rn
        FROM unioned
        WINDOW w AS (PARTITION BY o_orderkey ORDER BY version DESC, src DESC)
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice AS total_price,
           version, valid_to_version, rn = 1 AS is_current
    FROM hist
"""

_DQ_ORACLE = """
    WITH checks AS (
        SELECT 'orders' AS table_name, 'not_null:o_orderkey' AS check_name,
               COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'orders', 'unique:o_orderkey',
               COUNT(*) - COUNT(DISTINCT o_orderkey)
        FROM orders
        UNION ALL
        SELECT 'orders', 'not_null:o_custkey',
               COUNT(CASE WHEN o_custkey IS NULL THEN 1 END)
        FROM orders
        UNION ALL
        SELECT 'orders', 'accepted_values:o_orderpriority',
               COUNT(CASE WHEN o_orderpriority NOT IN
                   ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                   THEN 1 END)
        FROM orders
        UNION ALL
        SELECT 'orders', 'relationships:o_custkey', COUNT(*)
        FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'customer', 'unique:c_custkey',
               COUNT(*) - COUNT(DISTINCT c_custkey)
        FROM customer
        UNION ALL
        SELECT 'customer', 'relationships:c_nationkey', COUNT(*)
        FROM customer c
        WHERE c.c_nationkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey)
        UNION ALL
        SELECT 'lineitem', 'unique:l_orderkey,l_linenumber',
               COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
        FROM lineitem
        UNION ALL
        SELECT 'lineitem', 'relationships:l_orderkey', COUNT(*)
        FROM lineitem l
        WHERE l.l_orderkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'events', 'accepted_values:event_type',
               COUNT(CASE WHEN event_type NOT IN
                   ('view','click','purchase','signup','error') THEN 1 END)
        FROM events
        UNION ALL
        SELECT 'documents', 'unique:doc_id',
               COUNT(*) - COUNT(DISTINCT doc_id)
        FROM documents
        UNION ALL
        SELECT 'documents', 'not_null:text',
               COUNT(CASE WHEN text IS NULL THEN 1 END)
        FROM documents
    )
    SELECT table_name, check_name, n_violations,
           n_violations = 0 AS passed
    FROM checks
"""

# The streaming runners implement the SAME semantics as the batch
# events queries, so they share those oracles (events.py).
from uber_data_pipeline_spark.queries.events import ORACLES as _EVENT_ORACLES  # noqa: E402

# the DAG build report is (model, n_rows) — deterministic, so the
# oracle recomputes every model's cardinality from the same relations
# (the materialization side effects stay untested by design; the
# report content is what the run contract promises)
_DAG_ORACLE = """
    WITH stg AS (
        SELECT o.o_orderkey, o.o_orderdate, n.n_nationkey AS nation_key,
               n.n_name AS nation_name, n.n_regionkey, c.c_mktsegment
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT 'stg_pickups' AS model, CAST(COUNT(*) AS BIGINT) AS n_rows FROM stg
    UNION ALL
    SELECT 'top_3_bases_by_total_pickups',
           LEAST(3, (SELECT COUNT(*) FROM
               (SELECT 1 FROM stg GROUP BY nation_key, nation_name)))
    UNION ALL
    SELECT 'pickup_percentile_by_base_per_month',
           (SELECT COUNT(*) FROM (SELECT 1 FROM stg GROUP BY
               EXTRACT(MONTH FROM CAST(o_orderdate AS TIMESTAMP)), nation_name))
    UNION ALL
    SELECT 'top_3_pickup_dates_per_base',
           (SELECT COUNT(*) FROM (
               SELECT RANK() OVER (PARTITION BY nation_key
                   ORDER BY cnt DESC) AS rnk
               FROM (SELECT nation_key, nation_name,
                            CAST(o_orderdate AS DATE) AS d, COUNT(*) AS cnt
                     FROM stg GROUP BY 1, 2, 3))
            WHERE rnk <= 3)
    UNION ALL
    SELECT 'pickup_count_vs_average_per_base',
           (SELECT COUNT(*) FROM (SELECT 1 FROM stg GROUP BY nation_name,
               EXTRACT(MONTH FROM CAST(o_orderdate AS TIMESTAMP))))
    UNION ALL
    SELECT 'unter_grun_pickups_in_bronx',
           (SELECT COUNT(*) FROM stg s
            JOIN region r ON r.r_regionkey = s.n_regionkey
            WHERE s.nation_name IN ('NATION_1', 'NATION_6')
              AND r.r_name = 'AMERICA')
    UNION ALL
    SELECT 'total_pickups_in_may_by_base',
           (SELECT COUNT(*) FROM (SELECT 1 FROM stg
            WHERE EXTRACT(MONTH FROM CAST(o_orderdate AS TIMESTAMP)) = 5
            GROUP BY nation_name))
    UNION ALL
    SELECT 'monthly_status_rollup',
           (SELECT COUNT(*) FROM (SELECT 1 FROM orders
            GROUP BY strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m'),
                     o_orderstatus))
"""

# incremental == full rebuild: the oracle recomputes the rollup from
# the entire orders table in one pass
_DAG_INCR_ORACLE = """
    SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
           o_orderstatus AS status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
"""

_SCHEDULES_ORACLE = """
    SELECT * FROM (VALUES
        ('monthly_status_rollup',            '0 0 * * *', 1, TRUE),
        ('pickup_count_vs_average_per_base', '0 0 * * *', 1, FALSE),
        ('pickup_percentile_by_base_per_month', '0 0 * * *', 1, FALSE),
        ('stg_pickups',                      '0 0 * * *', 3, FALSE),
        ('top_3_bases_by_total_pickups',     '0 0 * * *', 1, FALSE),
        ('top_3_pickup_dates_per_base',      '0 0 * * *', 1, FALSE),
        ('total_pickups_in_may_by_base',     '0 0 * * *', 1, FALSE),
        ('unter_grun_pickups_in_bronx',      '0 0 * * *', 2, FALSE)
    ) AS t(model, schedule, n_deps, is_incremental)
"""


from uber_data_pipeline_spark.operators import sketches as _sketches

_SKETCH_ORACLE_HLL = _sketches.sql_hll_distinct()

from uber_data_pipeline_spark.functions.numeric import sql_dsum as _sql_dsum

_SQL_SNAP_PRICE = _sql_dsum("o_totalprice")

_SQL_SNAP_AGG = """
    SELECT {v} AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {price} AS total_price,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders {where}
"""

_QUARANTINE_PRED_SQL = " OR ".join(
    f"NOT ({pred})" for _, pred in _QUARANTINE_RULES
)

_SQL_QUARANTINE = "\nUNION ALL\n".join(
    [
        f"""
        SELECT 'rule:{name}' AS metric,
               CAST(COUNT(CASE WHEN NOT ({pred}) THEN 1 END) AS BIGINT) AS n_rows
        FROM lineitem WHERE {_QUARANTINE_PRED_SQL}
        """
        for name, pred in _QUARANTINE_RULES
    ]
    + [
        f"""
        SELECT 'total_quarantined' AS metric,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem WHERE {_QUARANTINE_PRED_SQL}
        """,
        f"""
        SELECT 'total_passed' AS metric,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM lineitem WHERE NOT ({_QUARANTINE_PRED_SQL})
        """,
    ]
)

ORACLES = {
    "snapshot_time_travel": f"""
        {_SQL_SNAP_AGG.format(v=0, price=_SQL_SNAP_PRICE,
                              where=f"WHERE o_orderdate < TIMESTAMP '{CDC_CUTOFF}'")}
        UNION ALL
        {_SQL_SNAP_AGG.format(v=1, price=_SQL_SNAP_PRICE, where="")}
    """,
    "snapshot_branch": f"""
        SELECT 'main' AS ref, 1 AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               {_SQL_SNAP_PRICE} AS total_price,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        FROM orders WHERE o_orderdate < TIMESTAMP '{BRANCH_CUTOFF}'
        UNION ALL
        SELECT 'exp' AS ref, 2 AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               {_SQL_SNAP_PRICE} AS total_price,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
        FROM orders WHERE o_orderdate < TIMESTAMP '{CDC_CUTOFF}'
           OR o_orderdate >= TIMESTAMP '{BRANCH_CUTOFF}'
    """,
    "dq_quarantine_split": _SQL_QUARANTINE,
    "snapshot_skipping_read": f"""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {_sql_dsum("o_totalprice")} AS total_price
        FROM orders
        WHERE o_orderkey BETWEEN {SKIP_KEY_LO} AND {SKIP_KEY_HI}
        GROUP BY 1
    """,
    "orders_observed_load": f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {_sql_dsum("o_totalprice")} AS total_price,
               CAST(COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END)
                    AS BIGINT) AS n_null_status
        FROM orders
    """,
    "snapshot_stream_python_datasource": f"""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {_sql_dsum("o_totalprice")} AS total_price
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '{PYDS_STREAM_FROM}'
        GROUP BY 1
    """,
    "snapshot_python_datasource": f"""
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {_sql_dsum("o_totalprice")} AS total_price
        FROM orders
        WHERE o_totalprice > {PYDS_PRICE_MIN}
        GROUP BY 1
    """,
    # the compaction CONTRACT: the rewrite is a round-robin
    # repartition, so files_after is an exact function of the row
    # count (files_before is the staged fragment count)
    "compact_small_files_report": f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {COMPACT_FRAGMENTS} AS n_files_before,
               CAST(CEIL(COUNT(*) / {COMPACT_TARGET_ROWS}.0) AS INT)
                   AS n_files_after
        FROM orders
    """,
    # the bucketed-layout join must equal the plain shuffled join
    "bucketed_join_revenue": """
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount))
                    AS DECIMAL(25,6))), 2) AS DOUBLE) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1
    """,
    "streaming_hll_distinct": _SKETCH_ORACLE_HLL,
    "orders_schema_evolution": f"""
        SELECT CASE WHEN o_orderdate < TIMESTAMP '{CDC_CUTOFF}'
                    THEN NULL ELSE o_orderpriority END AS priority,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(25,6))), 2)
                    AS DOUBLE) AS revenue
        FROM orders
        GROUP BY 1
    """,
    "cdc_incremental_merge": _CDC_ORACLE,
    # the lake upsert must land exactly the relational merge result
    "cdc_merge_sink": _CDC_ORACLE,
    # ... and so must the per-micro-batch streaming merge
    "streaming_merge_sink": _CDC_ORACLE,
    "pipeline_dag_incremental": _DAG_INCR_ORACLE,
    "dag_schedules": _SCHEDULES_ORACLE,
    "dag_due_run": _DUE_RUN_ORACLE,
    "snapshot_vacuum": _VACUUM_ORACLE,
    "dag_backfill_plan": _BACKFILL_ORACLE,
    "scd2_order_history": _SCD2_ORACLE,
    "data_quality_checks": _DQ_ORACLE,
    "pipeline_dag_run": _DAG_ORACLE,
    "gdpr_delete_audit": f"""
        SELECT 'events' AS table_name, COUNT(*) AS n_rows_to_purge
        FROM events WHERE user_id % {GDPR_KEY_MOD} = {GDPR_KEY_REMAINDER}
        UNION ALL
        SELECT 'orders', COUNT(*) FROM orders
        WHERE o_custkey % {GDPR_KEY_MOD} = {GDPR_KEY_REMAINDER}
        UNION ALL
        SELECT 'customer', COUNT(*) FROM customer
        WHERE c_custkey % {GDPR_KEY_MOD} = {GDPR_KEY_REMAINDER}
    """,
    # the streamed interval join must equal the batch range join
    "streaming_stream_join": """
        SELECT v.user_id, COUNT(*) AS n_attributed
        FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'view') v
        JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
              FROM events WHERE event_type = 'purchase') p
          ON p.user_id = v.user_id
         AND p.ts >= v.ts
         AND p.ts <= v.ts + INTERVAL 30 MINUTES
        GROUP BY 1
    """,
    # roundtrip == source-of-truth: aggregate straight off the parquet
    "events_csv_roundtrip": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(25,6))), 2) AS DOUBLE)
                   AS sum_value
        FROM events GROUP BY 1
    """,
    "streaming_windowed_agg": _EVENT_ORACLES["events_windowed_agg"],
    # the post-eviction state: only windows still open under the
    # final watermark (end > max ts - 1h) survive in the store
    "streaming_state_store_read": """
        WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS m FROM events)
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events, mx
        GROUP BY 1, 2, mx.m
        HAVING date_trunc('day', CAST(ts AS TIMESTAMP)) + INTERVAL 1 DAY
               > mx.m - INTERVAL 1 HOUR
    """,
    # the on-time-only aggregate: every straggler (ts < cut) was
    # dropped by the watermark, so it must not appear here
    "streaming_late_data_audit": f"""
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               {_sql_dsum("value")} AS sum_value
        FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{LATE_AUDIT_CUT}'
        GROUP BY 1, 2
    """,
    "streaming_sessionization": _EVENT_ORACLES["events_sessionization"],
    # provider swap must not change results: RocksDB run, same oracle
    "streaming_sessionization_rocksdb": _EVENT_ORACLES["events_sessionization"],
    # the redelivered duplicates must vanish: the deduped stream per
    # type equals the batch distinct-event count per type
    "streaming_dedup": """
        SELECT event_type, COUNT(DISTINCT event_id) AS n_events
        FROM events GROUP BY 1
    """,
    # merge == recompute: the oracle rebuilds the rollup from the
    # fully merged (latest-version-wins) table
    "incremental_agg_maintenance": f"""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderdate < TIMESTAMP '{CDC_CUTOFF}'
        ),
        delta AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderdate >= TIMESTAMP '{CDC_CUTOFF}'
            UNION ALL
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   {_UPLIFT_SQL} AS o_totalprice
            FROM base WHERE o_orderkey % {_UPDATE_EVERY} = 0
        ),
        unioned AS (
            SELECT *, 0 AS src FROM base
            UNION ALL
            SELECT *, 1 AS src FROM delta
        ),
        ranked AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_orderkey
                       ORDER BY src DESC) AS rn
            FROM unioned
        ),
        merged AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM ranked WHERE rn = 1
        )
        SELECT strftime(CAST(o.o_orderdate AS TIMESTAMP), '%Y-%m') AS month,
               m.o_orderstatus AS status,
               CAST(SUM(CAST(m.o_totalprice AS DECIMAL(25,4))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM merged m JOIN orders o USING (o_orderkey)
        GROUP BY 1, 2
    """,
    # maintenance == recompute for the JOIN view: the oracle rebuilds
    # the flat order x line-item join from the fully merged
    # latest-version-wins orders table and aggregates it; the Spark
    # side got there by retract-and-delta-join, never re-joining the
    # unchanged bulk
    "ivm_join_delta": f"""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderdate < TIMESTAMP '{CDC_CUTOFF}'
        ),
        delta AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderdate >= TIMESTAMP '{CDC_CUTOFF}'
            UNION ALL
            SELECT o_orderkey, 'U' AS o_orderstatus,
                   {_UPLIFT_SQL} AS o_totalprice
            FROM base WHERE o_orderkey % {_UPDATE_EVERY} = 0
        ),
        unioned AS (
            SELECT *, 0 AS src FROM base
            UNION ALL
            SELECT *, 1 AS src FROM delta
        ),
        ranked AS (
            SELECT o_orderkey, o_orderstatus,
                   ROW_NUMBER() OVER (PARTITION BY o_orderkey
                       ORDER BY src DESC) AS rn
            FROM unioned
        ),
        merged AS (
            SELECT o_orderkey, o_orderstatus FROM ranked WHERE rn = 1
        ),
        li AS (
            SELECT l_orderkey AS o_orderkey,
                   CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(25,4)) AS line_rev
            FROM lineitem
        ),
        dkeys AS (SELECT DISTINCT o_orderkey FROM delta)
        SELECT m.o_orderstatus AS status,
               COUNT(*) AS n_lines,
               COUNT(DISTINCT m.o_orderkey) AS n_orders,
               CAST(SUM(line_rev) AS DOUBLE) AS revenue,
               CAST(SUM(CASE WHEN d.o_orderkey IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS lines_from_delta
        FROM merged m
        JOIN li USING (o_orderkey)
        LEFT JOIN dkeys d ON d.o_orderkey = m.o_orderkey
        GROUP BY 1
    """,
    "streaming_windowed_topk": f"""
        WITH base AS ({_EVENT_ORACLES["events_windowed_agg"]}),
        ranked AS (
            SELECT window_start, event_type, n_events,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY window_start
                       ORDER BY n_events DESC, event_type) AS INT) AS rk
            FROM base
        )
        SELECT window_start, event_type, n_events, rk
        FROM ranked WHERE rk <= 3
    """,
}

ORACLES["events_json_roundtrip"] = ORACLES["events_csv_roundtrip"]
ORACLES["events_orc_roundtrip"] = ORACLES["events_csv_roundtrip"]
ORACLES["events_xml_roundtrip"] = ORACLES["events_csv_roundtrip"]

# rate-feed merge: last-writer-wins closed form. For key residue
# b = o_orderkey % RATE_KEY_MOD < RATE_MOD, the max consumed version
# is RATE_TOTAL - RATE_MOD + b (RATE_TOTAL % RATE_MOD == 0); payloads
# are the same pure functions of that version the stream applies.
assert RATE_TOTAL % RATE_MOD == 0
_RATE_VMAX = f"({RATE_TOTAL - RATE_MOD} + (o_orderkey % {RATE_KEY_MOD}))"
ORACLES["streaming_merge_sink_rate"] = f"""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % {RATE_KEY_MOD} < {RATE_MOD} THEN
               CASE CAST({_RATE_VMAX} % 3 AS INT)
                   WHEN 0 THEN 'RATE_A' WHEN 1 THEN 'RATE_B'
                   ELSE 'RATE_C' END
           ELSE o_orderstatus END AS o_orderstatus,
           CASE WHEN o_orderkey % {RATE_KEY_MOD} < {RATE_MOD} THEN
               CAST(1000.0 + {_RATE_VMAX} * 0.5 AS DOUBLE)
           ELSE o_totalprice END AS total_price,
           CASE WHEN o_orderkey % {RATE_KEY_MOD} < {RATE_MOD} THEN
               CAST({_RATE_VMAX} AS INT)
           ELSE 0 END AS version
    FROM orders
"""
