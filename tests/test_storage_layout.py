"""Storage-layout behavior at the plan level: bucketed tables join
without exchanges, partitioned lakes prune partitions in the scan —
the two write-side levers that decide read cost at 100 TB."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from uber_data_pipeline_spark.catalog import load_table
from uber_data_pipeline_spark.sources.writers import (
    PartitionedLake,
    read_table,
    write_bucketed,
)

ART = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".artifacts")


def test_bucketed_join_is_exchange_free(spark):
    """orders x lineitem bucketed by orderkey into the same bucket
    count: the join plan must contain NO Exchange on either side (the
    shuffle was paid at write time)."""
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(
        orders, "orders_b", os.path.join(ART, "bucketed", "orders"), 8,
        ["o_orderkey"], sort_cols=["o_orderkey"],
    )
    write_bucketed(
        li, "lineitem_b", os.path.join(ART, "bucketed", "lineitem"), 8,
        ["l_orderkey"], sort_cols=["l_orderkey"],
    )
    a, b = read_table(spark, "orders_b"), read_table(spark, "lineitem_b")
    joined = a.join(b, a.o_orderkey == b.l_orderkey).groupBy("o_orderpriority").count()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    join_section = plan.split("HashAggregate", 1)[-1]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan[:1500]
    assert "Exchange hashpartitioning(o_orderkey" not in join_section
    assert "Exchange hashpartitioning(l_orderkey" not in join_section
    # row parity with the unbucketed join
    plain = (
        load_table(spark, SF_DIR, "orders")
        .join(load_table(spark, SF_DIR, "lineitem"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .count()
    )
    assert a.join(b, a.o_orderkey == b.l_orderkey).count() == plain


def test_partitioned_write_prunes(spark):
    """A scan with a partition-key predicate must show the predicate
    under PartitionFilters (directory pruning), not DataFilters."""
    path = os.path.join(ART, "orders_by_status")
    shutil.rmtree(path, ignore_errors=True)
    orders = load_table(spark, SF_DIR, "orders")
    lake = PartitionedLake.stage(
        orders, path, ["o_orderkey"], "o_orderstatus", "o_orderstatus"
    )
    statuses = [r[0] for r in orders.select("o_orderstatus").distinct().collect()]
    part_dirs = sorted(d for d in os.listdir(path) if d.startswith("o_orderstatus="))
    assert part_dirs == sorted(f"o_orderstatus={s}" for s in statuses)
    df = lake.read(spark).filter(F.col("o_orderstatus") == statuses[0])
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "o_orderstatus" in pf, plan[:1500]


def test_merge_upsert_touches_only_changed_partitions(spark):
    """The MERGE sink's cost contract: partitions with no change rows
    must not be rewritten — their part files stay byte-identical on
    disk (checked by mtime+inode, not re-reading), while changed
    partitions pick up the upserts with replaced keys gone."""
    from uber_data_pipeline_spark.sources.writers import merge_upsert_partitioned

    path = os.path.join(ART, "merge_upsert_unit")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.range(1000).selectExpr(
        "id AS k", "CAST(id % 8 AS INT) AS part", "'old' AS val"
    )
    base.write.partitionBy("part").parquet(path)

    def files_of(part):
        d = os.path.join(path, f"part={part}")
        return {
            f: (os.stat(os.path.join(d, f)).st_mtime_ns,
                os.stat(os.path.join(d, f)).st_ino)
            for f in os.listdir(d) if f.endswith(".parquet")
        }

    untouched_before = {p: files_of(p) for p in (2, 3, 4, 5, 6, 7)}
    # changes hit partitions 0 and 1 only: update k=0,8 and insert k=2000
    changes = spark.createDataFrame(
        [(0, 0, "new"), (8, 0, "new"), (2001, 1, "new")],
        "k long, part int, val string",
    )
    merge_upsert_partitioned(spark, path, changes, ["k"], "part")

    for p, before in untouched_before.items():
        assert files_of(p) == before, f"partition {p} was rewritten"
    after = spark.read.parquet(path)
    assert after.count() == 1001  # 1000 - 2 replaced + 2 new + 1 insert
    assert after.filter("val = 'new'").count() == 3
    assert after.filter("k = 0 AND val = 'old'").count() == 0


def test_merge_upsert_keeps_null_partition_rows(spark):
    """A change batch that touches the NULL (default) partition must
    merge into it: a NULL-partition target row whose key is not in the
    change set survives, and the other partitions are untouched."""
    from uber_data_pipeline_spark.sources.writers import merge_upsert_partitioned

    path = os.path.join(ART, "merge_upsert_null_part")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame(
        [(1, None, "old"), (2, None, "old"), (3, 7, "old")],
        "k long, part int, val string",
    )
    base.repartition(1).write.partitionBy("part").parquet(path)
    assert "part=__HIVE_DEFAULT_PARTITION__" in os.listdir(path)
    changes = spark.createDataFrame(
        [(1, None, "new"), (4, None, "new")], "k long, part int, val string"
    )
    merge_upsert_partitioned(spark, path, changes, ["k"], "part")
    got = {(r.k, r.part, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {
        (1, None, "new"),
        (2, None, "old"),
        (3, 7, "old"),
        (4, None, "new"),
    }
    shutil.rmtree(path, ignore_errors=True)


def test_merge_sweeps_swap_aside_left_by_a_crash(spark):
    """A crash between the move-aside and the swap-in leaves the
    partition's only copy in ``<target>__swap_aside/``; the next merge
    must put it back before reading the table. An aside whose live
    partition exists (a crash after the swap-in) is stale and goes."""
    from uber_data_pipeline_spark.sources.writers import merge_upsert_partitioned

    path = os.path.join(ART, "merge_swap_crash")
    aside = path + "__swap_aside"
    for p in (path, aside):
        shutil.rmtree(p, ignore_errors=True)
    base = spark.range(100).selectExpr(
        "id AS k", "CAST(id % 4 AS INT) AS part", "'old' AS val"
    )
    base.repartition(1).write.partitionBy("part").parquet(path)
    # the on-disk state of a crash mid-swap of part=1, plus a stale
    # aside of part=2 from a crash right after its swap-in
    os.makedirs(aside)
    os.rename(os.path.join(path, "part=1"), os.path.join(aside, "part=1"))
    shutil.copytree(os.path.join(path, "part=2"), os.path.join(aside, "part=2"))

    changes = spark.createDataFrame(
        [(1, 1, "new"), (103, 3, "new")], "k long, part int, val string"
    )
    merge_upsert_partitioned(spark, path, changes, ["k"], "part")

    rows = spark.read.parquet(path).collect()
    keys = sorted(r.k for r in rows)
    assert keys == list(range(100)) + [103]  # every row exactly once
    assert {r.k: r.val for r in rows if r.val == "new"} == {1: "new", 103: "new"}
    assert all(not str(r.part).endswith("__swap_aside") for r in rows)
    assert not any(d.endswith("__swap_aside") for d in os.listdir(path))
    assert not os.path.exists(aside)
    shutil.rmtree(path, ignore_errors=True)


def test_sinks_read_back_without_a_job(spark, monkeypatch):
    """The three lake-sink entries and the late-data audit re-read
    what they wrote with the schema they wrote, so building the result
    after the last write runs no Spark job (inferring the schema from
    the footers runs one). The job group goes on the caller's thread
    after the merge (`cdc_merge_sink`) or after the stream's
    awaitTermination returns: inside foreachBatch it would tag the
    stream's thread, not the read-back."""
    from pyspark.sql.streaming import StreamingQuery

    from uber_data_pipeline_spark.queries.pipeline import (
        cdc_merge_sink,
        streaming_merge_sink,
        streaming_merge_sink_rate,
    )
    from uber_data_pipeline_spark.sources import writers
    from uber_data_pipeline_spark.streaming.events import late_data_audit_stream

    sc = spark.sparkContext
    jobs = {}
    for entry, owner, last_write in [
        (cdc_merge_sink, writers, "merge_upsert_partitioned"),
        (streaming_merge_sink, StreamingQuery, "awaitTermination"),
        (streaming_merge_sink_rate, StreamingQuery, "awaitTermination"),
        (late_data_audit_stream, StreamingQuery, "awaitTermination"),
    ]:
        group = f"{entry.__name__}-read-back"
        write = getattr(owner, last_write)

        def write_then_tag(*args, write=write, group=group, **kwargs):
            out = write(*args, **kwargs)
            sc.setJobGroup(group, group)
            return out

        with monkeypatch.context() as m:
            m.setattr(owner, last_write, write_then_tag)
            try:
                entry(spark, SF_DIR)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        jobs[entry.__name__] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == dict.fromkeys(jobs, 0), jobs


def test_bucketed_layout_restages_on_a_same_second_rewrite(spark, tmp_path, monkeypatch):
    """The staged bucketed layout is bound to its sources' full
    mtime_ns: an orders.parquet rewrite inside the same whole second
    (same size) must restage both tables, and the answer must not
    change."""
    import uber_data_pipeline_spark.sources.staging as staging
    from uber_data_pipeline_spark.queries.pipeline import bucketed_join_revenue

    monkeypatch.setattr(staging, "ARTIFACT_ROOT", str(tmp_path / "art"))
    sf = tmp_path / "sfbq"
    sf.mkdir()
    for tbl in ("orders", "lineitem"):
        shutil.copyfile(os.path.join(SF_DIR, f"{tbl}.parquet"), sf / f"{tbl}.parquet")
    layout = os.path.join(staging.artifact_dir("bucketed_q", str(sf)), "orders")

    def parts():
        return sorted(f for f in os.listdir(layout) if f.startswith("part-"))

    first = sorted(bucketed_join_revenue(spark, str(sf)).collect())
    staged = parts()
    assert sorted(bucketed_join_revenue(spark, str(sf)).collect()) == first
    assert parts() == staged  # unchanged sources: reused

    src = sf / "orders.parquet"
    ns = os.stat(src).st_mtime_ns
    same_second = ns - 1 if ns % 10**9 else ns + 1
    os.utime(src, ns=(same_second, same_second))
    assert sorted(bucketed_join_revenue(spark, str(sf)).collect()) == first
    assert parts() != staged  # rewritten with new job ids: restaged
