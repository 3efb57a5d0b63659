"""Reader + CDC behavior: schema pinning, PERMISSIVE quarantine, and
the high-watermark/merge primitives."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, spark_jobs
from uber_data_pipeline_spark.catalog import load_table
from uber_data_pipeline_spark.sources.cdc import (
    high_watermark,
    incremental_rows,
    merge_latest,
)
from uber_data_pipeline_spark.sources.readers import read_csv, quarantine_split

ART = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".artifacts")


def _write(path, table) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def test_load_table_sees_a_rewritten_file(spark, tmp_path):
    """Same path, new file with another schema: the schema cache is
    keyed on file identity, so the next load reads the new schema (a
    path-keyed cache would keep the old one and drop ``r_comment``)."""
    import pyarrow as pa

    path = str(tmp_path / "region.parquet")
    _write(path, pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}))
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    _write(path, pa.table({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"],
                           "r_comment": ["x", "y", "z"]}))
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r.r_comment for r in df.collect()) == ["x", "y", "z"]


def test_load_table_sees_an_added_partition_file(spark, tmp_path):
    """A directory table gains a partition: its rows show up in the
    next load."""
    import pyarrow as pa

    table = str(tmp_path / "nation.parquet")
    rows = {"n_nationkey": [0, 1], "n_name": ["A", "B"]}
    _write(os.path.join(table, "n_regionkey=0", "part-0.parquet"), pa.table(rows))
    assert load_table(spark, str(tmp_path), "nation").count() == 2
    _write(os.path.join(table, "n_regionkey=1", "part-0.parquet"),
           pa.table({"n_nationkey": [2], "n_name": ["C"]}))
    got = load_table(spark, str(tmp_path), "nation").collect()
    assert sorted((r.n_nationkey, r.n_regionkey) for r in got) == [(0, 0), (1, 0), (2, 1)]


def test_events_nanos_cold_and_warm_load_agree(spark, tmp_path):
    """TIMESTAMP(NANOS) events: the warm load reads with the cached
    schema (ts as the long nanosAsLong gives) and normalizes it to the
    same micros as the cold load."""
    import pyarrow as pa

    from uber_data_pipeline_spark.sources import readers

    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 86_400_000_000_001]
    path = str(tmp_path / "events.parquet")
    _write(path, pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(nanos, pa.timestamp("ns")),
        "user_id": pa.array([7, 7, 8], pa.int64()),
        "event_type": ["a", "b", "c"],
        "value": [1.0, 2.0, 3.0],
        "props": ["{}", "{}", "{}"],
    }))
    assert readers._INFERRED.get(path) is None

    def ts(df):
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        return sorted(r.ts for r in df.collect())

    cold = ts(load_table(spark, str(tmp_path), "events"))
    assert readers._INFERRED[path][1]["ts"].dataType.simpleString() == "bigint"
    assert ts(load_table(spark, str(tmp_path), "events")) == cold
    micros = sorted(spark.createDataFrame(
        [(n // 1000,) for n in nanos], "us bigint"
    ).selectExpr("timestamp_micros(us) AS ts").collect())
    assert cold == [r.ts for r in micros]


def test_schema_cache_holds_one_entry_per_path(spark, tmp_path):
    """Three rewrites of one path replace its entry: the cache grows
    by one entry, not one per file identity."""
    import pyarrow as pa

    from uber_data_pipeline_spark.sources import readers

    path = str(tmp_path / "region.parquet")
    before = len(readers._INFERRED)
    for n in (1, 2, 3):
        _write(path, pa.table({"r_regionkey": list(range(n)), "r_name": ["A"] * n}))
        assert load_table(spark, str(tmp_path), "region").count() == n
    assert len(readers._INFERRED) == before + 1


def test_warm_load_table_runs_no_job(spark):
    load_table(spark, SF_DIR, "orders")
    df, jobs = spark_jobs(spark, lambda: load_table(spark, SF_DIR, "orders"))
    assert jobs == 0
    assert df.columns == spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).columns


# marts_adhoc entries whose construction still runs jobs before the
# action (scalars computed eagerly); drop a name once it is fixed
CONSTRUCT_JOBS_ALLOWED = {"events_markov_attribution", "events_user_gini"}


def test_warm_construction_runs_no_job(spark):
    """After one warm pass, building each marts_adhoc entry (the
    QUERIES of queries.uber, queries.tpch and queries.events) again
    runs no Spark job: the catalog answers every schema from its
    cache. Only CONSTRUCT_JOBS_ALLOWED may still run jobs."""
    from uber_data_pipeline_spark.queries import events, tpch, uber

    fns = {**uber.QUERIES, **tpch.QUERIES, **events.QUERIES}
    assert len(fns) == 55
    for fn in fns.values():
        fn(spark, SF_DIR)
    jobs = {name: spark_jobs(spark, lambda: fn(spark, SF_DIR))[1] for name, fn in fns.items()}
    assert {name for name, n in jobs.items() if n} == CONSTRUCT_JOBS_ALLOWED, jobs


def test_warm_lsh_index_reads_run_no_job(spark):
    """The LSH index entries read their stored sigs and bands with the
    cached schema: a warm construction runs no job (it ran 2, one
    schema inference per index read)."""
    fns = entrymod.queries()
    for name in ("dedup_lsh_index_reuse", "dedup_incremental_delta"):
        fns[name](spark, SF_DIR)
        assert spark_jobs(spark, lambda: fns[name](spark, SF_DIR))[1] == 0, name


def test_csv_quarantine_split(spark, tmp_path):
    p = str(tmp_path / "rows.csv")
    with open(p, "w") as f:
        f.write("id,qty\n1,10\n2,notanumber\n3,30\n")
    df = read_csv(spark, p, "id int, qty int, _corrupt_record string")
    clean, bad = quarantine_split(df)
    assert clean.count() == 2
    assert bad.count() == 1
    assert bad.filter(F.col("_corrupt_record").contains("notanumber")).count() == 1


def test_high_watermark_and_incremental(spark):
    orders = load_table(spark, SF_DIR, "orders")
    sink = orders.filter(F.col("o_orderdate") < F.lit("1999-01-01"))
    wm = high_watermark(sink, "o_orderdate")
    assert wm is not None
    inc = incremental_rows(orders, "o_orderdate", wm)
    assert inc.count() == orders.filter(F.col("o_orderdate") > F.lit(wm)).count()
    assert high_watermark(None, "o_orderdate") is None


def test_merge_latest_upsert(spark):
    base = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "k int, v string, ver int"
    )
    delta = spark.createDataFrame(
        [(2, "b2", 1), (3, "c", 1), (2, "b1-stale", 0)], "k int, v string, ver int"
    )
    out = {r["k"]: r["v"] for r in merge_latest(base, delta, ["k"], "ver").collect()}
    # key 2: version 1 wins; version-0 tie (base "b" vs delta stale) never reached
    assert out == {1: "a", 2: "b2", 3: "c"}


def test_merge_latest_tie_prefers_delta(spark):
    base = spark.createDataFrame([(1, "old", 0)], "k int, v string, ver int")
    delta = spark.createDataFrame([(1, "reread", 0)], "k int, v string, ver int")
    out = merge_latest(base, delta, ["k"], "ver").collect()
    assert len(out) == 1 and out[0]["v"] == "reread"


def test_orc_round_trip(spark, tmp_path):
    """write_orc -> read_orc preserves rows, schema pinning, and
    partition pruning (partition filter must reach the scan)."""
    from uber_data_pipeline_spark.sources.readers import read_orc
    from uber_data_pipeline_spark.sources.writers import write_orc

    orders = load_table(spark, SF_DIR, "orders").limit(200)
    p = str(tmp_path / "orders_orc")
    write_orc(orders.withColumn("status", F.col("o_orderstatus")), p, ["status"])
    back = read_orc(spark, p)
    assert back.count() == 200
    one = back.filter(F.col("status") == "F")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(status" in plan, plan
    assert one.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_streaming_parquet_sink_exactly_once(spark, tmp_path):
    """Streaming file sink + checkpoint: an AvailableNow run writes
    each input row exactly once, and RE-RUNNING with the same
    checkpoint writes nothing new (offsets committed — the
    exactly-once file-sink contract a production ingest relies on)."""
    from uber_data_pipeline_spark.sources.cdc import read_stream_events
    from uber_data_pipeline_spark.streaming.events import events_landing_dir

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src = events_landing_dir(SF_DIR)

    def run_once():
        q = (
            read_stream_events(spark, src)
            .select("event_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_expected = load_table(spark, SF_DIR, "events").count()
    assert spark.read.parquet(out).count() == n_expected
    run_once()  # same checkpoint: no new files, no duplicated rows
    assert spark.read.parquet(out).count() == n_expected


def test_jdbc_options_partitioned():
    from uber_data_pipeline_spark.sources.readers import jdbc_read_options

    opts = jdbc_read_options(
        "jdbc:postgresql://db/uber",
        "raw_data_janjune_15",
        partition_column="locationid",
        lower_bound=1,
        upper_bound=265,
        num_partitions=16,
    )
    assert opts["partitionColumn"] == "locationid"
    assert (opts["lowerBound"], opts["upperBound"]) == ("1", "265")
    assert opts["numPartitions"] == "16"
    assert int(opts["fetchsize"]) > 0


def test_jdbc_options_require_full_bounds():
    import pytest as _pytest

    from uber_data_pipeline_spark.sources.readers import jdbc_read_options

    with _pytest.raises(ValueError):
        jdbc_read_options("jdbc:x", "t", partition_column="k")


def test_streaming_merge_resumes_from_checkpoint(spark):
    """Exactly-once lake sink across a RESTART: drain half the change
    files, stop, land the rest, restart with the SAME checkpoint —
    the file-source log must resume at the unprocessed files (no
    replay, no loss) and the final table must equal the one-shot
    relational merge."""
    import os
    import shutil

    from uber_data_pipeline_spark.queries.pipeline import (
        MERGE_SINK_PARTS,
        _cdc_frames,
    )
    from uber_data_pipeline_spark.sources.cdc import merge_latest
    from uber_data_pipeline_spark.streaming.events import merge_sink_stream

    sf_dir = "/root/testdata/sf0.001"
    base, delta = _cdc_frames(spark, sf_dir)
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".artifacts", "test_stream_resume",
    )
    shutil.rmtree(root, ignore_errors=True)
    stage = os.path.join(root, "stage")
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    delta.repartition(4).write.mode("overwrite").parquet(stage)
    parts = sorted(
        f for f in os.listdir(stage)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) == 4

    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double, version int"
    kwargs = dict(
        delta_schema=schema,
        target_path=os.path.join(root, "target"),
        checkpoint_dir=os.path.join(root, "checkpoint"),
        key_cols=["o_orderkey"],
        part_expr=f"CAST(o_orderkey % {MERGE_SINK_PARTS} AS INT)",
    )

    for f in parts[:2]:
        os.link(os.path.join(stage, f), os.path.join(landing, f))
    partial = merge_sink_stream(spark, base, landing, **kwargs)
    n_partial = partial.count()

    for f in parts[2:]:
        os.link(os.path.join(stage, f), os.path.join(landing, f))
    final = merge_sink_stream(spark, base, landing, **kwargs)

    expected = merge_latest(base, delta, ["o_orderkey"], "version")
    got = sorted(
        (r.o_orderkey, r.o_orderstatus, r.o_totalprice, r.version)
        for r in final.select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "version"
        ).collect()
    )
    want = sorted(
        (r.o_orderkey, r.o_orderstatus, r.o_totalprice, r.version)
        for r in expected.collect()
    )
    assert got == want
    # the restart really was incremental: the half-drained table is a
    # strict subset state, not already-final
    assert n_partial <= len(want)


def test_streaming_merge_one_batch_per_run(spark, tmp_path):
    """An availableNow run merges every landed file in ONE micro-batch
    (one offsets entry, one merge), and the table still equals the
    one-shot relational merge."""
    import shutil

    from uber_data_pipeline_spark.queries.pipeline import (
        MERGE_SINK_PARTS,
        _cdc_frames,
    )
    from uber_data_pipeline_spark.streaming.events import merge_sink_stream

    base, delta = _cdc_frames(spark, SF_DIR)
    stage, landing = str(tmp_path / "stage"), str(tmp_path / "landing")
    delta.repartition(4).write.parquet(stage)
    os.makedirs(landing)
    parts = [f for f in os.listdir(stage) if f.startswith("part-")]
    assert len(parts) == 4
    for f in parts:
        shutil.copy(os.path.join(stage, f), os.path.join(landing, f))

    checkpoint = str(tmp_path / "checkpoint")
    final = merge_sink_stream(
        spark,
        base,
        landing,
        "o_orderkey bigint, o_orderstatus string, o_totalprice double, version int",
        target_path=str(tmp_path / "target"),
        checkpoint_dir=checkpoint,
        key_cols=["o_orderkey"],
        part_expr=f"CAST(o_orderkey % {MERGE_SINK_PARTS} AS INT)",
    )

    batches = [f for f in os.listdir(os.path.join(checkpoint, "offsets")) if f.isdigit()]
    assert batches == ["0"]
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "version"]
    want = merge_latest(base, delta, ["o_orderkey"], "version")
    assert sorted(final.select(*cols).collect()) == sorted(want.select(*cols).collect())


def _land(path: str, rows: list[tuple], mtime: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    k, v = zip(*rows)
    pq.write_table(
        pa.table({"k": pa.array(k, pa.int64()), "v": pa.array(v, pa.string())}), path
    )
    os.utime(path, (mtime, mtime))


def test_streaming_merge_newest_file_wins(spark, tmp_path):
    """Two files of one micro-batch carry the same key: the row of the
    newer file wins, newest = max (modification time, path) — the
    order one-file batches were applied in. The lexically first file
    is the newer one here, so neither path order nor listing order
    can pass for mtime order; with equal mtimes the path decides."""
    from uber_data_pipeline_spark.streaming.events import merge_sink_stream

    base = spark.createDataFrame([(1, "base"), (2, "base")], "k bigint, v string")

    def run(name: str, mtime_a: int, mtime_b: int) -> dict:
        root = tmp_path / name
        landing = str(root / "landing")
        os.makedirs(landing)
        _land(os.path.join(landing, "a.parquet"), [(1, "from_a"), (3, "from_a")], mtime_a)
        _land(os.path.join(landing, "b.parquet"), [(1, "from_b"), (2, "from_b")], mtime_b)
        got = merge_sink_stream(
            spark,
            base,
            landing,
            "k bigint, v string",
            target_path=str(root / "target"),
            checkpoint_dir=str(root / "checkpoint"),
            key_cols=["k"],
            part_expr="CAST(k % 2 AS INT)",
        ).collect()
        assert len(got) == 3, got  # one row per key
        return {r.k: r.v for r in got}

    assert run("a_newer", 1_700_000_100, 1_700_000_000) == {
        1: "from_a", 2: "from_b", 3: "from_a",
    }
    assert run("same_mtime", 1_700_000_000, 1_700_000_000) == {
        1: "from_b", 2: "from_b", 3: "from_a",
    }


def test_latest_version_default_on_empty_lake(tmp_path):
    """A stream started before any commit exists must see 'no new
    data' (version -1), not crash; the strict batch path still
    raises a clear error."""
    import pytest

    from uber_data_pipeline_spark.sources.snapshots import latest_version

    empty = str(tmp_path / "lake")
    # missing manifests dir
    assert latest_version(empty, default=-1) == -1
    with pytest.raises(FileNotFoundError):
        latest_version(empty)
    # present but empty manifests dir
    os.makedirs(os.path.join(empty, "manifests"))
    assert latest_version(empty, default=-1) == -1
    with pytest.raises(FileNotFoundError):
        latest_version(empty)


def test_stream_reader_empty_lake_reports_no_data(tmp_path):
    """The commit-stream reader on an uncommitted lake reports offset
    {"version": -1}, and the range up to it plans no partition."""
    from uber_data_pipeline_spark.sources.pyds import SnapshotCommitPartitionedReader

    r = SnapshotCommitPartitionedReader({"root": str(tmp_path / "lake")})
    assert r.latestOffset() == {"version": -1}
    assert list(r.partitions(r.initialOffset(), r.latestOffset())) == []


def test_ensure_staged_rebuilds_on_source_change(tmp_path):
    """The staleness contract that the sf1 soak motivated: a staged
    derivative must rebuild when its SOURCE identity changes, and
    must reuse (not rebuild) when nothing changed — which also needs
    the identity to survive the marker's JSON round trip."""
    import time

    from uber_data_pipeline_spark.sources.staging import (
        ensure_staged,
        file_identity,
    )

    src = tmp_path / "source.parquet"
    src.write_bytes(b"generation-1")
    root = str(tmp_path / "derived")
    builds = []

    def build(tgt):
        builds.append(1)
        (tmp_path / "derived" / "data").write_text("built")

    params = lambda: {"what": "t", "src": file_identity(str(src))}  # noqa: E731
    ensure_staged(root, params(), build)
    ensure_staged(root, params(), build)
    assert len(builds) == 1  # second call reused
    time.sleep(0.01)
    src.write_bytes(b"generation-2!")  # size + mtime change
    ensure_staged(root, params(), build)
    assert len(builds) == 2  # source change forced a rebuild


def test_ensure_staged_sees_an_equal_size_older_file_in_a_source_dir(tmp_path):
    """A file in a source DIRECTORY replaced by one of equal size and an
    older mtime leaves the directory's total size and newest mtime
    unchanged; the per-file identity must still see it."""
    from uber_data_pipeline_spark.sources.staging import (
        ensure_staged,
        file_identity,
    )

    src = tmp_path / "lake"
    src.mkdir()
    a, b = src / "part-0.parquet", src / "part-1.parquet"
    a.write_bytes(b"aaaa")
    b.write_bytes(b"bbbb")
    a_ns = os.stat(a).st_mtime_ns
    os.utime(b, ns=(a_ns + 10**9, a_ns + 10**9))  # b is the newest file
    root = str(tmp_path / "derived")
    builds = []
    params = lambda: {"src": file_identity(str(src))}  # noqa: E731
    ensure_staged(root, params(), builds.append)
    a.unlink()
    a.write_bytes(b"AAAA")
    os.utime(a, ns=(a_ns - 10**9, a_ns - 10**9))
    ensure_staged(root, params(), builds.append)
    assert len(builds) == 2


def test_events_landing_dir_relinks_on_source_change(tmp_path, monkeypatch):
    """The stream landing hardlink must re-stage when the source
    parquet is REPLACED (old hardlink keeps the dead inode alive, so
    an existence check would stream stale data) — also when the
    replacement has the same size and the same mtime_ns."""
    import uber_data_pipeline_spark.sources.staging as staging
    import uber_data_pipeline_spark.streaming.events as SE

    sfdir = tmp_path / "sfX"
    sfdir.mkdir()
    src = sfdir / "events.parquet"
    src.write_bytes(b"gen-1")
    monkeypatch.setattr(staging, "ARTIFACT_ROOT", str(tmp_path / "art"))
    d1 = SE.events_landing_dir(str(sfdir))
    staged = os.path.join(d1, "events.parquet")
    assert open(staged, "rb").read() == b"gen-1"
    # replace the source (new inode), as a regenerated SF does
    src.unlink()
    src.write_bytes(b"gen-2-longer")
    d2 = SE.events_landing_dir(str(sfdir))
    assert open(os.path.join(d2, "events.parquet"), "rb").read() == b"gen-2-longer"
    # same size, same mtime_ns, new inode: only the inode tells
    st = os.stat(src)
    src.unlink()
    src.write_bytes(b"gen-3-LONGER")
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    d3 = SE.events_landing_dir(str(sfdir))
    assert open(os.path.join(d3, "events.parquet"), "rb").read() == b"gen-3-LONGER"


def test_warm_media_lake_runs_no_job(spark, tmp_path, monkeypatch):
    """A warm read of the staged media lake reuses the stage and the
    cached schema: no Spark job."""
    import uber_data_pipeline_spark.sources.staging as staging
    from uber_data_pipeline_spark.queries.training import _media_lake

    monkeypatch.setattr(staging, "ARTIFACT_ROOT", str(tmp_path / "art"))
    cold = _media_lake(spark, SF_DIR)
    warm, jobs = spark_jobs(spark, lambda: _media_lake(spark, SF_DIR))
    assert jobs == 0
    assert warm.schema == cold.schema


def test_expire_snapshots_gc_and_safety(spark):
    """Retention GC: expired manifests + orphaned files go; every file
    a surviving manifest references stays; keep-all is a no-op;
    keep_last < 1 refuses."""
    import shutil

    import pytest as _pytest

    from uber_data_pipeline_spark.sources.snapshots import (
        _manifest_path,
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
    )

    root = os.path.join(ART, "vacuum_unit")
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    for v, mode in ((0, "overwrite"), (1, "append"), (2, "overwrite")):
        commit_snapshot(
            orders.filter(F.col("o_orderkey") % 3 == v).repartition(2),
            root, v, mode=mode,
        )
    with _pytest.raises(ValueError, match="keep_last"):
        expire_snapshots(root, keep_last=0)

    # keep-all: nothing removed
    rep = expire_snapshots(root, keep_last=3)
    assert rep["expired"] == [] and rep["n_deleted_files"] == 0

    before_v2 = sorted(read_snapshot(spark, root, 2).collect())
    rep = expire_snapshots(root, keep_last=1)  # keep only v2
    assert rep["expired"] == [0, 1]
    # v2 overwrote, so commit-0/commit-1 files were orphaned: all gone
    assert rep["n_deleted_files"] == 4
    assert not os.path.exists(os.path.join(root, "data", "commit-0"))
    assert not os.path.exists(_manifest_path(root, 1))
    # the surviving snapshot reads exactly what it read before
    assert sorted(read_snapshot(spark, root, 2).collect()) == before_v2


def test_expire_snapshots_root_spelling_safe(spark):
    """ADVICE r7: a vacuum invoked with a DIFFERENT spelling of root
    than commit_snapshot used (trailing slash, relative path) must
    still recognize live files — never mass-delete them — and a
    manifest entry resolving outside the root must refuse to vacuum."""
    import json
    import shutil

    import pytest as _pytest

    from uber_data_pipeline_spark.sources.snapshots import (
        _manifest_path,
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
    )

    root = os.path.join(ART, "vacuum_spelling")
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey")
    commit_snapshot(orders.limit(10).repartition(2), root, 0, mode="overwrite")
    commit_snapshot(orders.limit(20).repartition(2), root, 1, mode="overwrite")

    # trailing slash + a redundant '.' segment: same lake, odd spelling
    odd = root + os.sep + "." + os.sep
    before = sorted(read_snapshot(spark, root, 1).collect())
    rep = expire_snapshots(odd, keep_last=1)
    assert rep["n_live_files"] == 2 and rep["n_deleted_files"] == 2
    assert sorted(read_snapshot(spark, root, 1).collect()) == before

    # a manifest pointing outside the root is a refuse-to-vacuum error
    mpath = _manifest_path(root, 1)
    man = json.load(open(mpath))
    man["files"] = ["/tmp/elsewhere/part-0.parquet"]
    json.dump(man, open(mpath, "w"))
    with _pytest.raises(ValueError, match="outside"):
        expire_snapshots(root, keep_last=1)


def test_expire_snapshots_keeps_inherited_files(spark):
    """An append chain keeps its PARENT's files live: expiring the
    parent version must not delete files the child still references."""
    import shutil

    from uber_data_pipeline_spark.sources.snapshots import (
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
    )

    root = os.path.join(ART, "vacuum_unit2")
    shutil.rmtree(root, ignore_errors=True)
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey")
    commit_snapshot(
        orders.filter(F.col("o_orderkey") % 2 == 0).repartition(2),
        root, 0, mode="overwrite",
    )
    commit_snapshot(
        orders.filter(F.col("o_orderkey") % 2 == 1).repartition(2),
        root, 1, mode="append",
    )
    full = read_snapshot(spark, root, 1).count()
    rep = expire_snapshots(root, keep_last=1)  # expire v0
    # v1 inherited v0's files: NOTHING is orphaned
    assert rep["expired"] == [0] and rep["n_deleted_files"] == 0
    assert read_snapshot(spark, root, 1).count() == full
