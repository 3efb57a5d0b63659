"""Unit tests for the r4 operators: snapshot commits, the binned
interval join, the triangle census, the BPE fold, and keep-best
canonicalization — small hand-checkable cases alongside the
whole-query DuckDB oracle gate."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from uber_data_pipeline_spark.operators.dedup import (
    banded_hamming_pairs,
    keep_best_per_cluster,
)
from uber_data_pipeline_spark.operators.temporal import interval_point_counts
from uber_data_pipeline_spark.sources import snapshots


def test_snapshot_append_inherits_parent_files(spark, tmp_path):
    root = str(tmp_path / "snap")
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(5, 8).withColumnRenamed("id", "k")
    m0 = snapshots.commit_snapshot(df1, root, 0)
    m1 = snapshots.commit_snapshot(df2, root, 1, mode="append")
    assert set(m0["files"]) <= set(m1["files"])
    assert snapshots.read_snapshot(spark, root, 0).count() == 5
    assert snapshots.read_snapshot(spark, root, 1).count() == 8
    assert snapshots.latest_version(root) == 1


def test_snapshot_overwrite_resets_file_list(spark, tmp_path):
    root = str(tmp_path / "snap")
    snapshots.commit_snapshot(spark.range(5).withColumnRenamed("id", "k"), root, 0)
    m1 = snapshots.commit_snapshot(
        spark.range(2).withColumnRenamed("id", "k"), root, 1, mode="overwrite"
    )
    assert all("commit-1" in f for f in m1["files"])
    # time travel still sees the pre-overwrite table
    assert snapshots.read_snapshot(spark, root, 0).count() == 5
    assert snapshots.read_snapshot(spark, root, 1).count() == 2


def test_snapshot_publish_is_atomic(spark, tmp_path):
    """A crash between data write and manifest publish leaves the
    version invisible: no manifest file, no partial state."""
    root = str(tmp_path / "snap")
    snapshots.commit_snapshot(spark.range(3).withColumnRenamed("id", "k"), root, 0)
    # simulate the data files of a failed commit 1 with no manifest
    spark.range(9).write.mode("overwrite").parquet(
        os.path.join(root, "data", "commit-1")
    )
    assert snapshots.latest_version(root) == 0
    with pytest.raises(FileNotFoundError):
        snapshots.read_snapshot(spark, root, 1)
    # manifest contents are well-formed json with absolute paths
    with open(os.path.join(root, "manifests", "v0.json")) as fh:
        m = json.load(fh)
    assert m["version"] == 0 and all(os.path.isabs(f) for f in m["files"])


def test_interval_join_equals_naive_inequality_join(spark):
    """Binned equi-join == naive BETWEEN join on a generated frame
    whose intervals straddle bin boundaries in every alignment."""
    iv = spark.createDataFrame(
        [(i, i % 3, 10 * i, 10 * i + (i * 7) % 29) for i in range(40)],
        "interval_id int, k int, s_day long, e_day long",
    )
    pts = spark.createDataFrame(
        [(i % 3, (i * 13) % 400) for i in range(200)],
        "k int, p_day long",
    )
    got = interval_point_counts(
        iv, pts.select("k", "p_day"), "k", "interval_id", bin_days=30
    )
    naive = (
        iv.join(
            pts,
            (iv.k == pts.k)
            & (pts.p_day >= iv.s_day)
            & (pts.p_day <= iv.e_day),
        )
        .groupBy("interval_id")
        .agg(F.count("*").alias("n_points"))
    )
    assert {(r.interval_id, r.n_points) for r in got.collect()} == {
        (r.interval_id, r.n_points) for r in naive.collect()
    }


def test_banded_hamming_pairs_exhaustive_small(spark):
    """Generic banded join finds EXACTLY the within-distance pairs on
    an exhaustive small signature set (all 5-bit values)."""
    sigs = spark.createDataFrame(
        [(i, i) for i in range(32)], "doc_id long, simhash long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in banded_hamming_pairs(sigs, bits=5, max_hamming=1).collect()
    }
    want = {
        (a, b)
        for a in range(32)
        for b in range(a + 1, 32)
        if bin(a ^ b).count("1") <= 1
    }
    assert got == want


def test_keep_best_prefers_quality_then_min_id(spark):
    clusters = spark.createDataFrame(
        [(1, 10, 3), (2, 10, 3), (3, 10, 3), (7, 70, 2), (8, 70, 2)],
        "doc_id long, cluster_id long, cluster_size long",
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.1), (8, 0.1)],
        "doc_id long, quality_score double",
    )
    got = {
        (r.cluster_id, r.kept_doc_id, r.cluster_size)
        for r in keep_best_per_cluster(clusters, quality).collect()
    }
    # cluster 10: quality tie 2 vs 3 -> min doc_id 2; cluster 70: tie -> 7
    assert got == {(10, 2, 3), (70, 7, 2)}


def test_bpe_fold_hand_example(spark):
    """'hello' with merges [ll, he] -> |he|ll|o| = 3 units."""
    from uber_data_pipeline_spark.operators.textops import _bpe_fold_spark

    row = (
        spark.createDataFrame([("hello",)], "w string")
        .withColumn("merges", F.expr("array('ll', 'he')"))
        .selectExpr(f"{_bpe_fold_spark('w')} AS e")
        .collect()[0]
    )
    assert row.e == "|hello|".replace("hello", "he|ll|o")
    # unit count formula used by the operator
    assert len(row.e) - len(row.e.replace("|", "")) - 1 == 3


def test_bpe_fold_merges_boundary_sharing_chains(spark):
    """Consecutive occurrences of a merge pair share their '|'
    boundary, so a single non-overlapping replace() pass merges only
    alternate occurrences ('abab' -> |ab|a|b|). True BPE applies each
    merge to a fixpoint; the fold's iterated passes must merge the
    whole chain: 'abab' -> |ab|ab|, 'aaaaa' -> 2x 'aa' + 1x 'a'."""
    from uber_data_pipeline_spark.operators.textops import _bpe_fold_spark

    rows = (
        spark.createDataFrame([("abab", "ab"), ("aaaaa", "aa"), ("ababab", "ab")],
                              "w string, m string")
        .withColumn("merges", F.expr("array(m)"))
        .selectExpr("w", f"{_bpe_fold_spark('w')} AS e")
        .collect()
    )
    got = {r.w: r.e for r in rows}
    assert got["abab"] == "|ab|ab|"
    assert got["ababab"] == "|ab|ab|ab|"
    # odd run: maximal pairing = 2 merged units + 1 leftover char
    assert sorted(got["aaaaa"].strip("|").split("|")) == ["a", "aa", "aa"]


def test_bpe_duckdb_twin_matches_spark_on_chains():
    """The DuckDB oracle fold must agree with the Spark fold on the
    boundary-sharing chain cases (both iterate BPE_FIX_PASSES)."""
    import duckdb

    from uber_data_pipeline_spark.operators.textops import BPE_FIX_PASSES

    body = "acc"
    for _ in range(BPE_FIX_PASSES):
        body = (
            f"replace({body}, '|' || substring(m, 1, 1) || '|' || "
            "substring(m, 2, 1) || '|', '|' || m || '|')"
        )
    fold = (
        "list_reduce(list_prepend("
        "'|' || array_to_string(list_transform(range(1, length(w) + 1), "
        "i -> substring(w, i, 1)), '|') || '|', merges), "
        f"(acc, m) -> {body})"
    )
    con = duckdb.connect()
    out = con.execute(
        f"SELECT {fold} AS e FROM (SELECT 'ababab' AS w, ['ab'] AS merges)"
    ).fetchone()[0]
    assert out == "|ab|ab|ab|"


def test_watermark_drop_is_delay_driven(spark):
    """The late-data audit's strict drop is the WATERMARK's doing:
    with a delay wider than the stragglers' lateness, the same
    two-batch feed admits them all (150 keyed groups at sf0.001's
    30 days x 5 types); with the production 1-hour delay the result
    is on-time-only (the driver oracle pins that case)."""
    from uber_data_pipeline_spark.streaming.events import late_data_audit_stream

    from tests.conftest import SF_DIR

    # count eagerly: both runs share the artifact root, and the
    # second run restages it, invalidating the first lazy DataFrame
    n_wide = late_data_audit_stream(spark, SF_DIR, delay="31 days").count()
    strict = late_data_audit_stream(spark, SF_DIR)
    n_strict = strict.count()
    assert n_wide > n_strict
    # strict result covers only on-time days (ts >= cut)
    assert strict.agg(F.min("window_start")).collect()[0][0].day == 16


def test_pyds_stream_offsets_replay_deterministically(spark, tmp_path):
    """The commit-stream reader's offset protocol: latestOffset() is
    the newest commit version, the range from -1 plans every commit
    file, and a recovery replay of a sub-range (partitions over
    (start, end]) lists exactly that range's files, every time."""
    from uber_data_pipeline_spark.sources.pyds import SnapshotCommitPartitionedReader
    from uber_data_pipeline_spark.sources.snapshots import commit_snapshot

    root = str(tmp_path / "commits")
    for v in range(3):
        commit_snapshot(
            spark.range(v * 10, v * 10 + 5)
            .selectExpr(
                "id AS o_orderkey",
                "'O' AS o_orderstatus",
                "CAST(id AS DOUBLE) AS o_totalprice",
            ),
            root,
            v,
            mode="append",
        )
    r = SnapshotCommitPartitionedReader({"root": root})
    end = r.latestOffset()
    assert end == {"version": 2}

    def keys(parts) -> list[int]:
        return sorted(k for p in parts for b in r.read(p) for k in b.column(0).to_pylist())

    assert keys(r.partitions(r.initialOffset(), end)) == [
        k for v in range(3) for k in range(v * 10, v * 10 + 5)
    ]
    mid = r.partitions({"version": 0}, {"version": 1})
    assert mid and all(f"{os.sep}commit-1{os.sep}" in p.path for p in mid)
    assert keys(mid) == list(range(10, 15))
    # replay is deterministic: same range, same files
    assert [p.path for p in mid] == [
        p.path for p in r.partitions({"version": 0}, {"version": 1})
    ]


def test_pyds_batch_pushdown_matches_unfiltered(spark, tmp_path):
    """pushFilters must be an OPTIMIZATION, not a semantic: the
    filtered read equals filtering the unfiltered read."""
    from uber_data_pipeline_spark.sources import pyds
    from uber_data_pipeline_spark.sources.snapshots import commit_snapshot

    root = str(tmp_path / "snap")
    commit_snapshot(
        spark.range(100).selectExpr("id AS k", "id * 2 AS v"), root, 0
    )
    pyds.register(spark)
    df = (
        spark.read.format("snapshot_manifest")
        .option("root", root)
        .option("version", 0)
        .load()
    )
    got = sorted(r.k for r in df.filter("k > 90").collect())
    assert got == list(range(91, 100))


def test_snapshot_append_requires_parent_manifest(spark, tmp_path):
    """An append commit whose parent manifest is missing must FAIL
    (silently starting a fresh file list would drop all history)."""
    root = str(tmp_path / "snap")
    snapshots.commit_snapshot(spark.range(3).withColumnRenamed("id", "k"), root, 0)
    with pytest.raises(FileNotFoundError):
        snapshots.commit_snapshot(
            spark.range(3).withColumnRenamed("id", "k"), root, 2, mode="append"
        )


def test_kmv_underfull_sketch_is_exact(spark):
    """With fewer distinct keys than k, KMV must report the EXACT
    counts (the kth-minimum extrapolation only applies to full
    sketches)."""
    from uber_data_pipeline_spark.operators.sketches import kmv_intersection

    ev = spark.createDataFrame(
        [(i, "view" if i % 2 == 0 else "purchase", i % 10) for i in range(60)]
        + [(100 + i, "view", 50 + i) for i in range(5)],
        "event_id long, event_type string, user_id long",
    )
    row = kmv_intersection(ev, k=64).collect()[0]
    assert row.est_a == row.exact_a
    assert row.est_b == row.exact_b
    assert row.est_union == row.exact_union
    assert row.est_intersection == row.exact_intersection


def test_snapshot_manifest_stats_skip_files(spark, tmp_path):
    """Manifest-level data skipping: per-file [min,max] recorded at
    commit time prunes non-intersecting files before Spark lists
    them, and the surviving rows still pass through the exact
    predicate (skipping is a pure optimization)."""
    root = str(tmp_path / "snap")
    # two disjoint key ranges in two commits -> two file sets
    snapshots.commit_snapshot(
        spark.range(0, 100).repartition(1).withColumnRenamed("id", "k"),
        root, 0, stats_cols=["k"],
    )
    snapshots.commit_snapshot(
        spark.range(1000, 1100).repartition(1).withColumnRenamed("id", "k"),
        root, 1, mode="append", stats_cols=["k"],
    )
    with open(os.path.join(root, "manifests", "v1.json")) as fh:
        m = json.load(fh)
    assert all("k" in s for s in m["stats"].values())
    got = snapshots.read_snapshot(spark, root, 1, between=("k", 1050, 1060))
    assert sorted(r.k for r in got.collect()) == list(range(1050, 1061))
    # only the second commit's file survives pruning
    scanned = got.inputFiles()
    assert all("commit-1" in f for f in scanned) and len(scanned) == 1
    # a range hitting no file yields an empty (correct-schema) result
    assert snapshots.read_snapshot(spark, root, 1, between=("k", 500, 600)).count() == 0


def test_codec_registry_dispatch(spark):
    """extract_features dispatches through the codec registry captured
    at plan time: a registered fake codec changes the features, and
    restoring the stub restores them."""
    from uber_data_pipeline_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(0, "aaa", "en", "s", 3), (1, "bbb", "en", "s", 3), (2, "ccc", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = multimodal.attach_media(docs)
    base = {r.media_id: r.feat for r in multimodal.extract_features(media).collect()}
    try:
        multimodal.register_codec("audio", lambda p, dim: [9.0] * dim)
        got = {r.media_id: r.feat for r in multimodal.extract_features(media).collect()}
    finally:
        multimodal.register_codec("audio", multimodal._decode_payload)
    # doc_id 1 -> kind 'audio' changed; others (image/text kinds) unchanged
    assert got[1] == [9.0] * multimodal.FEATURE_DIM
    assert got[0] == base[0] and got[2] == base[2]
    after = {r.media_id: r.feat for r in multimodal.extract_features(media).collect()}
    assert after == base


from hypothesis import given, settings, strategies as st


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 60)),
        min_size=1,
        max_size=25,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 560)),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([7, 30, 45]),
)
def test_interval_join_property(spark, ivs, pts, bin_days):
    """For ANY interval/point set and bin width, the binned equi-join
    equals the naive BETWEEN join (lossless binning)."""
    iv = spark.createDataFrame(
        [(i, k, s, s + ln) for i, (k, s, ln) in enumerate(ivs)],
        "interval_id int, k int, s_day long, e_day long",
    )
    pt = spark.createDataFrame(pts, "k int, p_day long")
    got = {
        (r.interval_id, r.n_points)
        for r in interval_point_counts(
            iv, pt, "k", "interval_id", bin_days=bin_days
        ).collect()
    }
    naive = {}
    for i, (k, s, ln) in enumerate(ivs):
        n = sum(1 for pk, pd_ in pts if pk == k and s <= pd_ <= s + ln)
        if n:
            naive[i] = n
    assert got == set(naive.items())


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 255), min_size=2, max_size=30, unique=True),
    st.sampled_from([1, 2, 3]),
)
def test_banded_hamming_property(spark, sigs, max_h):
    """For ANY 8-bit signature set and distance bound, the pigeonhole
    banded join finds exactly the within-distance pairs."""
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "doc_id long, simhash long"
    )
    got = {
        (r.id_a, r.id_b)
        for r in banded_hamming_pairs(df, bits=8, max_hamming=max_h).collect()
    }
    want = {
        (a, b)
        for a in range(len(sigs))
        for b in range(a + 1, len(sigs))
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_h
    }
    assert got == want


def test_real_pil_codec_dispatch(spark):
    """VERDICT r2 item 6: where PIL exists, register an ACTUAL image
    decoder (decode -> resize -> channel stats) and prove the
    registry dispatches to it with the plumbing — schema, Arrow batch
    shape, row count — unchanged. Skipped where PIL is absent (this
    container); the fake-codec test above pins dispatch everywhere."""
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from uber_data_pipeline_spark.operators import multimodal

    # real payloads: 2x2 PNGs whose pixel values derive from media_id
    def png_bytes(seed: int) -> bytes:
        img = PIL_Image.new("RGB", (2, 2), (seed % 256, (seed * 7) % 256, 0))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        return buf.getvalue()

    rows = [(i, "image", png_bytes(i)) for i in range(6)]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )

    def pil_decode(payload: bytes, dim: int) -> list:
        img = PIL_Image.open(io.BytesIO(payload)).convert("RGB").resize((4, 4))
        px = list(img.getdata())
        # channel means + fixed padding to the feature dim
        feats = [
            sum(c[ch] for c in px) / (255.0 * len(px)) for ch in range(3)
        ]
        return (feats + [0.0] * dim)[:dim]

    try:
        multimodal.register_codec("image", pil_decode)
        got = {
            r.media_id: r.feat
            for r in multimodal.extract_features(media).collect()
        }
    finally:
        multimodal.register_codec("image", multimodal._decode_payload)

    assert len(got) == 6
    for i in range(6):
        assert len(got[i]) == multimodal.FEATURE_DIM
        # red channel mean must reflect the seed-derived pixel value
        assert abs(got[i][0] - (i % 256) / 255.0) < 1e-6
