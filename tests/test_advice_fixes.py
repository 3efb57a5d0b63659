"""Regression tests for the round-3 ADVICE items (driver round 4).

Each test pins one of the four low-severity advisor findings:
  1. norms_arrow kernel: empty Arrow batch / null embedding row.
  2. staging: ensure_staged with the spark_success valid_fn (the flat
     landings' guard) restages on a missing _SUCCESS.
  3. fill_micro parity under a budget that does not divide 1_000_000.
  4. driver-heap default derived from available memory (capped).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def test_norms_arrow_empty_batch_and_null_rows(spark):
    """ADVICE r3 item 1: the mapInArrow kernel must survive (a) empty
    partitions — np.asarray([]) is float64 and cannot index — and
    (b) null embedding rows (pyarrow null ListScalar has no len)."""
    from uber_data_pipeline_spark.operators import similarity

    rows = [
        (1, [0.5, -0.5]),
        (1, None),
        (2, [1.0]),
    ]
    emb = spark.createDataFrame(
        rows, "label int, embedding array<double>"
    ).repartition(8)  # more partitions than rows -> empty Arrow batches
    got = {
        r.label: (r.n_vecs, r.sum_ssq_q)
        for r in similarity.norms_arrow(emb).collect()
    }
    q = similarity.NORM_Q
    # label 1: one real vector (0.5,-0.5) -> 2*(Q/2)^2, plus the null row
    # which contributes a 0-length vector (ssq 0) but still counts a row
    assert got[1] == (2, 2 * (q // 2) ** 2)
    assert got[2] == (1, q * q)


def test_norms_arrow_all_empty_input(spark):
    from uber_data_pipeline_spark.operators import similarity

    emb = spark.createDataFrame([], "label int, embedding array<double>")
    assert similarity.norms_arrow(emb).count() == 0


def test_ensure_staged_with_success_postcondition(tmp_path):
    """ADVICE r3 item 2: the flat landings stage through ensure_staged
    with the spark_success valid_fn; a matching marker with a MISSING
    _SUCCESS must restage, and a build that fails to produce _SUCCESS
    must raise rather than publish a marker."""
    import os

    from uber_data_pipeline_spark.sources.staging import ensure_staged, spark_success

    stage = str(tmp_path / "flat")
    builds = []

    def good_write(tgt):
        builds.append(tgt)
        os.makedirs(tgt, exist_ok=True)
        open(os.path.join(tgt, "_SUCCESS"), "w").close()

    ensure_staged(stage, {"v": 1}, good_write, valid_fn=spark_success)
    ensure_staged(stage, {"v": 1}, good_write, valid_fn=spark_success)
    assert len(builds) == 1  # second call reuses

    os.remove(os.path.join(stage, "_SUCCESS"))
    ensure_staged(stage, {"v": 1}, good_write, valid_fn=spark_success)
    assert len(builds) == 2  # missing _SUCCESS -> restage

    def bad_write(tgt):
        os.makedirs(tgt, exist_ok=True)  # finishes without _SUCCESS

    with pytest.raises(RuntimeError):
        ensure_staged(str(tmp_path / "bad"), {"v": 1}, bad_write, valid_fn=spark_success)


def test_default_driver_mem_bounds():
    """ADVICE r3 item 4: the heap default derives from physical RAM
    (half, capped 24g, floored 2g) instead of a hard 24g."""
    from uber_data_pipeline_spark.session import _default_driver_mem

    val = _default_driver_mem()
    assert val.endswith("g")
    assert 2 <= int(val[:-1]) <= 24


def test_token_packing_fill_micro_non_divisor_budget(spark, duck):
    """ADVICE r3 item 3: with a budget that does NOT divide 1_000_000
    the fill_micro expression must still hash-match the oracle —
    floor() on both engines, not engine-specific double->bigint cast."""
    import os

    from uber_data_pipeline_spark.catalog import load_table
    from uber_data_pipeline_spark.operators import sampling

    sf_dir = os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    budget = 333  # 1_000_000 / 333 is not an integer
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.lang, r.bucket, r.shard): (r.n_docs, r.sum_tokens, r.fill_micro)
        for r in sampling.token_packing(docs, budget=budget).collect()
    }
    want = {
        (lang, bucket, shard): (n, s, f)
        for lang, bucket, shard, n, s, f in duck.execute(
            sampling.sql_token_packing(budget=budget)
        ).fetchall()
    }
    assert got == want


def test_scheduler_default_is_fifo(spark):
    """Pins the r7 SCHED_AB.md decision: FIFO (it beat properly-wired
    FAIR on BOTH sequential and 8-way concurrent makespan)."""
    assert spark.sparkContext.getConf().get("spark.scheduler.mode") == "FIFO"


# ---------------------------------------------------------- r8 ADVICE


def test_burst_sentinel_only_in_audit_wrapper(spark):
    """ADVICE r8: the PRODUCT burst query must never emit the
    fabricated '__burst_sentinel__' row; the sentinel lives only in
    the audit wrapper the registry/gate binds (where it keeps the
    value-hash non-vacuous)."""
    from uber_data_pipeline_spark.queries import events as ev

    prod = ev.events_burst_detection(spark, SF_DIR := _sf()).collect()
    assert all(r.event_type != "__burst_sentinel__" for r in prod)

    audit = ev.events_burst_detection_audit(spark, SF_DIR).collect()
    sent = [r for r in audit if r.event_type == "__burst_sentinel__"]
    assert len(sent) == 1 and sent[0].burst_ratio == 10.0
    # audit == product + the sentinel row, nothing else differs
    assert sorted(map(tuple, prod)) == sorted(
        tuple(r) for r in audit if r.event_type != "__burst_sentinel__"
    )
    # r10 (ADVICE r9): the product KEY binds the clean query; the
    # sentinel twin has its own explicit registry key
    assert ev.QUERIES["events_burst_detection"] is ev.events_burst_detection
    assert (
        ev.QUERIES["events_burst_detection_audit"]
        is ev.events_burst_detection_audit
    )


def _sf():
    from tests.conftest import SF_DIR

    return SF_DIR


def test_lsh_tuning_zero_true_pairs_yields_defined_null(spark, duck):
    """ADVICE r8: tau above every pair's Jaccard (no true pairs) must
    produce expected_recall NULL in BOTH engines — a defined edge, not
    a div-by-zero/ANSI error."""
    from uber_data_pipeline_spark.catalog import load_table
    from uber_data_pipeline_spark.operators import dedup
    from uber_data_pipeline_spark.queries.training import (
        _SQL_NGRAM_JACCARD_ALL,
    )

    docs = load_table(spark, _sf(), "documents")
    rows = dedup.lsh_tuning_report(docs, tau=1.01).collect()
    assert len(rows) > 0
    assert all(r.n_true_pairs == 0 for r in rows)
    assert all(r.expected_recall is None for r in rows)
    orows = duck.execute(
        dedup.sql_lsh_tuning_report(_SQL_NGRAM_JACCARD_ALL, tau=1.01)
    ).df()
    assert len(orows) == len(rows)
    assert orows["expected_recall"].isna().all()


def test_expire_snapshots_through_symlink_alias(spark, tmp_path):
    """ADVICE r8: a root reached via a symlink alias of the path
    commit_snapshot used must vacuum normally (realpath comparison),
    not refuse with 'resolves outside the snapshot root'."""
    import os

    from pyspark.sql import functions as F

    from uber_data_pipeline_spark.catalog import load_table
    from uber_data_pipeline_spark.sources.snapshots import (
        commit_snapshot,
        expire_snapshots,
        read_snapshot,
    )

    root = str(tmp_path / "real_root")
    orders = load_table(spark, _sf(), "orders").select(
        "o_orderkey", "o_totalprice"
    )
    for v, mode in ((0, "overwrite"), (1, "overwrite")):
        commit_snapshot(
            orders.filter(F.col("o_orderkey") % 2 == v).repartition(1),
            root, v, mode=mode,
        )
    alias = str(tmp_path / "alias_root")
    os.symlink(root, alias)
    before = sorted(read_snapshot(spark, root, 1).collect())
    rep = expire_snapshots(alias, keep_last=1)  # via the symlink
    assert rep["expired"] == [0]
    assert sorted(read_snapshot(spark, root, 1).collect()) == before
