"""Physical-plan audits: the properties that make queries survive a
100 TB scale-up — filter/projection pushdown into the parquet scan,
broadcast joins for dims, no cartesian products anywhere, map-side
partial aggregation."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def explain_formatted(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q6_filter_pushdown(spark):
    """Pure scan+filter+agg must reach the parquet reader as
    PushedFilters, not a post-scan Filter over all rows."""
    plan = explain_formatted(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed or "l_discount" in pushed, pushed


def test_q6_column_pruning(spark):
    """The q6 scan needs 4 lineitem columns; ReadSchema must not drag
    the other 12 through the scan."""
    plan = explain_formatted(spark, "tpch_q6_forecast_revenue")
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema, read_schema
    assert "l_orderkey" not in read_schema, read_schema


def test_dim_joins_broadcast(spark):
    """Fact-to-dim joins (nation/region dims) must broadcast the dim,
    not shuffle the fact table."""
    for name in ("top3_bases_by_pickups", "tpch_q5_local_supplier_volume"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast:\n{plan[:2000]}"


# Scalar-broadcast plans are declared registry-side, next to each
# module's QUERIES dict (queries/<mod>.py SCALAR_BROADCAST) — a new
# entry cannot ship without tagging itself where it is registered.
from uber_data_pipeline_spark import queries as _qreg

SCALAR_BROADCAST_OK = _qreg.all_scalar_broadcast()


def test_no_cartesian_products(spark):
    """Every pair-generating operator must be bucket/band-local; a
    CartesianProduct or BroadcastNestedLoopJoin in any plan means an
    O(n^2) blow-up at scale — except a declared 1-row scalar
    broadcast. applyInPandas kernels (FlatMapCoGroups*) are the
    sanctioned dense-block path.  The tag set is enforced in BOTH
    directions: an untagged BNLJ plan fails (new entry shipped without
    declaring itself), and a stale tag with no BNLJ in its plan fails
    (tag rot)."""
    bnlj: set[str] = set()
    for name in sorted(QUERIES):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        if "BroadcastNestedLoopJoin" in plan:
            bnlj.add(name)
    untagged = bnlj - SCALAR_BROADCAST_OK
    assert not untagged, (
        "BroadcastNestedLoopJoin in plans not declared SCALAR_BROADCAST "
        f"in their queries/<mod>.py: {sorted(untagged)}"
    )
    stale = SCALAR_BROADCAST_OK - bnlj
    assert not stale, (
        "SCALAR_BROADCAST tags whose plans no longer contain a "
        f"BroadcastNestedLoopJoin (remove the tag): {sorted(stale)}"
    )


def test_aggregates_are_partial(spark):
    """groupBy aggregates must show two HashAggregate phases (partial
    + final) so the shuffle carries combined rows, not raw rows."""
    plan = plan_of(spark, "tpch_q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2, plan[:2000]


def test_whole_stage_codegen_on_hot_path(spark):
    """Scan->filter->partial-agg must fuse into WholeStageCodegen
    stages (checked with AQE off: AQE defers stage wrapping until
    runtime, hiding the markers from a static explain)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(spark, "tpch_q1_pricing_summary")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # codegen'd stages print as `*(n) Operator` in the plan string
    assert "*(1)" in plan, plan[:2000]


def test_asof_join_is_windowed_not_joined(spark):
    """The as-of operator must compile to the union + per-key window
    form — no join operator at all (a time-inequality join would be a
    range blow-up at scale)."""
    plan = plan_of(spark, "events_asof_view_attribution")
    assert "Window" in plan
    for marker in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert marker not in plan, f"as-of should not join:\n{plan[:2000]}"


def test_forward_window_count_is_range_frame(spark):
    """r10: the forward-window COUNT must be ONE RANGE-frame window
    (sliding accumulator, O(n log n) total even when match volume is
    quadratic in density) — no join, no bucket candidate generation
    (the binned equi-join remains in operators/temporal.py for
    row-attaching range joins)."""
    plan = plan_of(spark, "events_forward_window_join")
    assert "Window" in plan, plan[:2000]
    assert "specifiedwindowframe(RangeFrame" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_new_tpch_scan_pushdown(spark):
    """Date-range filters of the added TPC-H shapes must land in the
    parquet scan."""
    for name in ("tpch_q7_volume_shipping", "tpch_q14_promo_revenue"):
        plan = explain_formatted(spark, name)
        assert "PushedFilters: [" in plan, name
        pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "l_shipdate" in pushed, f"{name}: {pushed}"


def test_stratified_sample_no_shuffle(spark):
    """Deterministic sampling must be row-local: no Exchange in the
    plan (the filter is a pure function of the row)."""
    plan = plan_of(spark, "documents_stratified_sample")
    assert "Exchange" not in plan, plan[:2000]


def test_pii_scrub_no_shuffle(spark):
    """PII detect/redact is row-local regex work — no Exchange
    anywhere in the plan."""
    plan = plan_of(spark, "text_pii_scrub")
    assert "Exchange" not in plan, plan[:2000]


def test_copurchase_pairs_partial_agg(spark):
    """The market-basket pair count must partial-aggregate map-side so
    the pair shuffle carries combined (pair, count) rows, and the
    top-100 must be a TakeOrdered, not a global Sort."""
    plan = plan_of(spark, "lineitem_copurchase_pairs")
    assert plan.count("HashAggregate") >= 2, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]


@pytest.mark.parametrize(
    "name",
    [
        "events_windowed_agg",
        "customer_ltv_window",
        "top3_pickup_dates_per_base",
        "events_top_paths",
        "events_burst_detection",
        "parts_abc_by_nation",
        "orders_yoy_growth",
        # r4: 7-day RANGE frame partitioned by priority
        "orders_moving_window",
        # r4: keep-best rank partitioned by cluster_id
        "dedup_keep_best",
        # r5: packing cumsum partitioned by (lang, salt bucket)
        "training_token_packing",
        # r11: islands lag/cumsum partitioned by doc_id
        "dedup_substring_spans",
    ],
)
def test_windows_partitioned(spark, name):
    """No window function may run over a single global partition —
    every Window must carry a partitionBy (bounded-cardinality key)."""
    plan = plan_of(spark, name)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "SinglePartition" not in line, f"{name}: global window\n{line}"


def test_lm_fit_tiers_window_is_sample_bounded(spark):
    """VERDICT r8 item 1: the tier bucketing must NOT be a
    per-stratum NTILE over corpus-sized partitions (English x
    CommonCrawl is 40%+ of a real corpus — a single-task sort).
    Required shape: the corpus side is a broadcast LeftOuter join +
    row-local CASE; the ONLY window (cutoff ranking) runs behind the
    affine-hash sample filter whose in-plan modulus bounds it at
    FIT_SAMPLE_TARGET expected rows."""
    from uber_data_pipeline_spark.operators.textops import FIT_HASH_A

    plan = plan_of(spark, "documents_lm_fit_tiers")
    assert "ntile" not in plan.lower(), plan[:2000]
    assert "Window" in plan, plan[:2000]
    corpus_side, _, window_subtree = plan.partition("Window")
    # tier assignment: broadcast LeftOuter join upstream of the window
    assert "LeftOuter" in corpus_side, corpus_side[:2000]
    # the window's input subtree carries the sample predicate
    assert str(FIT_HASH_A) in window_subtree, window_subtree[:2000]


def test_embedding_dedup_is_bucket_local(spark):
    """dedup_embedding_cosine must run the banded-SRP plan: ONE
    hash exchange on (band, bucket) + in-partition sort feeding the
    streaming MapInPandas verify kernel (r5: replaced per-group
    FlatMapGroupsInPandas, whose per-group harness overhead dominated
    at 26k tiny groups), NOT the exact path's n_blocks x n_blocks
    cogroup cell fan-out — candidates stay bucket-local so the pair
    work shards with the buckets."""
    plan = plan_of(spark, "dedup_embedding_cosine")
    assert "MapInPandas" in plan, plan[:2000]
    assert "hashpartitioning(band" in plan, plan[:2000]
    assert "Sort [band" in plan, plan[:2000]
    assert "FlatMapCoGroupsInPandas" not in plan, plan[:2000]


def test_aqe_skew_split_fires_on_hot_shingle_partition(spark):
    """The shingle self-join's documented skew story, demonstrated:
    when one shuffle partition of the inverted-index join is hot, AQE
    must split it (ShuffledHashJoin(skew=true) + 'skewed' shuffle
    reads) instead of letting one task absorb the partition.

    The corpus is engineered for partition-level skew: thousands of
    single-shingle docs whose shingle hashes to shuffle partition 0
    (placement replicated via pmod(hash(key), n) — the same function
    HashPartitioning uses), plus a sprinkle of near-dup docs so the
    result is non-empty (AQE collapses empty stages to EmptyRelation,
    which would hide the join node). Thresholds are shrunk to test
    scale; at production defaults (256MB) the same mechanics fire on
    genuinely hot buckets."""
    import random

    from pyspark.sql import functions as F

    from uber_data_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k, v in (
            ("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"),
            ("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"),
            ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB"),
            # the 100 TB sides would never broadcast; stop AQE from
            # converting the small test corpus to a broadcast join
            ("spark.sql.autoBroadcastJoinThreshold", "-1"),
            ("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"),
        ):
            spark.conf.set(k, v)

        hot = spark.range(24000).selectExpr(
            "id AS doc_id",
            "concat('sk', id, 'a gw', id, 'b pq', id, 'c') AS text",
        ).filter(F.expr("pmod(hash(text), 8) = 0"))
        random.seed(7)
        rows = [
            (100000 + i, " ".join(f"w{random.randrange(10**6)}" for _ in range(20)))
            for i in range(100)
        ]
        rows += [(200000 + i, "alpha beta gamma delta epsilon") for i in range(4)]
        cold = spark.createDataFrame(rows, "doc_id long, text string")

        df = ngram_jaccard_pairs(hot.unionByName(cold), 0.5)
        result = df.collect()
        assert len(result) == 6  # the 4 identical docs -> C(4,2) pairs
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:3000]
        assert "skewed" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.clearCache()


def test_media_scan_prunes_payload(spark):
    """Metadata queries over the blob lake must never read the payload
    column — at 100 TB the payload is ~all the bytes, so a ReadSchema
    that drags it through the scan defeats the opaque-blob design."""
    plan = explain_formatted(spark, "multimodal_metadata_pushdown")
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "payload" not in read_schema, read_schema
    assert "meta" in read_schema, read_schema


def test_stratum_sample_broadcasts_counts(spark):
    """training_stratum_target_sample's stratum-count relation must
    BROADCAST onto the corpus scan (the counts are |lang x source|
    rows); a sort-merge join here would shuffle the whole corpus for
    a dictionary-sized dimension."""
    plan = plan_of(spark, "training_stratum_target_sample")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_snm_rank_is_range_partitioned(spark):
    """dedup_sorted_neighborhood's global rank must run on a RANGE
    exchange (the distributed-rank pattern) — a corpus-sized single
    window partition would serialize the sort on one reducer. The
    operator localCheckpoints the ranked relation (truncating it out
    of the final plan), so the exchange shape is asserted on the
    factored _snm_local builder; the pair-join shape on the product
    plan."""
    from uber_data_pipeline_spark.operators.dedup import _snm_local
    from uber_data_pipeline_spark.queries.training import _docs

    rank_plan = (
        _snm_local(_docs(spark, SF_DIR))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in rank_plan.lower(), rank_plan[:2000]
    plan = plan_of(spark, "dedup_sorted_neighborhood")
    # the neighborhood pair join is an equi-join on pos, never a
    # nested-loop band join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tokenizer_fertility_vocab_joins_broadcast(spark):
    """The top-k vocab (k rows) must come back as a broadcast join
    onto the (lang, token) relation, not a shuffle of the exploded
    token stream."""
    plan = plan_of(spark, "text_tokenizer_fertility")
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_join_forecast_joins_reduced_relations(spark):
    """events_selfjoin_forecast's full-outer join must line up the
    two REDUCED per-key degree relations — both join inputs carry a
    partial_count aggregate below them, so the shuffle moves |keys|
    rows, never |rows|."""
    plan = explain_formatted(spark, "events_selfjoin_forecast")
    # the degree censuses partial-aggregate before any join
    assert plan.count("HashAggregate") >= 4, plan[:3000]
    assert "CartesianProduct" not in plan


def test_rfm_is_reduced_agg_plus_scalar_broadcasts(spark):
    """customer_rfm_segments (r10): ONE map-side-combined per-customer
    HashAggregate reduces the fact table, then exactly two 1-row
    broadcasts (corpus max date; quintile cutoffs) attach via
    BroadcastNestedLoopJoin onto the REDUCED relation — no
    corpus-sized window, no extra shuffle."""
    plan = plan_of(spark, "customer_rfm_segments")
    # the fact reduction partial-aggregates before its shuffle
    assert "partial_max" in plan and "partial_count" in plan, plan[:3000]
    # the two declared scalar broadcasts (the cutoff subtree repeats
    # the max-date broadcast, so the node count can exceed 2) — every
    # BNLJ must be a 1-row identity-broadcast build, one per node
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj >= 2, plan[:3000]
    assert plan.count("IdentityBroadcastMode") == n_bnlj, plan[:3000]
    # both build sides are global (keys=[]) aggregates -> one row
    assert "HashAggregate(keys=[], functions=[max(" in plan, plan[:3000]
    assert "percentile(" in plan, plan[:3000]
    # scoring is row-local CASE arithmetic, never a window
    assert "Window" not in plan, plan[:3000]


def test_holt_recursion_input_is_reduced_series(spark):
    """orders_forecast_holt (r10): the level/trend recurrence must run
    over the REDUCED monthly series (a checkpointed 1-row fold state),
    never the fact table — the post-checkpoint plan is a pure Union of
    ExistingRDD scans with no join, no window, no shuffle, and the
    result cardinality is bounded by the month span (+1 forecast
    row)."""
    df = QUERIES["orders_forecast_holt"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan[:2000]
    for marker in ("Join", "Window", "Exchange", "FileScan"):
        assert marker not in plan, f"{marker} in post-checkpoint plan:\n{plan[:2000]}"
    n_months = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .selectExpr("count(DISTINCT date_trunc('month', o_orderdate)) AS n")
        .first()["n"]
    )
    assert df.count() <= n_months + 1


def test_gopher_repetition_no_shuffle(spark):
    """r11: every Gopher repetition signal is a function of one
    document, so the operator must be a pure row-local map — no
    Window, no Join, and no KEYED Exchange anywhere in the plan (the
    first version shuffled the corpus gram stream three times). r12:
    the single permitted Exchange is spread_rowlocal's gated
    ROUND-ROBIN repartition — input spreading for the under-split
    local scan (one file, one row group), a no-op at lake scale; it
    must carry no partitioning key."""
    plan = plan_of(spark, "documents_gopher_repetition")
    for marker in ("Window", "Join", "hashpartitioning", "rangepartitioning"):
        assert marker not in plan, f"{marker} in plan:\n{plan[:2000]}"
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "RoundRobinPartitioning" in plan


def test_ivfpq_member_broadcast_gated_on_threshold(spark):
    """ivfpq_topk hints the member side of its probe join only while
    the n member rows (17 longs each) fit the session's broadcast
    threshold. One byte short of that the hint is gone and stats
    choose the join; with the threshold below n bytes nothing fits
    and the probe join broadcasts neither side."""
    import re

    from uber_data_pipeline_spark.catalog import load_table
    from uber_data_pipeline_spark.operators.similarity import IVFPQ_SUBSPACES, ivfpq_topk
    from uber_data_pipeline_spark.session import scoped_session

    n = load_table(spark, SF_DIR, "embeddings").count()
    members_bytes = n * (1 + IVFPQ_SUBSPACES) * 8

    def probe_join(threshold: int | None) -> tuple[str, str]:
        session = spark if threshold is None else scoped_session(
            spark, {"spark.sql.autoBroadcastJoinThreshold": threshold}
        )
        df = ivfpq_topk(load_table(session, SF_DIR, "embeddings"), 5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        found = re.findall(r"(\w+Join) \[cell#\d+\], \[ncell#\d+\], Inner(?:, (Build\w+))?", plan)
        assert len(found) == 1, plan[:3000]
        return found[0]

    members_broadcast = ("BroadcastHashJoin", "BuildRight")
    assert probe_join(None) == members_broadcast
    assert probe_join(members_bytes + 1) == members_broadcast
    assert probe_join(members_bytes) != members_broadcast
    assert probe_join(n - 1)[0] != "BroadcastHashJoin"
