"""Scan-parallelism spreading for compute-dense row-local operators.

Problem (r12, found while profiling documents_gopher_repetition at
sf1): Spark sizes scan splits by BYTES (spark.sql.files.
maxPartitionBytes), and a parquet split can never be finer than a row
group. The bench corpora are written as ONE file with ONE row group
(6 MB compressed at sf1), so every zero-shuffle row-local operator —
exactly the operators praised for having no Exchange — executes its
entire per-document compute on ONE core while 31 idle: the scan is
byte-cheap but the operator is CPU-dense (n-gram sorts cost ~1000x
the bytes read). Measured: gopher repetition 12.0 s serial vs 1.4 s
spread at sf1.

Fix: a GATED round-robin repartition. If the scan already yields at
least one split per core — which a real lake always does (a 100 TB
corpus is millions of row groups; split count >> cores on any
cluster) — this is a NO-OP and the plan keeps zero Exchange. Only
when the input is under-split locally does it add one round-robin
Exchange whose shuffle volume is the (tiny) input relation itself,
traded against a >10x win in compute parallelism. This is the
decision a production job makes with spark.sql.files.maxPartitionBytes
— expressed per-operator because maxPartitionBytes cannot split below
row-group grain.

The factor-of-2 over-split smooths per-document length skew:
round-robin equalizes ROW counts, not token counts, so 2 waves of
smaller partitions let the scheduler rebalance stragglers.

Why PER-OPERATOR and not once in catalog.load_table: measured (r12
A/B over a 15-entry representative slice at sf0.1). A blanket loader
spread is net-NEGATIVE (22.9 -> 23.3 s): compute-dense maps win big
(corr-matrix moments 4.3 -> 1.2 s, tpch_q1 1.9 -> 1.3 s) but
light-map shuffle queries lose consistently (tpch_q9 0.67 -> 1.60 s,
events_distinct_users 0.22 -> 0.80 s — the extra round-robin
exchange costs more than the parallelism returns when the map side
is just decode+project before a keyed exchange). Compute density is
a property of the OPERATOR, so the operator opts in. Rewriting the
bench corpus with more row groups is not available: the driver's
testdata is read-only and its bench runs against that layout.

Cost note: the gate probes df.rdd.getNumPartitions(), one extra
logical->RDD conversion per call (~10-30 ms on a scan-rooted input).
Sixteen opted-in sites pay well under a second across the whole
219-entry bench — noise against the multi-second wins above.

Concurrency (r13, VERDICT r12 item 1): cores*2 partitions per query
is sized for ONE query owning the executor pool. Under a concurrent
workload (the bench's 8-thread pass; any multi-tenant deployment)
every in-flight query spreading to 64 partitions oversubscribes the
32 task slots — measured +14 s on the concurrent-8 wall at r12. The
spread target is therefore capped by ``spark.udp.spread.maxPartitions``
when set: a concurrent submitter sets it to ~(cores * factor) /
expected_concurrency so the POOL stays saturated while no single
query floods it. bench.py's concurrent pass does exactly this.

Cluster deployments where ``defaultParallelism`` at plan time is not
trustworthy (dynamic allocation reports only the executors running at
submit; ADVICE r12) should set ``spark.udp.spread.enabled=false`` and
size ``spark.sql.files.maxPartitionBytes`` instead — the spread is an
under-split-LOCAL-input fix, not something a well-laid-out lake needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SPREAD_FACTOR = 2

ENABLED_KEY = "spark.udp.spread.enabled"
MAX_PARTITIONS_KEY = "spark.udp.spread.maxPartitions"

# Registry entries whose plans flow through a spread_rowlocal site —
# the audit surface for tests/test_r13_operators.py's differential
# plan invariant (spread may add ROUND-ROBIN exchanges only, never
# change the keyed-shuffle shape) and for spread on/off re-audits.
# r13 A/B (committed in SURVEY §6; the A/B tool, tools/spread_ab.py, is
# in git history at c4cc2a8): every site below beats its
# un-spread twin at sf1 — the scale-direction proxy — most by 2-8 s
# (paragraph dedup 13.6 -> 5.3, substring windows 8.6 -> 2.9, bigram
# LM 9.0 -> 4.4); a few pay a sub-second tax at the toy sf0.1 where
# the corpus is too small for the parallelism to amortize the
# exchange. The two sites that lost or tied at BOTH SFs
# (attach_media's decode-stub/frame-sample light maps) had their
# opt-in REMOVED the same round.
SPREAD_OPTED_ENTRIES = (
    "tpch_q1_pricing_summary",
    "lineitem_corr_matrix",
    "text_quality",
    "text_fingerprint",
    "text_repetition",
    "text_bigram_lm",
    "text_udtf_bigrams",
    "documents_gopher_repetition",
    "documents_quality_model",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_substring_windows",
    "dedup_substring_spans",
    "dedup_cdc_chunks",
    "dedup_sorted_neighborhood",
    "dedup_paragraph_twolevel",
    "multimodal_phash_neardup",
    # r14: the fused IVF-PQ kernel + its checkpoint-fed ADC fan-out
    # inherit the scan's 1-row-group split without the spread
    "ann_ivfpq_topk",
    "ann_ivfpq_recall",
)


def spread_rowlocal(df: DataFrame, factor: int = SPREAD_FACTOR) -> DataFrame:
    """Round-robin repartition ``df`` to ``factor * cores`` partitions
    (capped by ``spark.udp.spread.maxPartitions`` when set — the
    pool-aware knob for concurrent workloads) IFF its current
    partition count is below both the core count and that target;
    identity otherwise (the at-scale path). Call it on the narrowest
    projection the operator needs, BEFORE the compute-dense
    expressions, so the shuffle moves the fewest bytes and the
    parallelism covers the whole compute. ``spark.udp.spread.enabled=
    false`` disables it wholesale (clusters where defaultParallelism
    underestimates the pool — see module docstring)."""
    spark = df.sparkSession
    try:
        if str(spark.conf.get(ENABLED_KEY, "true")).lower() == "false":
            return df
        cap_raw = spark.conf.get(MAX_PARTITIONS_KEY, None)
        cap = int(cap_raw) if cap_raw is not None else None
    except Exception:  # noqa: BLE001 — spreading is an optimization only
        cap = None
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    try:
        n_parts = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — spreading is an optimization only
        return df
    if n_parts >= cores:
        return df
    target = cores * factor
    if cap is not None:
        target = max(1, min(target, cap))
    if n_parts >= target:
        return df
    return df.repartition(target)
