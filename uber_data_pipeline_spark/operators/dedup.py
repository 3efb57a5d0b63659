"""Deduplication operators over a documents table (doc_id, text).

All four families are expression-only (no Python UDFs), so they run
inside whole-stage codegen and scale horizontally:

- exact:   md5(normalized text) group — one shuffle on the hash.
- n-gram Jaccard: inverted-index self-join on shingles — candidate
  pairs are shingle-local (never an O(n^2) cross join); at 100 TB the
  shingle join is the cost, which is why minhash-LSH below is the
  scale path that bounds it.
- minhash-LSH: shingle -> K min-hashes -> B banded keys -> bucket
  self-join. Candidates are band-bucket-local; bucket sizes are
  hash-balanced, and AQE's skew-join split handles hot buckets.
- simhash: 32-bit signature per doc; pair search via the pigeonhole
  banded join (max_hamming+1 segments, exact-match bucket join).

Cache contract: several operators `.cache()` an intermediate relation
(shingle arrays, signatures) that feeds a self-join; the cache cannot
be unpersisted inside the operator because the caller triggers the
action after we return a lazy DataFrame. Harnesses that run many
queries in one SparkSession (bench.py, tools/check_correctness.py)
call `spark.catalog.clearCache()` after each query's action so cached
relations never accumulate across queries.

Min-hash trick: we need a hash family both the engine and the DuckDB
oracle compute identically. md5 hex strings are uniform and ordered,
so MIN(md5(perm_id || ':' || shingle)) over shingles IS a minhash —
no engine-specific hash functions involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uber_data_pipeline_spark.functions.text import (
    SHINGLE_N,
    TOKENS_SPARK,
    shingles_spark,
)
from uber_data_pipeline_spark.sources.readers import read_parquet_inferred

NUM_PERM = 16
NUM_BANDS = 4
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 4


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (normalized) texts: canonical id =
    min doc_id, plus copy count."""
    return (
        docs.selectExpr("doc_id", "md5(lower(trim(text))) AS text_hash")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_arrays(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingles): the DISTINCT word n-gram shingle set per
    document as an array — array_distinct is row-local, so building
    the set costs zero shuffles (vs explode + DISTINCT, which
    shuffles the full exploded relation). r12: the scan feeding this
    compute-dense map is spread (operators/spread.py) — a no-op on an
    adequately-split lake; locally the single-row-group bench file
    otherwise serializes every shingle-family operator's tokenize +
    shingle work on one core."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    return spread_rowlocal(docs).selectExpr(
        "doc_id", f"{TOKENS_SPARK} AS tokens"
    ).selectExpr(
        "doc_id", f"array_distinct({shingles_spark('tokens', n)}) AS shingles"
    )


def doc_shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Exploded (doc_id, shingle) rows of the distinct shingle set."""
    return shingle_arrays(docs, n).selectExpr("doc_id", "explode(shingles) AS shingle")


def ngram_jaccard_pairs_prefix(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PPJoin-style prefix
    filtering (Xiao et al., WWW'08) — lossless (pinned equal to
    ngram_jaccard_pairs by a test), and the right variant when global
    shingle frequency is SKEWED: a shingle shared by c docs emits
    c*(c-1)/2 join rows in the inverted-index join, while here hot
    shingles sort to the end of every prefix and drop out of the
    index entirely. On near-uniform frequency corpora (like the
    synthetic testdata, avg df ~22) the rebuild shuffles cost more
    than they save — ngram_jaccard_pairs stays the default and this
    is the documented swap-in for skewed corpora.

    Every doc's shingle set is ordered rarest-first by global
    document frequency; only the first |s| - ceil(t*|s|) + 1 shingles
    are indexed. Any pair with J >= t must share its smallest-order
    common shingle inside BOTH prefixes (pigeonhole), so the
    candidate join only ever touches prefixes. Survivors are
    verified exactly with one array_intersect over the full sets.

    Shuffle budget: one frequency aggregate, one per-doc rebuild,
    one prefix self-join (bucket-local), two join-backs on the
    (already tiny) candidate set. The ordered-array relation is
    cached — it feeds the probe index and both verify sides."""
    sh = doc_shingles(docs)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ordered = (
        sh.join(freq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, shingle))), s -> s.shingle)"
            ).alias("shingles")
        )
        .selectExpr(
            "doc_id",
            "shingles",
            "size(shingles) AS sz",
            f"slice(shingles, 1, size(shingles) "
            f"- CAST(ceil({threshold} * size(shingles)) AS int) + 1) AS prefix",
        )
        .cache()
    )
    probes = ordered.select(
        "doc_id",
        F.col("sz"),
        F.posexplode("prefix").alias("pos", "shingle"),
    )
    a, b = probes.alias("a"), probes.hint("shuffle_hash").alias("b")
    # PPJoin's POSITIONAL upper bound (Xiao et al. §3.2), applied
    # before any array is shuffled. Shingles are globally ordered
    # (df, shingle) consistently across docs, so among a pair's COMMON
    # prefix shingles the globally-first one sits at MIN(pos) in both
    # docs simultaneously; every other common shingle (prefix OR
    # suffix — this is what makes the bound valid, unlike counting
    # only prefix matches) orders after it, occupying one of the
    # sz - (pos + 1) later slots on each side. So overlap <=
    # 1 + min(sz_a - (pa + 1), sz_b - (pb + 1)) (pos 0-based) — if
    # even that bound can't reach the overlap the threshold demands
    # (o >= t/(1+t) * (sz_a + sz_b)), the pair is pruned LOSSLESSLY.
    # On high-df corpora this cuts candidates ~100x: most pairs share
    # only one hot shingle near the end of both prefixes and die here.
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: J >= t implies min(sz) >= t*max(sz)
            & (F.col("a.sz") >= threshold * F.col("b.sz"))
            & (F.col("b.sz") >= threshold * F.col("a.sz")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("csz_a"),
            F.col("b.sz").alias("csz_b"),
        )
        .agg(
            F.min(F.col("a.pos")).alias("pa"),
            F.min(F.col("b.pos")).alias("pb"),
        )
        .withColumn(
            "ub",
            F.lit(1)
            + F.least(
                F.col("csz_a") - (F.col("pa") + 1),
                F.col("csz_b") - (F.col("pb") + 1),
            ),
        )
        .filter(
            F.col("ub") / (F.col("csz_a") + F.col("csz_b") - F.col("ub"))
            >= threshold
        )
        .select("doc_a", "doc_b")
    )
    sa = ordered.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = ordered.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cand.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_arrays_df: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard via the plain inverted-index self-join
    (every shared shingle emits a join row, |A ∩ B| by counting);
    one equality join + one pair aggregation, set sizes riding along
    both sides. Candidate volume is sum over shingles of c*(c-1)/2 —
    fine when document frequency is near-uniform (this corpus), but
    quadratic in hot-shingle frequency; ngram_jaccard_pairs_prefix
    is the lossless swap-in for skewed corpora.

    The per-doc array relation is cached: without a materialization
    boundary Catalyst re-inlines the (expensive) tokenize+shingle
    expression into the scan filter and the Generate of BOTH join
    sides.

    The self-join is hinted SHUFFLE_HASH: sort-merge would sort
    millions of (string-key) shingle rows on BOTH sides, while the
    hash build skips the sorts entirely (1.7x here). Per-partition
    build memory stays bounded at scale because the shuffle partition
    count grows with the corpus (AQE splits oversized partitions);
    build side = probe side, so there is no small-side choice to
    get wrong."""
    base = (
        shingle_arrays(docs).cache()
        if shingle_arrays_df is None
        else shingle_arrays_df
    )
    sh = base.selectExpr(
        "doc_id", "size(shingles) AS sz", "explode(shingles) AS shingle"
    )
    a, b = sh.alias("a"), sh.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # PPJoin size filter — J >= t implies min(sz) >= t*max(sz),
            # so these prune candidates LOSSLESSLY before the pair
            # aggregation's shuffle ever sees them.
            & (F.col("a.sz") >= threshold * F.col("b.sz"))
            & (F.col("b.sz") >= threshold * F.col("a.sz")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("n_common"))
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(
    docs: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT C(A->B) = |A∩B|/|A|.
    Jaccard misses a short document fully embedded in a long one
    (the quote/boilerplate/excerpt case — J is dragged down by the
    size gap); containment flags it. Pairs where either direction
    >= threshold.

    Same inverted-index self-join shape as :func:`ngram_jaccard_pairs`
    but WITHOUT the PPJoin size filter — that pruning is Jaccard
    -specific (a tiny doc can be 100% contained in a huge one), which
    is exactly why this is a separate operator with its own cost
    profile. Candidate volume is bounded by shingle document
    frequency; skewed corpora route through banding first."""
    sh = shingle_arrays(docs).cache().selectExpr(
        "doc_id", "size(shingles) AS sz", "explode(shingles) AS shingle"
    )
    a, b = sh.alias("a"), sh.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("n_common"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "round(n_common / CAST(sz_a AS DOUBLE), 6) AS cont_a_in_b",
            "round(n_common / CAST(sz_b AS DOUBLE), 6) AS cont_b_in_a",
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


# Universal-hash minhash family: perm p = (A[p]*h + B[p]) % MOD over
# one base hash h per shingle. A[p]*h stays under 2^63 (both factors
# < MOD ~ 2^30), so the arithmetic is exact int64 in BOTH engines.
MINHASH_MOD = 1_000_000_007
MINHASH_A = [(2654435761 * (p + 1)) % MINHASH_MOD for p in range(NUM_PERM)]
MINHASH_B = [(40503 * (p + 1) * (p + 1) + 12345) % MINHASH_MOD for p in range(NUM_PERM)]

# Base hash: the first 12 hex chars of md5(shingle) as an integer
# (< 2^48), reduced mod MOD. Spark evaluates it with the native conv()
# (codegen); the DuckDB oracle folds the same 12 nibbles manually —
# identical values, each engine on its fast path.
# derived from the ONE parameterized source of truth in
# functions/text.py (r12 review: the quality model needed the same
# family over arbitrary feature strings, and two verbatim copies of
# the 12-nibble fold would silently diverge on the next tune)
from uber_data_pipeline_spark.functions.text import (  # noqa: E402
    base_hash_duck,
    base_hash_spark,
)

SHINGLE_HASH_SPARK = base_hash_spark("shingle")
SHINGLE_HASH_DUCK = base_hash_duck("shingle")


def minhash_signatures(
    docs: DataFrame,
    num_perm: int = NUM_PERM,
    shingle_arrays_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — sig[p] = MIN over shingles of
    (A[p] * h(shingle) + B[p]) % MOD, the classic universal-hash
    minhash family over ONE base hash per shingle.

    All ``num_perm`` minhashes are computed as parallel aggregate
    columns in ONE groupBy(doc_id) — a single map-side-combined
    shuffle of one row per document. The base md5 is hashed once per
    shingle; the per-perm work is a codegen'd multiply-add-mod, not
    ``num_perm`` separate string hashes. The family is engine-neutral
    (the oracle computes identical int64 values)."""
    base = (
        shingle_arrays(docs) if shingle_arrays_df is None else shingle_arrays_df
    )
    sh = base.selectExpr("doc_id", "explode(shingles) AS shingle").selectExpr(
        "doc_id", f"{SHINGLE_HASH_SPARK} AS h"
    )
    aggs = [
        F.min(
            (F.lit(MINHASH_A[p]) * F.col("h") + F.lit(MINHASH_B[p]))
            % F.lit(MINHASH_MOD)
        ).alias(f"m{p}")
        for p in range(num_perm)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.array(*[f"m{p}" for p in range(num_perm)]).alias("sig"))
    )


def lsh_bands(
    signatures: DataFrame, num_bands: int = NUM_BANDS, num_perm: int = NUM_PERM
) -> DataFrame:
    """(doc_id, band, band_key): band key = md5 over the band's
    minhashes in perm order — a slice of the signature array, no
    second aggregation."""
    rows_per_band = num_perm // num_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.array_join(
                        F.expr(
                            f"transform(slice(sig, {b * rows_per_band + 1}, "
                            f"{rows_per_band}), x -> CAST(x AS string))"
                        ),
                        "|",
                    )
                ).alias("band_key"),
            )
            for b in range(num_bands)
        ]
    )
    return signatures.select(
        "doc_id", F.explode(bands).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")


def minhash_recall(
    docs: DataFrame, threshold: float = 0.5, est_threshold: float | None = None
) -> DataFrame:
    """Dedup-quality gate: for every TRUE near-dup pair (exact shingle
    Jaccard >= threshold), did the minhash-LSH path surface it? One
    row per true pair with its jaccard and a `found` flag — the
    measurement that justifies trusting the LSH path as the 100 TB
    dedup plan (run on a sampled corpus slice at scale).

    Both sides are the already-registered operators; the check itself
    is one hash join of two reduced pair relations. The composed
    DuckDB oracle replays BOTH pipelines (engine-neutral md5 minhash),
    so the evaluation is verified bit-for-bit, not spot-checked."""
    # ONE cached shingle relation feeds both pipelines — the
    # tokenize+shingle expansion is the dominant shared subtree and
    # would otherwise run twice
    sh_arr = shingle_arrays(docs).cache()
    exact = ngram_jaccard_pairs(docs, threshold, shingle_arrays_df=sh_arr)
    approx = lsh_candidate_pairs(
        docs,
        threshold if est_threshold is None else est_threshold,
        shingle_arrays_df=sh_arr,
    ).select("doc_a", "doc_b")
    return (
        exact.join(approx.withColumn("found", F.lit(True)), ["doc_a", "doc_b"], "left")
        .selectExpr(
            "doc_a", "doc_b", "jaccard", "coalesce(found, false) AS found"
        )
    )




def _pairs_from_sigs_bands(
    sigs: DataFrame, bands: DataFrame, min_est_jaccard: float
) -> DataFrame:
    """Shared back half of both LSH paths (from-raw-text and
    from-stored-index): band-bucket self-join -> distinct candidates
    -> zip_with signature agreement -> threshold. One definition so
    the index-reuse entry's pinned equality with the live path cannot
    drift."""
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(n_agree / F.lit(float(NUM_PERM)), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )




def lsh_candidate_pairs(
    docs: DataFrame,
    min_est_jaccard: float = 0.5,
    shingle_arrays_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band-bucket collision ->
    candidate, then estimated Jaccard = fraction of agreeing minhash
    positions (zip_with over the two signature arrays — no per-perm
    join), filtered at ``min_est_jaccard``.

    Candidates are band-bucket-local (hash-balanced buckets; AQE skew
    split handles hot ones) — never an O(n^2) cross join."""
    sigs = minhash_signatures(docs, shingle_arrays_df=shingle_arrays_df).cache()
    return _pairs_from_sigs_bands(sigs, lsh_bands(sigs), min_est_jaccard)




def lsh_pairs_from_index(
    spark,
    index_dir: str,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Candidate pairs from a PERSISTED minhash index — the
    build-once / probe-many half of the LSH design. At corpus scale
    the signature computation (tokenize -> shingle -> K minhashes) is
    the expensive pass; a daily dedup job should pay it once per new
    partition, store (doc_id, sig) + the exploded band keys, and run
    every subsequent candidate generation straight off the stored
    relations. This reads the index written by
    :func:`write_lsh_index` and produces EXACTLY the pairs
    `lsh_candidate_pairs` computes from raw text (same oracle).

    The band self-join arrives pre-shuffled if the index was bucketed
    by band_key at write time; here the plain parquet read still
    skips the whole signature pipeline."""
    sigs = read_parquet_inferred(spark, f"{index_dir}/sigs")
    bands = read_parquet_inferred(spark, f"{index_dir}/bands")
    return _pairs_from_sigs_bands(sigs, bands, min_est_jaccard)


def write_lsh_index(docs: DataFrame, index_dir: str) -> None:
    """Materialize the minhash index: (doc_id, sig) and the exploded
    (doc_id, band, band_key) relations as parquet. Incremental at
    scale: new corpus partitions append their signatures; existing
    ones are never recomputed."""
    sigs = minhash_signatures(docs).cache()
    sigs.write.mode("overwrite").parquet(f"{index_dir}/sigs")
    lsh_bands(sigs).write.mode("overwrite").parquet(f"{index_dir}/bands")
    sigs.unpersist()




# Edge-count ceiling for the single-task union-find fast path: 5M
# (src, dst) longs plus the parent dict stay well under 1 GiB in one
# executor task. Above it, the distributed min-label loop runs.
CC_LOCAL_EDGE_LIMIT = 5_000_000

# Width of each min-label round's join shuffles. Per-round latency is
# stage/task overhead x rounds, so the rounds are sized to the
# (reduced) label table, not the session default; on a cluster scale
# this with edge count.
CC_ROUND_PARTITIONS = 8


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    local_edge_limit: int = CC_LOCAL_EDGE_LIMIT,
    telemetry: dict | None = None,
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) over the undirected graph of
    near-duplicate pairs — the step that turns pairwise matches into
    dedup groups (cluster_id = smallest member id).

    Size-adaptive, like AQE's broadcast decision: the candidate-pair
    edge list is orders of magnitude smaller than the corpus (pairs
    survive banding + verification), so the common case even at huge
    corpus scale is an edge list that fits ONE task — then a single
    exact union-find pass (path compression, min-id roots) replaces
    the whole iterative loop. The count that decides the path also
    fills the edge cache, so it costs nothing extra. Beyond the
    limit, iterative min-label propagation with fused pointer
    doubling runs (O(log diameter) rounds, one shuffle join per
    round, localCheckpoint per round so lineage stays bounded —
    the classic Spark iterative-algorithm trap)."""
    # bidirect ROW-LOCALLY with one explode instead of
    # union(pairs, pairs-swapped): the union embedded the (expensive —
    # inverted-index self-join for the jaccard family) pair subtree
    # TWICE and ReuseExchange does not fire across the legs (cached-
    # relation instances canonicalize differently), so the whole
    # candidate pipeline executed twice per edge build (r14; the
    # executed plan showed two full ShuffledHashJoin+aggregate copies
    # under the Union). Same edge set, one copy, one Generate.
    edges = (
        pairs.selectExpr(
            f"explode(array(struct({a} AS src, {b} AS dst), "
            f"struct({b} AS src, {a} AS dst))) AS e"
        )
        .select("e.src", "e.dst")
        .distinct()
        .cache()
    )
    if edges.count() <= local_edge_limit:
        # cached: the union-find output feeds BOTH the broadcast sizes
        # job and the join probe — without a boundary the Python pass
        # runs once per consumer job
        labels = (
            edges.groupBy(F.lit(1).alias("g"))
            .applyInPandas(_unionfind_kernel, "node long, label long")
            .cache()
        )
        sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
        return labels.join(F.broadcast(sizes), "label").select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
    # round 0 fused into initialization: label = min(node, neighbors)
    # straight off the (bidirectional) edge list — one aggregate, no
    # join, and one fewer loop iteration than starting from
    # label = node
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("label"))
        .select(F.col("src").alias("node"), "label")
    )
    labels = _propagate_min_labels(edges, labels, telemetry)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
    )


def _unionfind_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Exact union-find over one partition's (bidirectional) edge
    list. Roots are always the smallest id among merged roots, and
    every node starts as its own root, so by induction each final
    root IS the component's minimum member id."""
    import pandas as pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
        rs, rd = find(int(s)), find(int(d))
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    nodes = pd.unique(pdf[["src", "dst"]].to_numpy().ravel())
    return pd.DataFrame(
        {"node": nodes, "label": [find(int(n)) for n in nodes]}
    )


def _propagate_min_labels(
    edges: DataFrame,
    labels: DataFrame,
    telemetry: dict | None = None,
) -> DataFrame:
    """Min-label fixpoint in ONE join + ONE aggregate per round.

    Neighbor propagation and pointer doubling are fused: the round's
    edge list is the real (bidirectional) edges plus one synthetic
    (node -> current label) edge per node, so the same
    join-on-dst/groupBy-src pass gives every node
    min(labels of its neighbors, label of its current label).
    Labels are node ids with the invariant label(x) <= x, so the
    synthetic hop is exactly pointer doubling (O(log diameter)
    rounds) — at 2 shuffles per round instead of the 4 the textbook
    propagate-then-double pair of joins costs.

    ``telemetry`` (optional dict) receives ``n_rounds`` and the
    per-round label sums (``round_sums``) — the convergence evidence
    the planted-chain diameter test pins (rounds grow as
    O(log diameter), not linearly)."""
    prev_sum = None
    round_sums: list = []
    while True:
        aug = edges.unionByName(
            labels.select(F.col("node").alias("src"), F.col("label").alias("dst"))
        ).repartition(CC_ROUND_PARTITIONS, "dst")
        dst_labels = labels.select(
            F.col("node").alias("dst_n"), F.col("label").alias("dst_label")
        ).repartition(CC_ROUND_PARTITIONS, "dst_n")
        new_labels = (
            aug.join(dst_labels, aug.dst == dst_labels.dst_n)
            .groupBy("src")
            .agg(F.min("dst_label").alias("label"))
            .select(F.col("src").alias("node"), "label")
            # lazy: materialized by the convergence aggregate below, so
            # each round costs exactly one job while cutting lineage
            .localCheckpoint(eager=False)
        )
        # convergence: labels are node-wise non-increasing, so the label
        # sum strictly decreases until the fixpoint — an exact-decimal
        # aggregate per round instead of a change-detection join
        cur_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        round_sums.append(cur_sum)
        labels = new_labels
        if telemetry is not None:
            telemetry["n_rounds"] = len(round_sums)
            telemetry["round_sums"] = round_sums
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum


def simhash_values(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): bit j set iff the sum over distinct tokens
    of ±1 (bit j of md5(token)) is non-negative. Integer sums are
    order-independent, so engines agree exactly.

    Shape: explode distinct tokens, hash each token ONCE, emit one
    ±1 column per bit, then a single groupBy(doc_id) with ``bits``
    codegen'd SUM aggregates (map-side partial) — instead of
    re-hashing every token ``bits`` times inside an interpreted
    higher-order fold."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    tok = (
        spread_rowlocal(docs)
        .selectExpr("doc_id", f"explode(array_distinct({TOKENS_SPARK})) AS t")
        .select("doc_id", F.md5("t").alias("h"))
    )
    contribs = []
    for j in range(bits):
        nibble = f"(instr('0123456789abcdef', substring(h, {j // 4 + 1}, 1)) - 1)"
        contribs.append(
            F.expr(
                f"CASE WHEN (shiftright({nibble}, {j % 4}) & 1) = 1 THEN 1 ELSE -1 END"
            ).alias(f"c{j}")
        )
    sums = tok.select("doc_id", *contribs).groupBy("doc_id").agg(
        *[F.sum(f"c{j}").alias(f"s{j}") for j in range(bits)]
    )
    simhash = F.expr(
        " + ".join(
            f"(CASE WHEN s{j} >= 0 THEN shiftleft(CAST(1 AS bigint), {j}) "
            f"ELSE CAST(0 AS bigint) END)"
            for j in range(bits)
        )
    )
    return sums.select("doc_id", simhash.alias("simhash"))


def _hamming_segments(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) per segment: bits split into max_hamming+1
    near-equal segments — pigeonhole guarantees any pair within
    max_hamming agrees exactly on at least one whole segment."""
    n_seg = max_hamming + 1
    base, extra = divmod(bits, n_seg)
    segs, off = [], 0
    for i in range(n_seg):
        width = base + (1 if i < extra else 0)
        segs.append((off, width))
        off += width
    return segs


def simhash_pairs(docs: DataFrame, max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """Pairs within ``max_hamming`` bits, via the pigeonhole banded
    join: the 32 bits split into max_hamming+1 segments, candidates
    must collide on (segment_id, segment_value) — bucket-local like
    minhash-LSH, never an O(n^2) cross join.

    Dedup across segments is FREE: a pair is kept only in its FIRST
    matching segment (for segment i, require every earlier segment to
    differ — a bit-mask comparison on the two signatures already in
    the row), so no post-join DISTINCT shuffle of the up-to-(h+1)x
    duplicated candidate stream."""
    sv = simhash_values(docs)
    return banded_hamming_pairs(sv, SIMHASH_BITS, max_hamming).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
) -> DataFrame:
    """The pigeonhole banded hamming join, generic over any integer
    signature column (simhash, pHash, SRP sketch): (id_a, id_b,
    hamming) for pairs within ``max_hamming`` bits. Same plan shape
    as :func:`simhash_pairs` (it delegates here): segment-bucket-local
    candidates, first-match-only cross-segment dedup, exact
    ``bit_count`` verify in-bucket."""
    segments = _hamming_segments(bits, max_hamming)
    sv = sigs.select(F.col(id_col).alias("__id"), F.col(sig_col).alias("sig"))
    segs = F.array(
        *[
            F.struct(
                F.lit(i).alias("seg"),
                F.expr(f"shiftright(sig, {off}) & {(1 << width) - 1}").alias("val"),
            )
            for i, (off, width) in enumerate(segments)
        ]
    )
    # cached: the segment relation feeds BOTH sides of the self-join —
    # without materialization the whole signature pipeline runs twice
    # (same rule as minhash_signatures); at corpus scale this is the
    # persisted signature table
    seg_df = (
        sv.select("__id", "sig", F.explode(segs).alias("sk"))
        .select("__id", "sig", "sk.seg", "sk.val")
        .cache()
    )
    a, b = seg_df.alias("a"), seg_df.alias("b")
    first_match_only = " AND ".join(
        f"(a.seg <= {j} OR (shiftright(a.sig, {off}) & {(1 << width) - 1}) "
        f"!= (shiftright(b.sig, {off}) & {(1 << width) - 1}))"
        for j, (off, width) in enumerate(segments[:-1])
    )
    return (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .filter(F.expr(first_match_only))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.expr("bit_count(a.sig ^ b.sig)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def cross_source_overlap(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Cross-source near-duplicate overlap census: given a duplicate
    PAIR relation (doc_a, doc_b) — exact-Jaccard, minhash-LSH, or
    simhash, all band/shingle-local — aggregate it into the
    (source_a <= source_b) contamination matrix a corpus curator
    reads before mixing sources: how many near-dup pairs connect the
    two sources and how many distinct documents are implicated.

    Scale shape: the expensive part is the pair relation the caller
    already has (candidates are shingle/bucket-local, never O(n^2));
    this census adds two broadcast-sized joins against the (doc_id,
    source) projection and a SOURCES^2-bounded aggregate. n_docs uses
    an explode so a doc paired in both orientations counts once.
    """
    s = docs.select("doc_id", "source")
    j = (
        pairs.select("doc_a", "doc_b")
        .join(
            s.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
            ),
            "doc_a",
        )
        .join(
            s.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
            ),
            "doc_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "doc_a",
            "doc_b",
        )
    )
    return (
        j.select(
            "source_a",
            "source_b",
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            (F.count("*") / 2).cast("long").alias("n_dup_pairs"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
    )


def sql_cross_source_overlap(pairs_cte: str) -> str:
    """DuckDB twin of :func:`cross_source_overlap`; ``pairs_cte`` is a
    query yielding (doc_a, doc_b, ...) — e.g. the exact-Jaccard pair
    oracle — re-aggregated into the same census."""
    return f"""
        WITH pairs AS ({pairs_cte}),
        tagged AS (
            SELECT least(sa.source, sb.source) AS source_a,
                   greatest(sa.source, sb.source) AS source_b,
                   p.doc_a, p.doc_b
            FROM pairs p
            JOIN documents sa ON p.doc_a = sa.doc_id
            JOIN documents sb ON p.doc_b = sb.doc_id
        ), exploded AS (
            SELECT source_a, source_b, unnest([doc_a, doc_b]) AS doc_id
            FROM tagged
        )
        SELECT source_a, source_b,
               CAST(COUNT(*) // 2 AS BIGINT) AS n_dup_pairs,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM exploded
        GROUP BY source_a, source_b
    """


SUBSTR_WINDOW_N = 8


def substring_window_dups(docs: DataFrame, n: int = SUBSTR_WINDOW_N) -> DataFrame:
    """Passage-level (substring) duplication census — the
    train-data-dedup shape that catches REPEATED SPANS inside
    otherwise-distinct documents (boilerplate headers, quoted chunks),
    which whole-document hashing can't see: every length-``n`` token
    window is fingerprinted; a window whose fingerprint occurs in >= 2
    DISTINCT documents is "shared"; each doc reports its window count,
    shared-window count, and the shared fraction in integer
    micro-units. Docs shorter than ``n`` tokens report 0 windows.

    Scale shape: windows are row-local (the shingle transform, no
    explode-then-distinct); the shared-fingerprint relation is one
    md5-key groupBy (same plan as exact dedup, keys = corpus token
    count, map-side-combined); the per-doc rollup joins the POSITION
    stream against that reduced relation on the fingerprint key. The
    production refinement — drop windows whose fingerprint count is 1
    before the join via a bloom/semi-join — keeps the stream-side
    shuffle proportional to the DUPLICATED tail only.
    """
    from uber_data_pipeline_spark.functions.text import (
        TOKENS_SPARK,
        shingles_spark,
    )

    # cached: wins feeds the final per-doc select AND the position
    # stream, whose self-referencing shared/per_doc split would
    # otherwise re-run the tokenize+shingle+md5 pipeline three times
    # (module cache contract, see header)
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    wins = spread_rowlocal(docs).selectExpr(
        "doc_id", f"{TOKENS_SPARK} AS tokens"
    ).selectExpr(
        "doc_id",
        f"transform({shingles_spark('tokens', n)}, w -> md5(w)) AS whs",
    ).cache()
    pos = wins.selectExpr("doc_id", "explode(whs) AS wh")
    shared = (
        pos.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )
    per_doc = (
        pos.join(shared, "wh")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_windows"))
    )
    return (
        wins.selectExpr("doc_id", "CAST(size(whs) AS BIGINT) AS n_windows")
        .join(per_doc, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_windows",
            "CAST(coalesce(n_shared_windows, 0) AS BIGINT) AS n_shared_windows",
            "CASE WHEN n_windows > 0 THEN "
            "coalesce(n_shared_windows, 0) * 1000000 DIV n_windows "
            "ELSE CAST(0 AS BIGINT) END AS shared_micro",
        )
    )


def sql_substring_window_dups(
    table: str = "documents", n: int = SUBSTR_WINDOW_N
) -> str:
    """DuckDB twin of :func:`substring_window_dups`."""
    from uber_data_pipeline_spark.functions.text import (
        TOKENS_DUCK,
        shingles_duck,
    )

    return f"""
        WITH wins AS (
            SELECT doc_id,
                   list_transform({shingles_duck('tokens', n)},
                                  w -> md5(w)) AS whs
            FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table})
        ), pos AS (
            SELECT doc_id, t.wh FROM wins, unnest(whs) AS t(wh)
        ), shared AS (
            SELECT wh FROM pos GROUP BY wh
            HAVING COUNT(DISTINCT doc_id) >= 2
        ), per_doc AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_windows
            FROM pos JOIN shared USING (wh)
            GROUP BY doc_id
        )
        SELECT w.doc_id,
               CAST(len(whs) AS BIGINT) AS n_windows,
               CAST(COALESCE(p.n_shared_windows, 0) AS BIGINT)
                   AS n_shared_windows,
               CASE WHEN len(whs) > 0 THEN
                   COALESCE(p.n_shared_windows, 0) * 1000000 // len(whs)
               ELSE CAST(0 AS BIGINT) END AS shared_micro
        FROM wins w LEFT JOIN per_doc p ON w.doc_id = p.doc_id
    """


SPAN_MIN_TOKENS = 8


def substring_span_census(docs: DataFrame, k: int = SPAN_MIN_TOKENS) -> DataFrame:
    """Variable-length EXACT-SUBSTRING duplication spans — the
    distributed stand-in for Lee et al. 2022's suffix-array dedup
    ("Deduplicating Training Data Makes Language Models Better",
    §4.1 ExactSubstr): find, per document, the maximal regions covered
    by substrings of >= ``k`` tokens that occur elsewhere in the
    corpus (cross-doc boilerplate or in-doc repetition), the spans the
    suffix-array pass would slice out of the training set.

    Approximation contract: a span of length m >= k is reported iff
    every one of its k-token windows repeats somewhere in the corpus
    — exactly the set of length-k duplicated substrings, extended by
    interval UNION into maximal removal regions (windows < k apart
    merge, so coverage is never double-counted). This over-reports
    only when adjacent k-windows match DIFFERENT partners (a
    chimera), the standard fingerprint-grain relaxation of the
    suffix-array result; at the removal-accounting level the census
    equals ExactSubstr for any text whose duplicated runs are
    genuine copies.

    Scale shape vs a literal suffix array (which needs a global sort
    of every suffix of a 100 TB corpus): windows are row-local
    (shingle transform + md5); "repeats anywhere" is ONE
    map-side-combined count on the window hash; marking positions is
    an equi-join on that hash; span merging is a per-DOC window
    (partition bounded by doc length, never corpus-sized). The
    gaps-and-islands merge is the same plan family as
    events_sessionization.

    Columns: doc_id, n_tokens, n_windows, n_dup_windows, n_spans,
    longest_span_tokens, dup_tokens (interval-union token coverage),
    dup_micro (coverage fraction in integer micro-units)."""
    from pyspark.sql import Window

    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    wins = (
        spread_rowlocal(docs)
        .selectExpr("doc_id", f"{TOKENS_SPARK} AS tokens")
        .selectExpr(
            "doc_id",
            "CAST(size(tokens) AS BIGINT) AS n_tokens",
            f"transform({shingles_spark('tokens', k)}, w -> md5(w)) AS whs",
        )
        .cache()
    )
    pos = wins.select("doc_id", F.posexplode("whs").alias("p", "wh"))
    shared = (
        pos.groupBy("wh")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("wh")
    )
    dup = pos.join(shared, "wh").select("doc_id", "p")
    wo = Window.partitionBy("doc_id").orderBy("p")
    isl = (
        dup.withColumn("prev_p", F.lag("p").over(wo))
        .withColumn(
            # windows closer than k tokens overlap in token space ->
            # same removal interval
            "brk",
            F.when(F.col("p") - F.col("prev_p") < k, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn(
            "island",
            F.sum("brk").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("p").alias("s"), F.max("p").alias("e"), F.count("*").alias("c")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + k).cast("long").alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + k)
        .cast("long")
        .alias("longest_span_tokens"),
        F.sum("c").cast("long").alias("n_dup_windows"),
    )
    return (
        wins.selectExpr(
            "doc_id", "n_tokens", "CAST(size(whs) AS BIGINT) AS n_windows"
        )
        .join(per_doc, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_windows",
            "CAST(coalesce(n_dup_windows, 0) AS BIGINT) AS n_dup_windows",
            "CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans",
            "CAST(coalesce(longest_span_tokens, 0) AS BIGINT)"
            " AS longest_span_tokens",
            "CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens",
            "CASE WHEN n_tokens > 0 THEN "
            "coalesce(dup_tokens, 0) * 1000000 DIV n_tokens "
            "ELSE CAST(0 AS BIGINT) END AS dup_micro",
        )
    )


def sql_substring_span_census(
    table: str = "documents", k: int = SPAN_MIN_TOKENS
) -> str:
    """DuckDB twin of :func:`substring_span_census`."""
    from uber_data_pipeline_spark.functions.text import (
        TOKENS_DUCK,
        shingles_duck,
    )

    return f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table}
        ), wins AS (
            SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
                   list_transform({shingles_duck('tokens', k)},
                                  w -> md5(w)) AS whs
            FROM toks
        ), pos AS (
            SELECT doc_id, CAST(r.i AS BIGINT) AS p, whs[r.i + 1] AS wh
            FROM wins, unnest(range(len(whs))) AS r(i)
        ), shared AS (
            SELECT wh FROM pos GROUP BY wh HAVING COUNT(*) >= 2
        ), dup AS (
            SELECT doc_id, p FROM pos JOIN shared USING (wh)
        ), isl AS (
            SELECT doc_id, p,
                   SUM(CASE WHEN prev_p IS NOT NULL AND p - prev_p < {k}
                            THEN 0 ELSE 1 END)
                     OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT doc_id, p,
                         LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                             AS prev_p
                  FROM dup)
        ), spans AS (
            SELECT doc_id, island, MIN(p) AS s, MAX(p) AS e,
                   COUNT(*) AS c
            FROM isl GROUP BY 1, 2
        ), per_doc AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_spans,
                   CAST(SUM(e - s + {k}) AS BIGINT) AS dup_tokens,
                   CAST(MAX(e - s + {k}) AS BIGINT)
                       AS longest_span_tokens,
                   CAST(SUM(c) AS BIGINT) AS n_dup_windows
            FROM spans GROUP BY 1
        )
        SELECT w.doc_id,
               w.n_tokens,
               CAST(len(w.whs) AS BIGINT) AS n_windows,
               CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT)
                   AS n_dup_windows,
               CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(COALESCE(p.longest_span_tokens, 0) AS BIGINT)
                   AS longest_span_tokens,
               CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CASE WHEN w.n_tokens > 0 THEN
                   COALESCE(p.dup_tokens, 0) * 1000000 // w.n_tokens
               ELSE CAST(0 AS BIGINT) END AS dup_micro
        FROM wins w LEFT JOIN per_doc p USING (doc_id)
    """


def keep_best_per_cluster(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Canonicalization policy over dedup clusters: instead of
    min-doc_id, keep the HIGHEST-QUALITY member of each near-dup
    cluster (tie-broken by doc_id) — the selection step a training
    corpus actually wants, since near-dup groups often mix a clean
    original with mangled scrapes. Input: (doc_id, cluster_id,
    cluster_size) from :func:`connected_components` + a (doc_id,
    quality_score) relation.

    Scale shape: one join on doc_id (the cluster relation is the
    pair-survivor tail, tiny vs the corpus) and one window partitioned
    by cluster_id — bounded partitions (cluster sizes), never a global
    sort."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        clusters.join(quality.select("doc_id", "quality_score"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "cluster_size",
            F.col("quality_score").alias("best_quality"),
        )
    )


def lsh_pairs_incremental(
    spark,
    index_dir: str,
    delta_docs: DataFrame,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """INCREMENTAL dedup — the shape a growing 100 TB corpus actually
    runs: when a new crawl partition lands, only ITS signatures are
    computed (the expensive tokenize->shingle->minhash pass touches
    delta bytes only); candidates are delta-band probes against the
    STORED index bands plus the delta's own, so every emitted pair
    touches >= 1 new document and the existing corpus is never
    rescanned. Produces exactly the full-corpus LSH pairs restricted
    to pairs involving a delta doc (signatures are per-doc, so
    collision structure is identical — the oracle recomputes the
    full-corpus pairs and filters).

    Scale shape: cost is O(delta) signature work + band-bucket-local
    probe joins (the index side arrives pre-partitioned if the index
    was bucketed by band_key at write time); verification joins hit
    only candidate ids."""
    base_sigs = read_parquet_inferred(spark, f"{index_dir}/sigs")
    base_bands = read_parquet_inferred(spark, f"{index_dir}/bands")
    delta_sigs = minhash_signatures(delta_docs).cache()
    delta_bands = lsh_bands(delta_sigs)
    all_bands = base_bands.unionByName(delta_bands)
    a, b = delta_bands.alias("a"), all_bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    all_sigs = base_sigs.unionByName(delta_sigs)
    sa = all_sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = all_sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(n_agree / F.lit(float(NUM_PERM)), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


# ---- content-defined chunking dedup ----------------------------------
#
# Fixed-size chunk dedup misses shared content the moment an edit
# shifts it by one token; content-defined chunking (the
# LBFS/rsync/backup-dedup family) picks chunk BOUNDARIES from the
# content itself — a token starts a new chunk iff its hash lands in a
# boundary residue class — so identical passages chunk identically no
# matter where they sit in a document.

CDC_DIV = 8  # boundary residue divisor -> expected chunk of 8 words


def _word_hash_spark(col: str) -> str:
    return (
        f"CAST(conv(substring(md5({col}), 1, 12), 16, 10) AS bigint)"
        " % 1000000007"
    )


def _word_hash_duck(col: str) -> str:
    return (
        "list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 13), "
        f"i -> (instr('0123456789abcdef', substring(md5({col}), i, 1)) - 1)"
        "::BIGINT)), (h, c) -> h * 16 + c) % 1000000007"
    )


def cdc_chunk_census(docs: DataFrame, div: int = CDC_DIV) -> DataFrame:
    """Shift-robust shared-passage census via content-defined
    chunking: token i starts a chunk iff i is the first token or
    md5-hash(token) % div == 0; chunks shared by >= 2 distinct
    documents are reported with their spread.

    Plan shape: posexplode -> row-local boundary flag (codegen md5 +
    conv) -> per-document running chunk number (window PARTITIONED BY
    doc — bounded by document length, never global) -> one groupBy
    (doc, chunk) rebuilding chunk text -> one groupBy on chunk_hash
    for the census. Two key shuffles, both on bounded or
    uniformly-hashed keys; no pairwise comparison anywhere — the
    cross-document matching IS the hash groupBy, so the operator is
    linear in corpus tokens at any scale.

    Returns: chunk_hash, n_docs (distinct), n_occ, min_doc."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    tok = spread_rowlocal(docs).selectExpr(
        "doc_id", "posexplode(split(text, ' ')) AS (pos, w)"
    ).selectExpr(
        "doc_id",
        "pos",
        "w",
        f"CASE WHEN pos = 0 OR {_word_hash_spark('w')} % {div} = 0"
        " THEN 1 ELSE 0 END AS flag",
    )
    numbered = tok.selectExpr(
        "doc_id",
        "pos",
        "w",
        "SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_no",
    )
    chunks = numbered.groupBy("doc_id", "chunk_no").agg(
        F.expr(
            "md5(concat_ws(' ', transform(array_sort(collect_list("
            "struct(pos, w))), x -> x.w)))"
        ).alias("chunk_hash")
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
            F.min("doc_id").alias("min_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def sql_cdc_chunk_census(table: str = "documents", div: int = CDC_DIV) -> str:
    """DuckDB twin of :func:`cdc_chunk_census` (same md5-residue
    boundaries, same census)."""
    return f"""
        WITH tok AS (
            SELECT doc_id, g.i - 1 AS pos, toks[g.i] AS w
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM {table}),
                 unnest(range(1, len(toks) + 1)) AS g(i)
        ), flagged AS (
            SELECT doc_id, pos, w,
                   CASE WHEN pos = 0 OR ({_word_hash_duck("w")}) % {div} = 0
                        THEN 1 ELSE 0 END AS flag
            FROM tok
        ), numbered AS (
            SELECT doc_id, pos, w,
                   SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS chunk_no
            FROM flagged
        ), chunks AS (
            SELECT doc_id, chunk_no,
                   md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_hash
            FROM numbered GROUP BY 1, 2
        )
        SELECT chunk_hash,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occ,
               MIN(doc_id) AS min_doc
        FROM chunks
        GROUP BY 1
        HAVING COUNT(DISTINCT doc_id) >= 2
    """


# ------------------------------------------ LSH (b, r) tuning report

# every (bands, rows-per-band) factorization of the NUM_PERM signature
LSH_TUNING_GRID = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]
LSH_TUNING_TAU = 0.5


def _pow_chain(expr: str, n: int) -> str:
    """``expr`` multiplied by itself ``n`` times as an explicit
    left-associated chain — the SAME IEEE multiply order in Spark SQL
    and DuckDB, so s^r and (1-s^r)^b are bit-identical cross-engine
    without trusting either engine's pow()."""
    return "(" + " * ".join([f"({expr})"] * n) + ")"


def _collision_prob(s_col: str, bands: int, rows: int) -> str:
    """S-curve candidate probability 1 - (1 - s^r)^b as a fixed-order
    arithmetic expression (Leskovec/Rajaraman/Ullman, MMDS ch.3)."""
    t = _pow_chain(s_col, rows)
    return f"(1.0 - {_pow_chain(f'1.0 - {t}', bands)})"


def lsh_tuning_report(
    docs: DataFrame, tau: float = LSH_TUNING_TAU
) -> DataFrame:
    """Index-tuning report for the banded-MinHash dedup family: for
    every (bands, rows-per-band) factorization of the NUM_PERM
    signature, the S-curve expected recall over TRUE near-dup pairs
    (exact Jaccard >= tau) and the expected sub-threshold candidate
    mass (the FP cost the banding would pay) — the numbers that pick
    b and r BEFORE committing a 100 TB dedup run to one banding.

    Expected values come from the MMDS S-curve p(s) = 1-(1-s^r)^b
    evaluated at each pair's EXACT rounded Jaccard from the
    inverted-index join (threshold 0: all shingle-sharing pairs, the
    full similarity distribution). Determinism: p(s) is a fixed-order
    multiply chain (:func:`_pow_chain`) over the 6-dp Jaccard, cast
    to DECIMAL(28,12) per pair and summed order-free; the final means
    are one division each.

    Scale shape: the pair relation is the same shuffle-hash
    inverted-index join as :func:`ngram_jaccard_pairs` (skewed
    corpora would swap in the prefix-filtered twin); the report
    aggregate is 5 rows. On a real 100 TB corpus you run this on a
    deterministic document sample — the S-curve estimate only needs
    the similarity histogram, not every pair."""
    pairs = ngram_jaccard_pairs(docs, 0.0).select("jaccard")
    cfg_structs = ", ".join(
        f"named_struct('nb', {b}, 'rpb', {r}, "
        f"'p', CAST({_collision_prob('jaccard', b, r)} AS DECIMAL(28,12)))"
        for b, r in LSH_TUNING_GRID
    )
    stacked = pairs.selectExpr(
        "jaccard", f"explode(array({cfg_structs})) AS cfg"
    ).selectExpr(
        "cfg.nb AS n_bands",
        "cfg.rpb AS rows_per_band",
        "jaccard",
        "cfg.p AS p",
    )
    return (
        stacked.groupBy("n_bands", "rows_per_band")
        .agg(
            F.sum(F.when(F.col("jaccard") >= tau, 1).otherwise(0))
            .cast("long")
            .alias("n_true_pairs"),
            F.sum(F.when(F.col("jaccard") < tau, 1).otherwise(0))
            .cast("long")
            .alias("n_sub_pairs"),
            F.sum(F.when(F.col("jaccard") >= tau, F.col("p"))).alias("sum_p_true"),
            F.sum(F.when(F.col("jaccard") < tau, F.col("p"))).alias("sum_p_sub"),
        )
        .selectExpr(
            "n_bands",
            "rows_per_band",
            "n_true_pairs",
            "n_sub_pairs",
            # zero guard (ADVICE r8): a corpus with no pairs at
            # jaccard >= tau yields a DEFINED NULL expected_recall in
            # both engines (instead of NULL-by-div0 here vs an ANSI
            # error elsewhere)
            "CASE WHEN n_true_pairs = 0 THEN CAST(NULL AS DOUBLE) "
            "ELSE round(CAST(coalesce(sum_p_true, 0) AS DOUBLE)"
            " / n_true_pairs, 6) END AS expected_recall",
            "round(CAST(coalesce(sum_p_sub, 0) AS DOUBLE), 6)"
            " AS expected_fp_pairs",
        )
    )


def sql_lsh_tuning_report(
    jaccard_all_pairs_cte: str, tau: float = LSH_TUNING_TAU
) -> str:
    """DuckDB twin of :func:`lsh_tuning_report`;
    ``jaccard_all_pairs_cte`` must yield (doc_a, doc_b, jaccard) for
    ALL shingle-sharing pairs (threshold 0)."""
    selects = []
    for b, r in LSH_TUNING_GRID:
        selects.append(f"""
        SELECT {b} AS n_bands, {r} AS rows_per_band,
               jaccard,
               CAST({_collision_prob('jaccard', b, r)}
                    AS DECIMAL(28,12)) AS p
        FROM jp""")
    stacked = " UNION ALL ".join(selects)
    return f"""
        WITH jp AS ({jaccard_all_pairs_cte}),
        stacked AS ({stacked})
        SELECT n_bands, rows_per_band,
               CAST(SUM(CASE WHEN jaccard >= {tau} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_true_pairs,
               CAST(SUM(CASE WHEN jaccard < {tau} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sub_pairs,
               CASE WHEN SUM(CASE WHEN jaccard >= {tau} THEN 1 ELSE 0 END) = 0
                    THEN CAST(NULL AS DOUBLE)
                    ELSE ROUND(CAST(COALESCE(SUM(CASE WHEN jaccard >= {tau}
                              THEN p END), 0) AS DOUBLE)
                         / SUM(CASE WHEN jaccard >= {tau} THEN 1 ELSE 0 END), 6)
                    END AS expected_recall,
               ROUND(CAST(COALESCE(SUM(CASE WHEN jaccard < {tau}
                         THEN p END), 0) AS DOUBLE), 6)
                   AS expected_fp_pairs
        FROM stacked
        GROUP BY 1, 2
    """


# ---- sorted-neighborhood method (Hernandez & Stolfo 1995) ---------------

SNM_WINDOW = 4


def _snm_local(docs: DataFrame) -> DataFrame:
    """The UNMATERIALIZED per-range rank relation behind
    :func:`sorted_neighborhood_pairs` — factored out so the plan test
    can assert the RANGE exchange + per-range row_number shape, which
    the operator's localCheckpoint otherwise truncates out of the
    final executed plan."""
    from pyspark.sql import Window

    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    sh = spread_rowlocal(docs).selectExpr(
        "doc_id",
        f"{TOKENS_SPARK} AS tokens",
    ).selectExpr(
        "doc_id",
        # coalesce: short docs yield NULL prefix tokens, and the two
        # engines disagree on NULL sort placement (Spark NULLS FIRST,
        # DuckDB NULLS LAST) — '' sorts first in both
        # try_element_at: plain element_at throws on out-of-bounds
        # under Spark 4's default ANSI mode (1-token documents)
        *[
            f"coalesce(try_element_at(tokens, {i}), '') AS k{i}"
            for i in (1, 2, 3)
        ],
        f"array_distinct({shingles_spark('tokens')}) AS sh",
    )
    key = [F.col("k1"), F.col("k2"), F.col("k3"), F.col("doc_id")]
    ranged = sh.repartitionByRange(*key).withColumn(
        "part", F.spark_partition_id()
    )
    return ranged.withColumn(
        "local_rank",
        F.row_number().over(Window.partitionBy("part").orderBy(*key)),
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    window: int = SNM_WINDOW,
) -> DataFrame:
    """Sorted-neighborhood dedup/ER (Hernandez & Stolfo 1995): sort
    the corpus by a CONTENT-PREFIX key (first three tokens, then
    doc_id), slide a ``window``-row neighborhood over the sorted
    order, verify candidate pairs with exact shingle Jaccard —
    candidate volume is O(n * window) BY CONSTRUCTION, independent of
    how skewed the similarity distribution is (the classic complement
    to LSH banding: SNM never explodes on a hot key, at the price of
    only finding pairs the sort key places near each other; the
    content prefix recovers 25/25 true tau=0.5 pairs on this corpus
    where a metadata/length key finds 1 — near-dups share prefixes,
    not byte lengths).

    The global rank over the sort order is computed WITHOUT a
    corpus-sized window partition (the distributed-rank pattern):
    repartitionByRange clusters rows by sort-key range into
    shuffle-partition-count ranges (each a bounded slice of the
    corpus), row_number runs per physical range, and per-range
    offsets come from a window over the REDUCED per-range count
    relation (n_partitions rows — control-plane sized). Range
    boundaries affect only which executor ranks which slice, never
    the rank itself (the sort key is a total order: doc_id breaks
    ties), so the result is partitioning-invariant. Neighborhood
    pairs are then ONE equi-join on pos_b = pos_a + j (j exploded
    1..window); Jaccard is row-local set arithmetic on the pair's
    (already joined) shingle arrays.

    Output: doc_a, doc_b (doc_a earlier in sort order), window_dist,
    jaccard >= ``threshold``."""
    from pyspark.sql import Window

    # The materialization boundary on _snm_local is load-bearing, not
    # a performance hint: local ranks and per-range offsets both
    # consume that relation, and without it each branch re-executes
    # the range exchange independently — AQE may coalesce the two
    # executions into DIFFERENT partition layouts, so 'part' in the
    # offsets branch no longer names the same range as 'part' in the
    # rank branch and global positions silently skew (caught by the
    # sf1 gate: 106 vs 2560 pairs at 10x rows; both branches reading
    # one materialized partitioning restores exactness at any scale).
    # localCheckpoint, not cache (ADVICE r10): a cache() here could
    # never be unpersisted inside the operator (the caller triggers
    # the action after we return) and leaked a corpus-sized relation
    # in executor memory per invocation; the checkpointed RDD's
    # lifecycle is GC-bounded and the single-materialization (and
    # fixed-layout) guarantee is strictly stronger.
    local = _snm_local(docs).localCheckpoint()
    offsets = (
        local.groupBy("part")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("part").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("part", "offset")
    )
    pos = local.join(F.broadcast(offsets), "part").selectExpr(
        "doc_id", "sh",
        "offset + local_rank AS pos",
    )
    left = pos.selectExpr(
        "doc_id AS doc_a",
        "sh AS sh_a",
        "pos",
        f"explode(sequence(1, {window})) AS j",
    ).selectExpr("doc_a", "sh_a", "pos + j AS pos_b")
    right = pos.selectExpr(
        "doc_id AS doc_b", "sh AS sh_b", "pos AS pos_b"
    )
    return (
        left.join(right, "pos_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "size(array_intersect(sh_a, sh_b)) AS n_common",
            "size(sh_a) AS sz_a",
            "size(sh_b) AS sz_b",
        )
        .filter("sz_a > 0 AND sz_b > 0")
        .selectExpr(
            "doc_a",
            "doc_b",
            "round(n_common / CAST(sz_a + sz_b - n_common AS DOUBLE), 6)"
            " AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def sql_sorted_neighborhood_pairs(
    table: str = "documents",
    threshold: float = 0.5,
    window: int = SNM_WINDOW,
) -> str:
    """DuckDB twin of :func:`sorted_neighborhood_pairs` (one global
    row_number window — the single-node replay of the distributed
    rank)."""
    from uber_data_pipeline_spark.functions.text import (
        TOKENS_DUCK,
        shingles_duck,
    )

    jac = (
        "len(list_intersect(sh_a, sh_b))"
        " / CAST(len(sh_a) + len(sh_b)"
        " - len(list_intersect(sh_a, sh_b)) AS DOUBLE)"
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table}
        ), sh AS (
            SELECT doc_id,
                   COALESCE(tokens[1], '') AS k1,
                   COALESCE(tokens[2], '') AS k2,
                   COALESCE(tokens[3], '') AS k3,
                   list_distinct({shingles_duck()}) AS sh
            FROM tok
        ), r AS (
            SELECT *, row_number() OVER (
                ORDER BY k1, k2, k3, doc_id) AS pos
            FROM sh
        ), cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sh AS sh_a, b.sh AS sh_b
            FROM r a JOIN r b
              ON b.pos > a.pos AND b.pos <= a.pos + {window}
            WHERE len(a.sh) > 0 AND len(b.sh) > 0
        )
        SELECT doc_a, doc_b, ROUND({jac}, 6) AS jaccard
        FROM cand
        WHERE ROUND({jac}, 6) >= {threshold}
    """


# ------------------------------- paragraph-grain two-level dedup

PARA_SEG_LEN = 16          # tokens per "paragraph" segment
PARA_TAU_MICRO = 500_000   # level-2 verify: shingle Jaccard >= 0.5
PARA_KEEP_MICRO = 700_000  # surviving mass >= 0.7 -> keep whole doc
PARA_TRIM_MICRO = 300_000  # surviving mass >= 0.3 -> trim; else drop
# Level-2 bucket-size defense (r13, VERDICT r12 item 3): the LSH
# load-bound argument ("exact dups were removed at level 1, so band
# buckets hold only genuinely-near segments") fails open on a
# template/boilerplate-heavy web crawl, where millions of
# near-identical-but-NOT-exact segments (same template, one
# substituted word) land in ONE band bucket and the in-bucket
# self-join goes quadratic. Cap each (band, band_key) bucket at the
# first PARA_BUCKET_CAP members in deterministic (doc_id, seg_no)
# order — the standard production-LSH oversized-bucket clip (e.g.
# ``datasketch`` users drop hot buckets the same way): a capped
# bucket still removes every near-dup of its cap-prefix, and a
# segment clipped from one band's hot bucket keeps its other
# NUM_BANDS-1 chances to pair. Work per bucket is bounded at
# cap*(cap-1)/2 candidate pairs no matter the corpus. At cap=256 the
# sf0.1/sf1 corpora never hit the clip (max observed bucket ~2), so
# the oracle twins stay value-identical; the stress test
# (tests/test_r13_operators.py) pins the bounded-candidate behavior
# on a planted 600-near-identical-segment corpus.
PARA_BUCKET_CAP = 256


def _paragraph_marked_bands(
    docs: DataFrame, seg_len: int = PARA_SEG_LEN
) -> "tuple[DataFrame, DataFrame]":
    """Shared construction for the paragraph family: level-1 marked
    segment occurrences (doc_id, seg_no, n_seg_tokens, shs, exact_dup)
    plus the UN-CLIPPED level-2 band membership (doc_id, seg_no, shs,
    band, band_key) over exact survivors. Used by the census (which
    applies the oversized-bucket clip and the pair join) and by the
    bucket-load telemetry (which aggregates raw bucket sizes — the
    clip must NOT hide the load it exists to defend against)."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    n_seg = f"CAST((size(tokens) - 1) DIV {seg_len} AS INT)"
    segs = (
        spread_rowlocal(docs)
        .selectExpr("doc_id", f"{TOKENS_SPARK} AS tokens")
        .selectExpr(
            "doc_id",
            f"posexplode(transform(sequence(0, {n_seg}), "
            f"b -> slice(tokens, b * {seg_len} + 1, {seg_len})))"
            " AS (seg_no, seg)",
        )
        .selectExpr(
            "doc_id",
            "seg_no",
            "CAST(size(seg) AS BIGINT) AS n_seg_tokens",
            "md5(concat_ws(' ', seg)) AS seg_hash",
            "array_distinct(transform("
            + shingles_spark("seg")
            + f", shingle -> {SHINGLE_HASH_SPARK}))"
            " AS shs",
        )
        .cache()
    )
    firsts = segs.groupBy("seg_hash").agg(
        F.min(F.struct("doc_id", "seg_no")).alias("f")
    )
    marked = segs.join(firsts, "seg_hash").selectExpr(
        "doc_id",
        "seg_no",
        "n_seg_tokens",
        "shs",
        "NOT (doc_id = f.doc_id AND seg_no = f.seg_no) AS exact_dup",
    )
    mins = [
        f"array_min(transform(shs, h -> ({MINHASH_A[p]} * h + {MINHASH_B[p]})"
        f" % {MINHASH_MOD})) AS m{p}"
        for p in range(NUM_PERM)
    ]
    rows_per_band = NUM_PERM // NUM_BANDS
    band_structs = ", ".join(
        f"struct({b} AS band, md5(concat_ws('|', "
        + ", ".join(
            f"CAST(m{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        + ")) AS band_key)"
        for b in range(NUM_BANDS)
    )
    surv = marked.filter("NOT exact_dup AND size(shs) > 0").selectExpr(
        "doc_id", "seg_no", "shs", *mins
    )
    bands = surv.selectExpr(
        "doc_id",
        "seg_no",
        "shs",
        f"explode(array({band_structs})) AS bk",
    ).selectExpr("doc_id", "seg_no", "shs", "bk.band", "bk.band_key")
    return marked, bands


def paragraph_twolevel_census(
    docs: DataFrame,
    seg_len: int = PARA_SEG_LEN,
    bucket_cap: int = PARA_BUCKET_CAP,
) -> DataFrame:
    """Paragraph-grain TWO-LEVEL dedup census — the C4/RefinedWeb
    recipe (Raffel et al. 2020 §2.2 three-sentence span dedup; Penedo
    et al. 2023 RefinedWeb §3.3 line-level exact dedup + fuzzy
    document filtering): documents explode into fixed ``seg_len``-token
    "paragraph" segments (this corpus has no newline/sentence
    delimiters, so the segmenter is the deterministic token chunker),
    then

    - **level 1 (exact)**: a segment occurrence is an exact duplicate
      iff an identical segment (md5 of its joined text) exists with
      lexicographically smaller (doc_id, seg_no) — keep-first, the C4
      policy;
    - **level 2 (near)**: over exact SURVIVORS with >= 3 tokens, a
      16-perm minhash signature over the segment's distinct 3-shingle
      hash set, banded 4x4; in-bucket candidates verify exact Jaccard
      >= PARA_TAU_MICRO in integer micro-units, and the verified
      pair's LARGER (doc_id, seg_no) side is removed (EXISTS
      semantics: no iterative clustering needed for keep-first);
    - **per-document decision** from surviving-paragraph token mass:
      keep (>= 0.7), trim (>= 0.3, drop only the duplicated
      segments), drop (< 0.3) — the keep/trim call RefinedWeb makes
      per document instead of discarding every document that shares a
      line.

    Scale shape: segmentation/shingling/minhash are ROW-LOCAL
    (signatures fold over the per-segment shingle array — no
    explode-to-shingle shuffle at all); level 1 is one
    map-side-combined min-struct groupBy on the segment hash + an
    equi-join back; level 2's pair generation is band-bucket-local
    (the LSH argument: bucket sizes are load-bounded because exact
    duplicates were ALREADY removed at level 1, so buckets hold only
    genuinely-near segments); the rollup is one groupBy(doc_id).
    Candidate pairs are NOT deduped across bands — verification is
    row-local and idempotent, and the removal set applies DISTINCT
    after the filter, saving a full candidate shuffle.

    Columns: doc_id, n_paras, n_exact_dup, n_near_dup, total_tokens,
    kept_tokens, surviving_micro, decision."""
    marked, bands = _paragraph_marked_bands(docs, seg_len)
    # oversized-bucket clip (see PARA_BUCKET_CAP): row_number over the
    # same (band, band_key) keys the join below shuffles on, so the
    # window's exchange is REUSED by the join — the cap costs one
    # in-partition sort, not an extra shuffle
    from pyspark.sql import Window

    bands = (
        bands.withColumn(
            "bucket_rank",
            F.row_number().over(
                Window.partitionBy("band", "band_key").orderBy(
                    "doc_id", "seg_no"
                )
            ),
        )
        .filter(F.col("bucket_rank") <= bucket_cap)
        .drop("bucket_rank")
        # cached (r13): BOTH sides of the candidate self-join consume
        # this relation, and alias/pruning differences between the two
        # subtrees defeat ReuseExchange — without the boundary the
        # whole segment->minhash->band-explode->clip pipeline runs
        # twice (measured 2.6 -> 2.1 s at sf0.1, identical hash). The
        # materialized relation is the CLIPPED band membership, whose
        # size the bucket cap itself bounds.
        .cache()
    )
    a = bands.selectExpr(
        "doc_id AS da", "seg_no AS sa", "shs AS sha", "band", "band_key"
    )
    b = bands.selectExpr(
        "doc_id AS db", "seg_no AS sb", "shs AS shb", "band", "band_key"
    )
    cand = a.join(b, ["band", "band_key"]).filter(
        "da < db OR (da = db AND sa < sb)"
    )
    removed = (
        cand.selectExpr(
            "db AS doc_id",
            "sb AS seg_no",
            "size(array_intersect(sha, shb)) AS i",
            "size(sha) + size(shb) AS ab",
        )
        .filter(f"i * 1000000 >= {PARA_TAU_MICRO} * (ab - i)")
        .select("doc_id", "seg_no")
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    final = marked.join(removed, ["doc_id", "seg_no"], "left").selectExpr(
        "doc_id",
        "n_seg_tokens",
        "exact_dup",
        "COALESCE(near_dup, false) AS near_dup",
    )
    return final.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.when(F.col("exact_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact_dup"),
        F.sum(F.when(F.col("near_dup"), 1).otherwise(0))
        .cast("long")
        .alias("n_near_dup"),
        F.sum("n_seg_tokens").cast("long").alias("total_tokens"),
        F.sum(
            F.when(
                ~F.col("exact_dup") & ~F.col("near_dup"),
                F.col("n_seg_tokens"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("kept_tokens"),
    ).selectExpr(
        "doc_id",
        "n_paras",
        "n_exact_dup",
        "n_near_dup",
        "total_tokens",
        "kept_tokens",
        "CASE WHEN total_tokens > 0 THEN "
        "kept_tokens * 1000000 DIV total_tokens "
        "ELSE CAST(0 AS BIGINT) END AS surviving_micro",
        f"CASE WHEN (CASE WHEN total_tokens > 0 THEN "
        f"kept_tokens * 1000000 DIV total_tokens ELSE 0 END)"
        f" >= {PARA_KEEP_MICRO} THEN 'keep' "
        f"WHEN (CASE WHEN total_tokens > 0 THEN "
        f"kept_tokens * 1000000 DIV total_tokens ELSE 0 END)"
        f" >= {PARA_TRIM_MICRO} THEN 'trim' "
        "ELSE 'drop' END AS decision",
    )


def paragraph_bucket_stats(
    docs: DataFrame,
    seg_len: int = PARA_SEG_LEN,
    bucket_cap: int = PARA_BUCKET_CAP,
) -> DataFrame:
    """Level-2 LSH bucket-load TELEMETRY for the paragraph census
    (r13, VERDICT r12 item 3): per band, the raw (UN-clipped) bucket
    population — how many buckets, their total membership, the
    heaviest bucket, and exactly what the PARA_BUCKET_CAP clip would
    discard. This is the report a 100 TB run consults BEFORE trusting
    the census: n_over_cap > 0 means the corpus has template/
    boilerplate mass concentrating band buckets and the capped census
    is intentionally partial there (each clipped segment keeps its
    other NUM_BANDS-1 chances to pair).

    Scale shape: one groupBy(band, band_key) count (map-side
    combined) + one NUM_BANDS-row rollup — strictly cheaper than the
    census it audits.

    Columns: band, n_buckets, n_members, max_bucket, n_over_cap,
    n_clipped_members."""
    _, bands = _paragraph_marked_bands(docs, seg_len)
    per_bucket = bands.groupBy("band", "band_key").agg(
        F.count("*").alias("sz")
    )
    return per_bucket.groupBy("band").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum("sz").cast("long").alias("n_members"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > bucket_cap, 1).otherwise(0))
        .cast("long")
        .alias("n_over_cap"),
        F.sum(
            F.when(F.col("sz") > bucket_cap, F.col("sz") - bucket_cap)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_clipped_members"),
    )


def _sql_paragraph_bands_cte(table: str, seg_len: int) -> str:
    """Shared CTE prefix (toks -> segs -> base -> marked -> surv ->
    bands0) for the paragraph family's DuckDB twins — the relational
    mirror of :func:`_paragraph_marked_bands`."""
    from uber_data_pipeline_spark.functions.text import (
        TOKENS_DUCK,
        shingles_duck,
    )

    mins = ", ".join(
        f"list_min(list_transform(shs, h -> ({MINHASH_A[p]} * h + "
        f"{MINHASH_B[p]}) % {MINHASH_MOD})) AS m{p}"
        for p in range(NUM_PERM)
    )
    rows_per_band = NUM_PERM // NUM_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, seg_no, shs, {b} AS band, md5(concat_ws('|', "
        + ", ".join(
            f"m{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
        )
        + ")) AS band_key FROM surv"
        for b in range(NUM_BANDS)
    )
    return f"""toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table}
        ), segs AS (
            SELECT doc_id, CAST(t.b AS INT) AS seg_no,
                   list_slice(tokens, t.b * {seg_len} + 1,
                              t.b * {seg_len} + {seg_len}) AS seg
            FROM toks,
                 unnest(range(0, greatest((len(tokens) - 1) // {seg_len},
                                          0) + 1)) AS t(b)
        ), base AS MATERIALIZED (
            SELECT doc_id, seg_no,
                   CAST(len(seg) AS BIGINT) AS n_seg_tokens,
                   md5(array_to_string(seg, ' ')) AS seg_hash,
                   list_distinct(list_transform({shingles_duck("seg")},
                       shingle -> {SHINGLE_HASH_DUCK})) AS shs
            FROM segs
        ), marked AS MATERIALIZED (
            SELECT doc_id, seg_no, n_seg_tokens, shs,
                   ROW_NUMBER() OVER (PARTITION BY seg_hash
                                      ORDER BY doc_id, seg_no) > 1
                       AS exact_dup
            FROM base
        ), surv AS MATERIALIZED (
            SELECT doc_id, seg_no, shs, {mins}
            FROM marked WHERE NOT exact_dup AND len(shs) > 0
        ), bands0 AS MATERIALIZED (
            {band_rows}
        )"""


def sql_paragraph_bucket_stats(
    table: str = "documents",
    seg_len: int = PARA_SEG_LEN,
    bucket_cap: int = PARA_BUCKET_CAP,
) -> str:
    """DuckDB twin of :func:`paragraph_bucket_stats` (raw un-clipped
    bucket loads + what the clip would discard)."""
    return f"""
        WITH {_sql_paragraph_bands_cte(table, seg_len)},
        per_bucket AS (
            SELECT band, band_key, COUNT(*) AS sz
            FROM bands0 GROUP BY 1, 2
        )
        SELECT band,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(sz) AS BIGINT) AS n_members,
               CAST(MAX(sz) AS BIGINT) AS max_bucket,
               CAST(SUM(CASE WHEN sz > {bucket_cap} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_over_cap,
               CAST(SUM(CASE WHEN sz > {bucket_cap} THEN sz - {bucket_cap}
                             ELSE 0 END) AS BIGINT) AS n_clipped_members
        FROM per_bucket GROUP BY 1
    """


def sql_paragraph_twolevel(
    table: str = "documents",
    seg_len: int = PARA_SEG_LEN,
    bucket_cap: int = PARA_BUCKET_CAP,
) -> str:
    """DuckDB twin of :func:`paragraph_twolevel_census` (same
    segmenter, hashes, minhash family, banding, verify threshold,
    oversized-bucket clip and keep-first policy — relational
    formulation)."""
    return f"""
        WITH {_sql_paragraph_bands_cte(table, seg_len)}, bands AS MATERIALIZED (
            SELECT doc_id, seg_no, shs, band, band_key
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                           PARTITION BY band, band_key
                           ORDER BY doc_id, seg_no) AS bucket_rank
                FROM bands0
            )
            WHERE bucket_rank <= {bucket_cap}
        ), cand AS (
            SELECT b.doc_id AS doc_id, b.seg_no AS seg_no,
                   len(list_intersect(a.shs, b.shs)) AS i,
                   len(a.shs) + len(b.shs) AS ab
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND (a.doc_id < b.doc_id
                  OR (a.doc_id = b.doc_id AND a.seg_no < b.seg_no))
        ), removed AS (
            SELECT DISTINCT doc_id, seg_no FROM cand
            WHERE i * 1000000 >= {PARA_TAU_MICRO} * (ab - i)
        ), final AS (
            SELECT m.doc_id, m.n_seg_tokens, m.exact_dup,
                   r.doc_id IS NOT NULL AS near_dup
            FROM marked m LEFT JOIN removed r
              ON r.doc_id = m.doc_id AND r.seg_no = m.seg_no
        ), rolled AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_paras,
                   CAST(SUM(CASE WHEN exact_dup THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_exact_dup,
                   CAST(SUM(CASE WHEN near_dup THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_near_dup,
                   CAST(SUM(n_seg_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(CASE WHEN NOT exact_dup AND NOT near_dup
                                 THEN n_seg_tokens ELSE 0 END)
                        AS BIGINT) AS kept_tokens
            FROM final GROUP BY 1
        )
        SELECT *, CASE WHEN total_tokens > 0
                       THEN kept_tokens * 1000000 // total_tokens
                       ELSE CAST(0 AS BIGINT) END AS surviving_micro,
               CASE WHEN (CASE WHEN total_tokens > 0
                          THEN kept_tokens * 1000000 // total_tokens
                          ELSE 0 END) >= {PARA_KEEP_MICRO} THEN 'keep'
                    WHEN (CASE WHEN total_tokens > 0
                          THEN kept_tokens * 1000000 // total_tokens
                          ELSE 0 END) >= {PARA_TRIM_MICRO} THEN 'trim'
                    ELSE 'drop' END AS decision
        FROM rolled
    """
