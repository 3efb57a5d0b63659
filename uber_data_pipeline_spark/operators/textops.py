"""Per-document text analysis: language-ID, quality scoring, token
counting, fingerprinting. Pure column expressions over the documents
table — embarrassingly parallel, no shuffle at all (narrow plans that
scale linearly with input splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uber_data_pipeline_spark.functions.text import (
    DIGITS_ONLY_SPARK,
    PUNCT_STRIPPED_SPARK,
    REGEX_TOKEN_COUNT_DUCK,
    REGEX_TOKEN_COUNT_SPARK,
    TOKENS_DUCK,
    TOKENS_SPARK,
    langid_case,
    rolling_hash_spark,
    shingles_spark,
    stopword_count_spark,
)


def language_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword-marker
    counts, fixed tie order. (Synthetic corpus is one script, so this
    demonstrates the operator shape; real marker lists drop in.)"""
    scored = docs.selectExpr(
        "doc_id",
        "lang AS labeled_lang",
        f"{TOKENS_SPARK} AS tokens",
    ).selectExpr(
        "doc_id",
        "labeled_lang",
        *[f"{stopword_count_spark(lg)} AS s_{lg}" for lg in ("en", "de", "fr", "es")],
    )
    pred = langid_case({lg: f"s_{lg}" for lg in ("en", "de", "fr", "es")})
    return scored.selectExpr(
        "doc_id",
        "labeled_lang",
        f"{pred} AS pred_lang",
        f"CAST({pred} = labeled_lang AS boolean) AS agree",
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length/stopword/punctuation-based quality score in [0,1].
    Row-local regex + token work — the scan feed is spread (see
    operators/spread.py; no-op at lake scale)."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    base = spread_rowlocal(docs).selectExpr(
        "doc_id",
        "n_chars",
        f"{TOKENS_SPARK} AS tokens",
        f"{PUNCT_STRIPPED_SPARK} AS n_punct",
        f"{DIGITS_ONLY_SPARK} AS n_digits",
    ).selectExpr(
        "doc_id",
        "n_chars",
        "size(tokens) AS n_tokens",
        f"round({stopword_count_spark('en')} / size(tokens), 6) AS stopword_ratio",
        "round(n_punct / n_chars, 6) AS punct_ratio",
        "round(n_digits / n_chars, 6) AS digit_ratio",
    )
    return base.selectExpr(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "punct_ratio",
        "digit_ratio",
        # exact decimal arithmetic: the weighted sum of 6-decimal ratios
        # lands exactly on .5 rounding ties, where Spark and DuckDB double
        # rounding disagree — decimals make the tie rule itself identical
        "CAST(round(CAST(least(n_tokens, 100) AS decimal(12,6)) * 0.004 "
        "+ (1.0 - CAST(stopword_ratio AS decimal(12,6))) * 0.3 "
        "+ (1.0 - CAST(punct_ratio AS decimal(12,6))) * 0.3, 6) AS double) AS quality_score",
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count, BPE-ish regex token count, average
    token length."""
    return docs.selectExpr(
        "doc_id",
        f"{TOKENS_SPARK} AS tokens",
        f"{REGEX_TOKEN_COUNT_SPARK} AS n_regex_tokens",
        "text",
    ).selectExpr(
        "doc_id",
        "size(tokens) AS n_ws_tokens",
        "n_regex_tokens",
        "round(length(replace(text, ' ', '')) / size(tokens), 6) AS avg_token_len",
    )


def token_frequencies(docs: DataFrame, k: int = 50) -> DataFrame:
    """Global top-k tokens by occurrence count, with document
    frequency — the vocabulary/stopword-mining step of a corpus
    pipeline.

    Shuffle shape at scale: the explode inflates rows ~100x, but the
    token groupBy partial-aggregates map-side, so the shuffle carries
    one row per (split, token) — hot tokens ('the') are naturally
    combined before they concentrate on one reducer; count(distinct
    doc_id) is expanded by Spark into a two-phase aggregate over
    (token, doc_id), bucket-local the same way. Final top-k is a
    TakeOrdered over the (already tiny) token counts."""
    toks = docs.selectExpr("doc_id", f"explode({TOKENS_SPARK}) AS token")
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("occurrences"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("occurrences"), F.asc("token"))
        .limit(k)
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprints: rolling polynomial hash of the full
    text + min shingle hash (1-perm minhash) — the pair used for
    cheap pre-clustering before pairwise dedup."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    return spread_rowlocal(docs).selectExpr(
        "doc_id",
        f"{rolling_hash_spark('text')} AS rolling_hash",
        f"{TOKENS_SPARK} AS tokens",
    ).selectExpr(
        "doc_id",
        "rolling_hash",
        f"array_min(transform({shingles_spark('tokens')}, s -> md5(s))) AS min_shingle_hash",
    )


def training_data_prep(
    docs: DataFrame,
    min_quality: float = 0.55,
    min_tokens: int = 5,
) -> DataFrame:
    """The composed keep/drop decision of a training-data pipeline:
    exact-dedup (keep only each text's canonical doc), then quality
    and length gates — one narrow quality pass plus one hash groupBy,
    ending in a broadcast-able semi-join of survivors.

    Returns kept docs with the features the decision used."""
    q = quality_scores(docs)
    canonical = (
        docs.selectExpr("doc_id", "md5(lower(trim(text))) AS text_hash")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        q.join(canonical, "doc_id", "left_semi")
        .filter(
            (F.col("quality_score") >= min_quality)
            & (F.col("n_tokens") >= min_tokens)
        )
        .select("doc_id", "n_tokens", "quality_score")
    )


def attrition_funnel(
    docs: DataFrame,
    min_quality: float = 0.55,
    min_tokens: int = 5,
    rates: dict[str, float] | None = None,
    bench_mod: int | None = None,
) -> DataFrame:
    """The corpus-prep ATTRITION FUNNEL: one row per pipeline stage
    (raw -> exact-dedup -> quality gate -> length gate ->
    decontaminated -> stratified sample) with surviving doc count and
    share of raw — the report a training-data team reads before every
    run ("where did my tokens go?").

    Scale shape: every stage predicate is computed as a FLAG in one
    pass over the corpus (the dedup flag is a min-over-text_hash
    window — same shuffle the dedup groupBy would pay; contamination
    is the broadcast bench-gram semi-join), then ONE conditional
    aggregate (count_if per stage) reduces to a single row that
    stack() unpivots. The corpus is scanned once — no per-stage
    re-computation, no unions of six aggregate jobs."""
    from pyspark.sql import Window

    from uber_data_pipeline_spark.operators.sampling import bucket_spark

    rates = rates or {}
    mod = BENCH_MOD if bench_mod is None else bench_mod
    q = quality_scores(docs).select("doc_id", "n_tokens", "quality_score")
    base = docs.selectExpr(
        "doc_id", "lang", "md5(lower(trim(text))) AS text_hash"
    ).join(q, "doc_id")
    contaminated = (
        benchmark_contamination(docs, mod)
        .select("doc_id")
        .withColumn("is_contam", F.lit(True))
    )
    # CASE with zero WHEN arms is a parse error — empty/None rates
    # mean "sample nothing", a plain 0 threshold
    thr = (
        "CASE lang "
        + " ".join(f"WHEN '{k}' THEN {int(v * 256)}" for k, v in rates.items())
        + " ELSE 0 END"
        if rates
        else "0"
    )
    w = Window.partitionBy("text_hash")
    flags = (
        base.withColumn("keep_dedup", F.col("doc_id") == F.min("doc_id").over(w))
        .join(contaminated, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "keep_dedup",
            f"keep_dedup AND quality_score >= {min_quality} AS keep_quality",
            f"keep_dedup AND quality_score >= {min_quality} "
            f"AND n_tokens >= {min_tokens} AS keep_length",
            f"keep_dedup AND quality_score >= {min_quality} "
            f"AND n_tokens >= {min_tokens} AND doc_id % {mod} != 0 "
            "AND is_contam IS NULL AS keep_decontam",
            f"keep_dedup AND quality_score >= {min_quality} "
            f"AND n_tokens >= {min_tokens} AND doc_id % {mod} != 0 "
            f"AND is_contam IS NULL AND ({bucket_spark('doc_id')}) < ({thr}) "
            "AS keep_sample",
        )
    )
    row = flags.agg(
        F.count("*").alias("raw"),
        F.expr("count_if(keep_dedup)").alias("s1"),
        F.expr("count_if(keep_quality)").alias("s2"),
        F.expr("count_if(keep_length)").alias("s3"),
        F.expr("count_if(keep_decontam)").alias("s4"),
        F.expr("count_if(keep_sample)").alias("s5"),
    )
    return row.selectExpr(
        """stack(6,
            '0_raw',          raw, round(raw / raw, 6),
            '1_exact_dedup',  s1,  round(s1 / raw, 6),
            '2_quality_gate', s2,  round(s2 / raw, 6),
            '3_length_gate',  s3,  round(s3 / raw, 6),
            '4_decontaminated', s4, round(s4 / raw, 6),
            '5_sampled',      s5,  round(s5 / raw, 6)
        ) AS (stage, n_docs, pct_of_raw)"""
    )


def repetition_scores(
    docs: DataFrame,
    max_dup_bigram_ratio: float = 0.2,
    max_top_token_ratio: float = 0.2,
) -> DataFrame:
    """Gopher-style within-document repetition filters (Rae et al.
    2021 §A1.1): the fraction of word bigrams that are duplicates and
    the share of the single most frequent token. Boilerplate and
    degenerate (looping) generations score high on both. Pure column
    expressions — row-local array math, no shuffle, whole-stage
    codegen'd end to end."""
    from uber_data_pipeline_spark.functions.text import shingles_spark
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    return spread_rowlocal(docs).selectExpr(
        "doc_id",
        f"{TOKENS_SPARK} AS tokens",
    ).selectExpr(
        "doc_id",
        "tokens",
        f"{shingles_spark('tokens', 2)} AS bigrams",
    ).selectExpr(
        "doc_id",
        "size(tokens) AS n_tokens",
        "CASE WHEN size(bigrams) = 0 THEN CAST(0.0 AS double) "
        "ELSE round(1.0 - size(array_distinct(bigrams)) / size(bigrams), 6) "
        "END AS dup_bigram_ratio",
        "round(array_max(transform(array_distinct(tokens), "
        "t -> size(filter(tokens, x -> x = t)))) / size(tokens), 6) "
        "AS top_token_ratio",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "dup_bigram_ratio",
        "top_token_ratio",
        f"CAST(dup_bigram_ratio > {max_dup_bigram_ratio} "
        f"OR top_token_ratio > {max_top_token_ratio} AS boolean) AS repetitive",
    )


DECONTAM_SHINGLE_N = 4
BENCH_MOD = 101


def benchmark_contamination(
    docs: DataFrame, bench_mod: int = BENCH_MOD, n: int = DECONTAM_SHINGLE_N
) -> DataFrame:
    """Benchmark decontamination: training docs that share at least
    one word n-gram with the held-out benchmark subset (here every
    doc_id % bench_mod == 0), with the count of matched distinct
    grams. Catches exact and near-verbatim benchmark leakage.

    Scale shape: benchmark suites are small by nature, so the
    benchmark gram set is reduced (distinct) and BROADCAST; the
    training side streams through a map-side hash semi-join — no
    shuffle of the exploded training grams, which is the term that
    grows with corpus size."""
    from uber_data_pipeline_spark.functions.text import shingles_spark

    grams = docs.selectExpr(
        "doc_id", f"{TOKENS_SPARK} AS tokens"
    ).selectExpr(
        "doc_id",
        f"explode(array_distinct({shingles_spark('tokens', n)})) AS gram",
    )
    bench = (
        grams.filter(F.col("doc_id") % bench_mod == 0).select("gram").distinct()
    )
    train = grams.filter(F.col("doc_id") % bench_mod != 0)
    return (
        train.join(F.broadcast(bench), "gram")
        # grams are per-doc distinct already, so count(*) == distinct count
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched_grams"))
        .orderBy("doc_id")
    )


PACK_MAX_LEN = 512
PACK_SHARDS = 16


def pack_sequences(
    docs: DataFrame, max_len: int = PACK_MAX_LEN, n_shards: int = PACK_SHARDS
) -> DataFrame:
    """Sharded sequence packing — the batch-prep step that
    concatenates documents in order and chops every ``max_len``
    tokens (documents may straddle pack boundaries): each doc gets
    its token start offset within its shard and the range of packs
    it lands in.

    Scale shape: a single global concatenation order would be one
    unbounded window partition; sharding by doc_id % n_shards gives
    n_shards independent bounded windows (deterministic and
    engine-neutral — no engine hash involved), which is how packing
    parallelizes on a cluster: one pack stream per shard."""
    w = Window.partitionBy("shard").orderBy("doc_id")
    t = docs.selectExpr(
        "doc_id",
        f"CAST(doc_id % {n_shards} AS int) AS shard",
        f"size({TOKENS_SPARK}) AS n_tokens",
    ).filter(F.col("n_tokens") > 0)
    return (
        t.withColumn("end_offset", F.sum("n_tokens").over(w))
        .selectExpr(
            "doc_id",
            "shard",
            "n_tokens",
            "end_offset - n_tokens AS start_offset",
            f"CAST(floor((end_offset - n_tokens) / {max_len}) AS bigint) AS pack_first",
            f"CAST(floor((end_offset - 1) / {max_len}) AS bigint) AS pack_last",
        )
    )


HIST_BUCKET_WIDTH = 50
HIST_NUM_BUCKETS = 12


def length_histogram(docs: DataFrame) -> DataFrame:
    """Fixed-width document-length histogram (50-char buckets, last
    bucket open-ended) with each bucket's share of the corpus — the
    length-distribution panel of a corpus report.

    Bucketing is integer arithmetic (DIV + least), one
    bounded-cardinality groupBy; the corpus total for the share column
    is a 1-row aggregate broadcast back (never a global window). Share
    divides two exact integers in double."""
    top = HIST_NUM_BUCKETS - 1
    buckets = (
        docs.selectExpr(
            f"least(n_chars DIV {HIST_BUCKET_WIDTH}, {top}) AS bucket"
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
    )
    total = docs.groupBy().agg(F.count("*").alias("n_total"))
    return buckets.crossJoin(F.broadcast(total)).selectExpr(
        "bucket",
        f"bucket * {HIST_BUCKET_WIDTH} AS chars_lo",
        f"CASE WHEN bucket = {top} THEN NULL "
        f"ELSE (bucket + 1) * {HIST_BUCKET_WIDTH} END AS chars_hi",
        "n_docs",
        "round(CAST(n_docs AS double) / n_total, 6) AS share",
    )


def sql_length_histogram() -> str:
    top = HIST_NUM_BUCKETS - 1
    return f"""
        WITH b AS (
            SELECT least(n_chars // {HIST_BUCKET_WIDTH}, {top}) AS bucket,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY 1
        ), t AS (SELECT COUNT(*) AS n_total FROM documents)
        SELECT bucket,
               bucket * {HIST_BUCKET_WIDTH} AS chars_lo,
               CASE WHEN bucket = {top} THEN NULL
                    ELSE (bucket + 1) * {HIST_BUCKET_WIDTH} END AS chars_hi,
               n_docs,
               ROUND(CAST(n_docs AS DOUBLE) / n_total, 6) AS share
        FROM b CROSS JOIN t
    """


def corpus_source_stats(docs: DataFrame) -> DataFrame:
    """Per (source, lang) corpus report — the health dashboard a
    training-data pipeline runs after every ingest: document and
    exact-duplicate counts, token volume, and average length.

    One groupBy over bounded-cardinality keys (sources x langs); the
    duplicate count is COUNT(DISTINCT text-hash), which Spark expands
    to a two-phase aggregate so distinct sets stay partition-local.
    avg_chars divides two exact integers in double — deterministic in
    both engines, no decimal detour needed."""
    return (
        docs.selectExpr(
            "source",
            "lang",
            "n_chars",
            "md5(lower(trim(text))) AS text_hash",
            f"size({TOKENS_SPARK}) AS n_tokens",
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            (F.count("*") - F.countDistinct("text_hash")).alias("n_exact_dups"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_chars"),
        )
    )


def unigram_scores(docs: DataFrame) -> DataFrame:
    """Unigram language-model typicality score per document — the
    cheap statistical stand-in for perplexity filtering: documents
    whose tokens are corpus-typical score high, token-salad outliers
    score low. score = mean over the doc's tokens of the corpus
    unigram probability count(token)/total_tokens.

    Scale shape: the vocabulary aggregate is one map-side-combined
    groupBy over exploded tokens (hot tokens pre-reduced per
    partition); the token->count resolution is a join Spark turns
    into a broadcast when the vocab is small and a shuffle join when
    it is not — either way the per-doc reduction is a single groupBy
    on doc_id. The division happens ONCE on exact integer sums
    (IEEE-exact below 2^53), so Spark and DuckDB round identically.
    """
    toks = docs.selectExpr("doc_id", f"explode({TOKENS_SPARK}) AS token")
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = vocab.groupBy().agg(F.sum("cnt").alias("total_tokens"))
    return (
        toks.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("cnt").alias("sum_token_count"),
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "doc_id",
            "n_tokens",
            "sum_token_count",
            "round(sum_token_count / (n_tokens * total_tokens), 12)"
            " AS unigram_score",
        )
    )


def sql_unigram_scores() -> str:
    """DuckDB twin of :func:`unigram_scores`."""
    return f"""
        WITH toks AS (
            SELECT doc_id, t.token
            FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents),
                 unnest(tokens) AS t(token)
        ), vocab AS (
            SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1
        ), total AS (
            SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens FROM vocab
        ), per_doc AS (
            SELECT doc_id, COUNT(*) AS n_tokens,
                   CAST(SUM(cnt) AS BIGINT) AS sum_token_count
            FROM toks JOIN vocab USING (token)
            GROUP BY 1
        )
        SELECT doc_id, n_tokens, sum_token_count,
               ROUND(sum_token_count / (n_tokens * total_tokens), 12)
                   AS unigram_score
        FROM per_doc CROSS JOIN total
    """


# ------------------------------------------------- CC-Net LM-fit tiers

LM_TIER_LABELS = {1: "head", 2: "middle", 3: "tail"}

# Cutoff-fit sample sizing (VERDICT r8 item 1): cutoffs are fit on a
# deterministic affine-hash sample whose EXPECTED total size is capped
# at FIT_SAMPLE_TARGET rows regardless of corpus size — the modulus is
# derived IN-PLAN from COUNT(documents), so the same query text is
# exact-tertile at test SFs (modulus 1 = every row sampled) and a
# bounded sample at 100 TB, with the DuckDB oracle replaying the
# identical derivation.  Constants follow the MINHASH_A/B recipe:
# both factors < FIT_HASH_MOD ~ 1e9 keep a*h + b < 2^63.
FIT_SAMPLE_TARGET = 65536
FIT_HASH_MOD = 1_000_000_007
FIT_HASH_A = 2654435761 % FIT_HASH_MOD
FIT_HASH_B = 97531


def fit_sample_modulus(n_rows: int, target: int = FIT_SAMPLE_TARGET) -> int:
    """ceil(n/target): the 1-in-m sampling modulus that bounds the
    EXPECTED cutoff-fit sample at `target` rows for any corpus size
    (n/m <= target by construction; m = 1 below target, so small SFs
    fit cutoffs on the full distribution).  Python twin of the in-plan
    derivation, for sizing tests."""
    return max(1, (n_rows + target - 1) // target)


def lm_fit_tiers(
    docs: DataFrame, sample_target: int = FIT_SAMPLE_TARGET
) -> DataFrame:
    """CC-Net-style quality tiers (Wenzek et al. 2020 §4.3): rank each
    document by how well a PER-LANGUAGE unigram LM fits it, then split
    every (lang, source) stratum into head/middle/tail terciles — the
    bucketing CC-Net uses to keep the head of the perplexity
    distribution for LM training data.

    Determinism contract (the :func:`dsir_weights` rules): the LM fit
    is one IEEE division of exact integer sums — mean in-language
    token probability, the monotone linear-space stand-in for
    perplexity; no transcendental functions, so Spark and DuckDB
    order, compare and round identically.

    Tier semantics are CC-Net's ACTUAL procedure — §4.3 fits the
    tercile CUTOFFS on a sample, then buckets every document
    row-locally against the cutoffs (not a full-corpus NTILE):
    a deterministic affine-hash sample (1-in-m where m =
    ceil(n_docs / sample_target) is derived in-plan from COUNT(*),
    see :func:`fit_sample_modulus`) is ranked per (lang, source) by
    (fit DESC, doc_id ASC); the cutoffs are the sample fits at ranks
    ceil(n_s/3) and ceil(2*n_s/3); every document then buckets by two
    comparisons against its stratum's broadcast cutoffs.  With m = 1
    (any corpus below sample_target docs — all test SFs) and distinct
    fits this reproduces NTILE(3) sizes exactly; boundary TIES go to
    the better tier.  A stratum the hash sample MISSES entirely (r9
    ADVICE: at a production modulus m every stratum much smaller than
    ~3m would otherwise silently lose tiering and promote to 'head')
    falls back to fitting cutoffs on its OWN rows — such strata are
    small by construction (P[missed] < (1-1/m)^size, so a missed
    stratum is almost surely O(m) rows), keeping the rescue window
    bounded; with m = 1 no stratum is missed and the rescue relation
    is empty.

    Scale shape: the per-(lang, token) vocabulary is a map-side
    combined groupBy; the count resolution joins token-to-token
    (broadcast when the vocab is small); the per-doc reduction is one
    groupBy on doc_id.  The ONLY window runs over the size-bounded
    sample (<= sample_target expected rows corpus-wide, so a 40%-of-
    corpus stratum like English x CommonCrawl never becomes a
    single-task sort); the corpus-sized side is one broadcast join +
    row-local CASE.  Plan pinned by
    tests/test_plans.py::test_lm_fit_tiers_window_is_sample_bounded."""
    toks = docs.selectExpr(
        "doc_id", "lang", "source", f"explode({TOKENS_SPARK}) AS token"
    )
    vocab = toks.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    totals = vocab.groupBy("lang").agg(F.sum("cnt").alias("total_lang"))
    per_doc = (
        toks.join(vocab, ["lang", "token"])
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("cnt")).alias("sum_cnt"),
        )
        .join(F.broadcast(totals), "lang")
        .withColumn("fitv", F.expr("sum_cnt / (n_tokens * total_lang)"))
    )
    smod = docs.agg(F.count("*").alias("n_docs")).selectExpr(
        f"greatest(CAST(1 AS BIGINT), (n_docs + {sample_target} - 1)"
        f" DIV {sample_target}) AS fit_mod"
    )
    sampled = per_doc.join(F.broadcast(smod)).filter(
        F.expr(
            f"(({FIT_HASH_A} * (doc_id % {FIT_HASH_MOD}) + {FIT_HASH_B})"
            f" % {FIT_HASH_MOD}) % fit_mod = 0"
        )
    ).drop("fit_mod")
    # rescue strata the sample missed: their own rows become the fit
    # sample (empty at m = 1; missed strata are ~O(m) rows whp)
    covered = sampled.select("lang", "source").distinct()
    rescued = per_doc.join(covered, ["lang", "source"], "left_anti")
    fit_src = sampled.unionByName(rescued.select(*sampled.columns))
    w = Window.partitionBy("lang", "source").orderBy(
        F.desc("fitv"), F.asc("doc_id")
    )
    ranked = fit_src.withColumn("rn", F.row_number().over(w))
    ns = fit_src.groupBy("lang", "source").agg(F.count("*").alias("n_s"))
    cuts = (
        ranked.join(ns, ["lang", "source"])
        .groupBy("lang", "source")
        .agg(
            F.max(
                F.when(F.expr("rn = (n_s + 2) DIV 3"), F.col("fitv"))
            ).alias("cut_head"),
            F.max(
                F.when(F.expr("rn = (2 * n_s + 2) DIV 3"), F.col("fitv"))
            ).alias("cut_mid"),
        )
    )
    return per_doc.join(F.broadcast(cuts), ["lang", "source"], "left").selectExpr(
        "doc_id",
        "lang",
        "source",
        "n_tokens",
        "round(fitv, 12) AS lm_fit",
        "CASE WHEN cut_head IS NULL OR fitv >= cut_head THEN 'head' "
        "WHEN fitv >= cut_mid THEN 'middle' ELSE 'tail' END AS tier",
    )


def sql_lm_fit_tiers(sample_target: int = FIT_SAMPLE_TARGET) -> str:
    """DuckDB twin of :func:`lm_fit_tiers` — same in-plan modulus
    derivation, same affine-hash sample, same cutoff ranks, same
    boundary-tie and unsampled-stratum rules."""
    return f"""
        WITH toks AS (
            SELECT doc_id, lang, source, t.token
            FROM (SELECT doc_id, lang, source, {TOKENS_DUCK} AS tokens
                  FROM documents),
                 unnest(tokens) AS t(token)
        ), vocab AS (
            SELECT lang, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
        ), totals AS (
            SELECT lang, CAST(SUM(cnt) AS BIGINT) AS total_lang
            FROM vocab GROUP BY 1
        ), per_doc AS (
            SELECT doc_id, t.lang, t.source,
                   COUNT(*) AS n_tokens,
                   CAST(SUM(cnt) AS BIGINT) AS sum_cnt
            FROM toks t JOIN vocab v USING (lang, token)
            GROUP BY 1, 2, 3
        ), fit AS (
            SELECT doc_id, lang, source, n_tokens,
                   sum_cnt / (n_tokens * total_lang) AS fitv
            FROM per_doc JOIN totals USING (lang)
        ), smod AS (
            SELECT GREATEST(CAST(1 AS BIGINT),
                   (COUNT(*) + {sample_target} - 1) // {sample_target})
                       AS fit_mod
            FROM documents
        ), sampled AS (
            SELECT f.* FROM fit f, smod
            WHERE (({FIT_HASH_A} * (doc_id % {FIT_HASH_MOD})
                    + {FIT_HASH_B}) % {FIT_HASH_MOD}) % fit_mod = 0
        ), covered AS (
            SELECT DISTINCT lang, source FROM sampled
        ), fit_src AS (
            -- unsampled-stratum rescue: a stratum the hash missed
            -- fits cutoffs on its own rows (empty at m = 1)
            SELECT * FROM sampled
            UNION ALL
            SELECT f.* FROM fit f
            WHERE NOT EXISTS (SELECT 1 FROM covered c
                              WHERE c.lang = f.lang
                                AND c.source = f.source)
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
                       ORDER BY fitv DESC, doc_id ASC) AS rn
            FROM fit_src
        ), ns AS (
            SELECT lang, source, COUNT(*) AS n_s
            FROM fit_src GROUP BY 1, 2
        ), cuts AS (
            SELECT lang, source,
                   MAX(CASE WHEN rn = (n_s + 2) // 3 THEN fitv END)
                       AS cut_head,
                   MAX(CASE WHEN rn = (2 * n_s + 2) // 3 THEN fitv END)
                       AS cut_mid
            FROM ranked JOIN ns USING (lang, source)
            GROUP BY 1, 2
        )
        SELECT doc_id, lang, source, n_tokens,
               ROUND(fitv, 12) AS lm_fit,
               CASE WHEN cut_head IS NULL OR fitv >= cut_head THEN 'head'
                    WHEN fitv >= cut_mid THEN 'middle'
                    ELSE 'tail' END AS tier
        FROM fit LEFT JOIN cuts USING (lang, source)
    """


# ---------------------------------------------------------------- PII scrub

# deterministic synthetic PII: every 3rd document gets an email, a
# phone and an IPv4 derived from doc_id appended — the corpus itself is
# synthetic word-salad with no real PII, so the injection makes the
# detector/redactor measurably exercised while staying replayable in
# the DuckDB oracle (same arithmetic, same concat).
_PII_INJECT_SPARK = (
    "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' contact user', "
    "CAST(doc_id AS STRING), '@example.com or +1-555-', "
    "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' from 10.', "
    "CAST(doc_id % 256 AS STRING), '.', CAST((doc_id * 7) % 256 AS STRING), "
    "'.', CAST((doc_id * 13) % 256 AS STRING)) ELSE text END"
)
_PII_INJECT_DUCK = (
    "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' contact user', "
    "CAST(doc_id AS VARCHAR), '@example.com or +1-555-', "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' from 10.', "
    "CAST(doc_id % 256 AS VARCHAR), '.', CAST((doc_id * 7) % 256 AS VARCHAR), "
    "'.', CAST((doc_id * 13) % 256 AS VARCHAR)) ELSE text END"
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII detection + redaction over the documents table: count
    emails / phone numbers / IPv4 addresses, and emit the scrubbed
    text's fingerprint (typed tags substituted in place).

    Scale shape: row-local regex work only (narrow plan, no shuffle);
    the whole operator runs inside whole-stage codegen as JVM regex
    calls, scaling linearly with input splits. Mirrors the redaction
    stage every training-data pipeline runs before tokenization.
    """
    from uber_data_pipeline_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_count_spark,
        pii_scrub_spark,
    )

    return docs.selectExpr(
        "doc_id", f"{_PII_INJECT_SPARK} AS raw_text"
    ).selectExpr(
        "doc_id",
        f"{pii_count_spark('raw_text', PII_EMAIL_RE)} AS n_emails",
        f"{pii_count_spark('raw_text', PII_PHONE_RE)} AS n_phones",
        f"{pii_count_spark('raw_text', PII_IPV4_RE)} AS n_ips",
        f"length({pii_scrub_spark('raw_text')}) AS scrubbed_len",
        f"md5({pii_scrub_spark('raw_text')}) AS scrubbed_md5",
    )


def sql_pii_scrub() -> str:
    """DuckDB twin of :func:`pii_scrub`."""
    from uber_data_pipeline_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        PII_PHONE_RE,
        pii_count_duck,
        pii_scrub_duck,
    )

    return f"""
        WITH injected AS (
            SELECT doc_id, {_PII_INJECT_DUCK} AS raw_text FROM documents
        )
        SELECT doc_id,
               {pii_count_duck("raw_text", PII_EMAIL_RE)} AS n_emails,
               {pii_count_duck("raw_text", PII_PHONE_RE)} AS n_phones,
               {pii_count_duck("raw_text", PII_IPV4_RE)} AS n_ips,
               length({pii_scrub_duck("raw_text")}) AS scrubbed_len,
               md5({pii_scrub_duck("raw_text")}) AS scrubbed_md5
        FROM injected
    """


# ------------------------------------------------------- quality buckets

QUALITY_BUCKET_QS = (0.33333333, 0.66666667)


def quality_buckets(docs: DataFrame) -> DataFrame:
    """CC-Net-style corpus partitioning: split documents into
    head/middle/tail tertiles of the quality score, with the
    cutpoints computed from the corpus itself.

    Scale shape: the cutpoints are ONE global aggregate reduced to a
    single row and broadcast back — no global sort, no global window.
    EXACT percentile collects values per reducer; at 100 TB swap in
    approx_percentile (mergeable t-digest, same call shape). The
    bucket assignment is then row-local.

    Determinism: the cutpoints go through CAST(.. AS DECIMAL(25,6)) —
    deterministic HALF_UP in both engines — NOT round(double, 6),
    whose tie-breaking differs between Spark (shortest-repr HALF_UP)
    and DuckDB (binary-value rounding) when a cutpoint lands on a
    .5e-7 representation boundary."""
    lo, hi = QUALITY_BUCKET_QS
    q = quality_scores(docs).select("doc_id", "quality_score")
    cuts = q.agg(
        F.expr(
            f"CAST(percentile(quality_score, {lo}) AS DECIMAL(25,6))"
        ).alias("c_low"),
        F.expr(
            f"CAST(percentile(quality_score, {hi}) AS DECIMAL(25,6))"
        ).alias("c_high"),
    )
    return q.crossJoin(F.broadcast(cuts)).selectExpr(
        "doc_id",
        "quality_score",
        "CASE WHEN quality_score < c_low THEN 'tail' "
        "WHEN quality_score < c_high THEN 'middle' "
        "ELSE 'head' END AS bucket",
    )


def sql_quality_buckets(quality_cte: str) -> str:
    """DuckDB twin of :func:`quality_buckets`; takes the shared
    quality CTE so the score pipeline is defined once."""
    lo, hi = QUALITY_BUCKET_QS
    return f"""
        WITH {quality_cte},
        cuts AS (
            SELECT CAST(quantile_cont(quality_score, {lo}) AS DECIMAL(25,6)) AS c_low,
                   CAST(quantile_cont(quality_score, {hi}) AS DECIMAL(25,6)) AS c_high
            FROM quality
        )
        SELECT doc_id, quality_score,
               CASE WHEN quality_score < c_low THEN 'tail'
                    WHEN quality_score < c_high THEN 'middle'
                    ELSE 'head' END AS bucket
        FROM quality CROSS JOIN cuts
    """


# ------------------------------------------------- DSIR importance weights

DSIR_TARGET_LANG = "en"


def dsir_weights(docs: DataFrame, target_lang: str = DSIR_TARGET_LANG) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023)
    reduced to its deterministic unigram core: per-document importance
    weight = mean over tokens of the Laplace-smoothed ratio between
    the token's probability in the TARGET corpus (here: docs labeled
    `target_lang`) and in the RAW corpus. Documents that look like the
    target domain get weight > 1 and survive resampling.

    Determinism contract: each per-token ratio is computed from exact
    integer counts with ONE double division, rounded to 9 decimals,
    then summed as DECIMAL (order-free); the final mean is one more
    exact-integer division. No transcendental functions, so Spark and
    DuckDB agree bit-for-bit.

    Scale shape: two vocabulary aggregates (raw + target) are
    map-side-combined groupBys over exploded tokens; both reduce to
    ~vocab-size frames that join token-to-token (broadcast when the
    vocab is small); the per-doc reduction is one groupBy on doc_id.
    The 1-row corpus totals broadcast."""
    toks = docs.selectExpr("doc_id", "lang", f"explode({TOKENS_SPARK}) AS token")
    raw_vocab = toks.groupBy("token").agg(F.count("*").alias("tf_raw"))
    tgt_vocab = (
        toks.filter(F.col("lang") == target_lang)
        .groupBy("token")
        .agg(F.count("*").alias("tf_tgt"))
    )
    vocab = raw_vocab.join(tgt_vocab, "token", "left").fillna(0, ["tf_tgt"])
    totals = vocab.agg(
        F.sum("tf_raw").alias("total_raw"),
        F.sum("tf_tgt").alias("total_tgt"),
        F.count("*").alias("vocab_size"),
    )
    # Laplace(+1) smoothed probability ratio, exact-int numerator and
    # denominator (all products < 2^53 at any SF we run). The ratio is
    # cast (not round()ed) to decimal: double->decimal casting is
    # deterministic HALF_UP in both engines, while round(double, k)
    # diverges on representation boundaries (see functions/numeric.py)
    ratio = (
        "((tf_tgt + 1) * (total_raw + vocab_size)) / "
        "((tf_raw + 1) * (total_tgt + vocab_size))"
    )
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "doc_id",
            f"CAST({ratio} AS DECIMAL(28,9)) AS token_ratio",
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("token_ratio").alias("sum_ratio"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            # the mean sits EXACTLY on .5e-9 ties for some docs (the
            # sum is a 9-decimal grid value divided by a small int), so
            # round(double) is not tie-safe. Half-up in pure integer
            # arithmetic instead: floor((2s+n)/2n) of the 1e9-scaled
            # sum is exact in both engines.
            "CAST(sum_ratio * 1000000000 AS BIGINT) AS sum_e9",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "CAST((2 * sum_e9 + n_tokens) DIV (2 * n_tokens) AS DOUBLE)"
            " / 1000000000.0 AS dsir_weight",
        )
    )


def sql_dsir_weights(target_lang: str = DSIR_TARGET_LANG) -> str:
    """DuckDB twin of :func:`dsir_weights`."""
    return f"""
        WITH toks AS (
            SELECT doc_id, lang, t.token
            FROM (SELECT doc_id, lang, {TOKENS_DUCK} AS tokens FROM documents),
                 unnest(tokens) AS t(token)
        ), raw_vocab AS (
            SELECT token, COUNT(*) AS tf_raw FROM toks GROUP BY 1
        ), tgt_vocab AS (
            SELECT token, COUNT(*) AS tf_tgt FROM toks
            WHERE lang = '{target_lang}' GROUP BY 1
        ), vocab AS (
            SELECT r.token, r.tf_raw, COALESCE(t.tf_tgt, 0) AS tf_tgt
            FROM raw_vocab r LEFT JOIN tgt_vocab t USING (token)
        ), totals AS (
            SELECT CAST(SUM(tf_raw) AS BIGINT) AS total_raw,
                   CAST(SUM(tf_tgt) AS BIGINT) AS total_tgt,
                   COUNT(*) AS vocab_size
            FROM vocab
        ), scored AS (
            SELECT doc_id,
                   CAST(((tf_tgt + 1) * (total_raw + vocab_size)) /
                        ((tf_raw + 1) * (total_tgt + vocab_size))
                        AS DECIMAL(28,9)) AS token_ratio
            FROM toks JOIN vocab USING (token) CROSS JOIN totals
        )
        , per_doc AS (
            SELECT doc_id, COUNT(*) AS n_tokens,
                   CAST(SUM(token_ratio) * 1000000000 AS BIGINT) AS sum_e9
            FROM scored
            GROUP BY 1
        )
        SELECT doc_id, n_tokens,
               CAST((2 * sum_e9 + n_tokens) // (2 * n_tokens) AS DOUBLE)
                   / 1000000000.0 AS dsir_weight
        FROM per_doc
    """


# ----------------------------------------------------------- sentiment

# domain polarity lexicon (performance sentiment over the synthetic
# database-vocabulary corpus; a real deployment drops in AFINN/VADER
# wordlists — the operator shape is identical)
SENTIMENT_POS = ("fast", "small", "merge", "hit")
SENTIMENT_NEG = ("slow", "big", "dup", "spill")


def _wordlist_count(words: tuple[str, ...], tokens: str = "tokens") -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({tokens}, x -> x IN ({lst})))"


def _wordlist_count_duck(words: tuple[str, ...], tokens: str = "tokens") -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tokens}, x -> x IN ({lst})))"


def sentiment_scores(docs: DataFrame) -> DataFrame:
    """Lexicon-based sentiment scoring (the EDBT'16 Spark-sentiment
    shape): per document, positive/negative lexicon hit counts and the
    normalized polarity score (pos - neg)/n_tokens with a sign label.

    Scale shape: pure row-local array expressions — no shuffle, fully
    whole-stage-codegen'd, linear in input splits. The score is ONE
    division of exact integer counts, so both engines round
    identically."""
    return docs.selectExpr(
        "doc_id", f"{TOKENS_SPARK} AS tokens"
    ).selectExpr(
        "doc_id",
        "size(tokens) AS n_tokens",
        f"{_wordlist_count(SENTIMENT_POS)} AS n_pos",
        f"{_wordlist_count(SENTIMENT_NEG)} AS n_neg",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "n_pos",
        "n_neg",
        # zero-token guard: unguarded, Spark's non-ANSI x/0 yields NULL
        # but DuckDB yields NaN — guard both twins identically
        "CASE WHEN n_tokens = 0 THEN NULL "
        "ELSE round((n_pos - n_neg) / CAST(n_tokens AS DOUBLE), 6) END AS polarity",
        "CASE WHEN n_pos > n_neg THEN 'positive' "
        "WHEN n_pos < n_neg THEN 'negative' ELSE 'neutral' END AS label",
    )


def sql_sentiment_scores() -> str:
    """DuckDB twin of :func:`sentiment_scores`."""
    return f"""
        WITH tok AS (
            SELECT doc_id, {TOKENS_DUCK} AS tokens FROM documents
        ), counts AS (
            SELECT doc_id,
                   CAST(len(tokens) AS INT) AS n_tokens,
                   CAST({_wordlist_count_duck(SENTIMENT_POS)} AS INT) AS n_pos,
                   CAST({_wordlist_count_duck(SENTIMENT_NEG)} AS INT) AS n_neg
            FROM tok
        )
        SELECT doc_id, n_tokens, n_pos, n_neg,
               CASE WHEN n_tokens = 0 THEN NULL
                    ELSE ROUND((n_pos - n_neg) / CAST(n_tokens AS DOUBLE), 6)
               END AS polarity,
               CASE WHEN n_pos > n_neg THEN 'positive'
                    WHEN n_pos < n_neg THEN 'negative'
                    ELSE 'neutral' END AS label
        FROM counts
    """


# ------------------------------------------------------ BPE merge step

BPE_TOP_K = 20


def bpe_merge_step(docs: DataFrame, top_k: int = BPE_TOP_K) -> DataFrame:
    """One training step of byte-pair encoding: count adjacent
    character pairs across the corpus and surface the top merge
    candidates — the inner loop of building a BPE tokenizer vocabulary
    (each accepted merge re-runs this count on the re-segmented
    corpus).

    Classic BPE trick encoded in the plan: counts run over the WORD
    FREQUENCY DICTIONARY, not raw text — words are reduced first (one
    map-side-combined groupBy), then each DISTINCT word expands into
    its length-1 adjacent pairs weighted by the word's count. At
    corpus scale the dictionary is orders of magnitude smaller than
    the token stream, so the pair expansion touches vocabulary-sized
    data. Both aggregates are partial; top-k is a TakeOrdered epilogue
    with a deterministic (count DESC, pair ASC) tie-break.

    Columns: pair (the 2-char window), n (corpus occurrences).
    """
    from uber_data_pipeline_spark.functions.text import TOKENS_SPARK

    words = (
        docs.selectExpr(f"explode({TOKENS_SPARK}) AS w")
        .filter("length(w) >= 2")
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    pairs = words.selectExpr(
        "explode(transform(sequence(1, length(w) - 1), "
        "i -> substring(w, i, 2))) AS pair",
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(top_k)
    )


def sql_bpe_merge_step(table: str = "documents", top_k: int = BPE_TOP_K) -> str:
    from uber_data_pipeline_spark.functions.text import TOKENS_DUCK

    return f"""
        WITH words AS (
            SELECT w, COUNT(*) AS wc FROM (
                SELECT unnest({TOKENS_DUCK}) AS w FROM {table}
            ) WHERE length(w) >= 2 GROUP BY w
        ), pairs AS (
            SELECT unnest(list_transform(range(1, length(w)),
                          i -> substring(w, i, 2))) AS pair,
                   wc
            FROM words
        )
        SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair LIMIT {top_k}
    """


# ---------------------------------------------------------- bigram LM


def bigram_typicality(docs: DataFrame) -> DataFrame:
    """Bigram-LM typicality: each document scored by the average
    corpus-level conditional probability of its word bigrams,
    avg over bigrams of p(w2|w1) = c(w1 w2) / c(w1 ·) — the
    sequence-aware upgrade of `text_unigram_lm`'s unigram score
    (fluent/templated text scores high, shuffled or OCR-garbled text
    low). No logarithms on purpose: libm ln() is the one primitive
    the twin engines only probably agree on, while c_b / c_w is ONE
    IEEE division of exact integers — identical everywhere — and the
    per-doc average goes through the standard decimal-exact sum.

    Scale shape (r13): the tokenize + bigram explode — the dominant
    CPU pass on a text corpus — runs ONCE, not three times: one
    (doc_id, w1, w2) aggregation with per-doc multiplicities is
    cached and feeds (a) the corpus bigram counts, (b) the context
    counts cw DERIVED from cb by a second vocab-sized aggregation
    (sum of cb over w1 == count of bigram occurrences per w1, so no
    second corpus pass), and (c) the per-doc probe side, which now
    joins deduped (doc, bigram) rows instead of every occurrence.
    The per-occurrence decimal sum is preserved exactly: n identical
    decimal(25,6) values sum to n * that decimal (integer x decimal
    multiplication is exact), so psum is bit-identical to the
    occurrence-grain fold. Measured 3.6-4.0 -> 2.2 s at sf1 (neutral
    at sf0.1), identical result hash. Join keys stay bigram/context
    (vocabulary-sized relations, never broadcast at corpus scale).

    Columns: doc_id, n_bigrams, avg_cond_p (round 6)."""
    from uber_data_pipeline_spark.functions.text import TOKENS_SPARK
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    toks = spread_rowlocal(docs).selectExpr(
        "doc_id", f"{TOKENS_SPARK} AS tokens"
    )
    # sequence(1, 0) is DESCENDING in Spark, so a <2-token doc would
    # index element_at(tokens, 2) and crash — guard like shingles_spark
    bigrams = toks.selectExpr(
        "doc_id",
        "explode(CASE WHEN size(tokens) >= 2 "
        "THEN transform(sequence(1, size(tokens) - 1), "
        "i -> struct(element_at(tokens, i) AS w1, "
        "element_at(tokens, i + 1) AS w2)) "
        "ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END) AS b",
    ).select("doc_id", "b.w1", "b.w2")
    dgrams = (
        bigrams.groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("n"))
        .cache()
    )
    cb = dgrams.groupBy("w1", "w2").agg(F.sum("n").alias("cb"))
    cw = cb.groupBy("w1").agg(F.sum("cb").alias("cw"))
    scored = (
        dgrams.join(cb, ["w1", "w2"])
        .join(cw, ["w1"])
        .selectExpr("doc_id", "n", "CAST(cb AS DOUBLE) / cw AS p")
    )
    # explicit IEEE half-up for the final average: round(double, 6)
    # breaks representation-boundary ties differently per engine
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("p").cast("decimal(25,6)")).alias("psum"),
        )
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "floor(CAST(psum AS DOUBLE) / n_bigrams * 1000000 + 0.5)"
            " / 1000000 AS avg_cond_p",
        )
    )


def sql_bigram_typicality(table: str = "documents") -> str:
    from uber_data_pipeline_spark.functions.text import TOKENS_DUCK

    return f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table}
        ), bigrams AS (
            SELECT doc_id, b.w1, b.w2 FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(tokens)),
                           i -> struct_pack(w1 := tokens[i],
                                            w2 := tokens[i + 1]))) AS b
                FROM toks
            )
        ), cb AS (
            SELECT w1, w2, COUNT(*) AS cb FROM bigrams GROUP BY 1, 2
        ), cw AS (
            SELECT w1, COUNT(*) AS cw FROM bigrams GROUP BY 1
        ), scored AS (
            SELECT b.doc_id, CAST(cb.cb AS DOUBLE) / cw.cw AS p
            FROM bigrams b
            JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
            JOIN cw ON cw.w1 = b.w1
        )
        SELECT doc_id, COUNT(*) AS n_bigrams,
               floor(CAST(SUM(CAST(p AS DECIMAL(25,6))) AS DOUBLE)
                     / COUNT(*) * 1000000 + 0.5) / 1000000 AS avg_cond_p
        FROM scored GROUP BY doc_id
    """


# ---------------------------------------------------- BPE encode step

BPE_APPLY_K = 20


# Fixpoint passes per merge. replace() is left-to-right NON-OVERLAPPING,
# and consecutive occurrences of the same pair share their '|' boundary
# ('|a|b|a|b|'): one pass merges only alternate occurrences of a chain.
# Each pass merges at least half of the remaining chain, and a merge can
# never CREATE a new occurrence (the pattern '|x|y|' matches single-char
# units only; a merged unit is 2 chars), so ceil(log2(word_len)) passes
# reach the fixpoint — 8 covers words up to 256 chars.
BPE_FIX_PASSES = 8


def _bpe_fold_spark(word_col: str = "w") -> str:
    """Spark-side fold applying the merge list in priority order to a
    boundary-guarded unit string ('|h|e|l|l|o|'): each merge 'xy'
    rewrites '|x|y|' -> '|xy|', iterated ``BPE_FIX_PASSES`` times so
    boundary-sharing chains ('|a|b|a|b|') merge exhaustively — true
    BPE applies each merge to a fixpoint, and the pass count bounds
    that fixpoint (see BPE_FIX_PASSES). The '|' guards make unit
    boundaries unambiguous (a merged 'll' can never half-match a
    later 'l o' merge). The DuckDB twin nests the identical passes."""
    init = (
        f"concat('|', concat_ws('|', transform(sequence(1, length({word_col})), "
        f"i -> substring({word_col}, i, 1))), '|')"
    )
    body = "acc"
    for _ in range(BPE_FIX_PASSES):
        body = (
            f"replace({body}, "
            "concat('|', substring(m, 1, 1), '|', substring(m, 2, 1), '|'), "
            "concat('|', m, '|'))"
        )
    return f"aggregate(merges, {init}, (acc, m) -> {body})"


def bpe_encode(docs: DataFrame, top_k: int = BPE_APPLY_K) -> DataFrame:
    """Apply the first round of learned BPE merges (the
    :func:`bpe_merge_step` top-k, priority = count desc) to the corpus
    and report per-document unit counts: doc_id, n_tokens,
    n_char_units (pre-merge units = characters), n_bpe_units
    (post-merge), units_saved.

    The BPE-apply trick in plan form: encoding runs over the DISTINCT
    WORD DICTIONARY, not the token stream — at corpus scale the
    vocabulary is orders of magnitude smaller, and the stream just
    joins (shuffle on word) against the encoded dictionary. The merge
    list is a 1-row array built ENGINE-SIDE (sorted collect over the
    top-k aggregate — no driver collect) and broadcast onto the
    dictionary; the apply itself is a higher-order fold inside
    whole-stage codegen. Merges stay 2-char (one mining round);
    deeper vocabularies iterate merge-step + encode."""
    from uber_data_pipeline_spark.functions.text import TOKENS_SPARK

    merges_row = (
        bpe_merge_step(docs, top_k)
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(-n AS negn, pair))), "
                "x -> x.pair) AS merges"
            )
        )
    )
    word_dict = (
        docs.selectExpr(f"explode({TOKENS_SPARK}) AS w")
        .filter("length(w) >= 1")
        .distinct()
    )
    enc = (
        word_dict.crossJoin(F.broadcast(merges_row))
        .selectExpr("w", f"{_bpe_fold_spark('w')} AS e")
        .selectExpr(
            "w",
            "length(w) AS n_chars",
            "CAST(length(e) - length(replace(e, '|', '')) - 1 AS BIGINT) AS n_units",
        )
    )
    stream = docs.selectExpr("doc_id", f"explode({TOKENS_SPARK}) AS w").filter(
        "length(w) >= 1"
    )
    return (
        stream.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_char_units"),
            F.sum("n_units").cast("long").alias("n_bpe_units"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_char_units",
            "n_bpe_units",
            "n_char_units - n_bpe_units AS units_saved",
        )
    )


def sql_bpe_encode(table: str = "documents", top_k: int = BPE_APPLY_K) -> str:
    from uber_data_pipeline_spark.functions.text import TOKENS_DUCK

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
    return f"""
        WITH words AS (
            SELECT w, COUNT(*) AS wc FROM (
                SELECT unnest({TOKENS_DUCK}) AS w FROM {table}
            ) WHERE length(w) >= 2 GROUP BY w
        ), pairs AS (
            SELECT unnest(list_transform(range(1, length(w)),
                          i -> substring(w, i, 2))) AS pair,
                   wc
            FROM words
        ), topk AS (
            SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
            FROM pairs GROUP BY pair
            ORDER BY n DESC, pair LIMIT {top_k}
        ), marr AS (
            SELECT list(pair ORDER BY n DESC, pair) AS merges FROM topk
        ), dict AS (
            SELECT DISTINCT unnest({TOKENS_DUCK}) AS w FROM {table}
        ), enc AS (
            SELECT w, length(w) AS n_chars,
                   CAST(length(e) - length(replace(e, '|', '')) - 1 AS BIGINT)
                       AS n_units
            FROM (SELECT w, {fold} AS e FROM dict, marr WHERE length(w) >= 1)
        ), stream AS (
            SELECT doc_id, t.w FROM (
                SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table}
            ), unnest(tokens) AS t(w)
            WHERE length(t.w) >= 1
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS n_char_units,
               CAST(SUM(n_units) AS BIGINT) AS n_bpe_units,
               CAST(SUM(n_chars) - SUM(n_units) AS BIGINT) AS units_saved
        FROM stream JOIN enc USING (w)
        GROUP BY doc_id
    """


# ------------------------------------------------- WordPiece (r13)

WP_PIECE_K = 512  # vocab pieces kept per class (start / continuation)
WP_MAX_PIECE = 4  # longest mined piece, chars


def _wp_fold_spark(w: str) -> str:
    """Greedy longest-match-first WordPiece encode of word column
    ``w`` as one higher-order fold: accumulator struct(pos, n, unk);
    each of length(w) iterations advances pos by the LONGEST vocab
    piece (4..1 chars) of the position's class — start pieces at
    pos 1, continuation pieces after — or trips the unk flag (the
    whole-word [UNK] rule). Piece arrays `sa` / `ca` are outer
    columns from the 1-row vocab broadcast."""
    probes = []
    for ln in range(WP_MAX_PIECE, 0, -1):
        guard = (
            f"acc.pos + {ln - 1} <= length({w}) AND "
            if ln > 1
            else ""
        )
        probes.append(
            f"WHEN {guard}array_contains("
            "CASE WHEN acc.pos = 1 THEN sa ELSE ca END, "
            f"substring({w}, acc.pos, {ln})) THEN "
            f"named_struct('pos', acc.pos + {ln}, 'n', acc.n + 1, "
            "'unk', false)"
        )
    match = (
        "CASE "
        + " ".join(probes)
        + " ELSE named_struct('pos', acc.pos, 'n', acc.n, 'unk', true) END"
    )
    return (
        f"aggregate(sequence(1, length({w})), "
        "named_struct('pos', 1, 'n', 0, 'unk', false), "
        f"(acc, s) -> CASE WHEN acc.unk OR acc.pos > length({w}) "
        f"THEN acc ELSE {match} END)"
    )


def wordpiece_encode(docs: DataFrame, k: int = WP_PIECE_K) -> DataFrame:
    """WordPiece tokenization census (Wu et al. 2016, the BERT-family
    subword algorithm) — the OTHER major tokenizer next to the BPE
    trio: a two-class vocabulary (word-START pieces vs ##continuation
    pieces) is mined from the corpus, then every word is encoded by
    GREEDY LONGEST-MATCH-FIRST — repeatedly take the longest vocab
    piece at the cursor for the cursor's class; a position with no
    match (even 1 char) collapses the whole word to [UNK], exactly
    the reference algorithm's failure rule.

    Vocabulary (deterministic, derived in-plan): every substring of
    length 1..4 of every dictionary word, weighted by the word's
    stream count, classed by start position; top-k per class by
    (weight DESC, piece ASC). Rare characters fall outside the top-k,
    so [UNK] is a real outcome, not a dead column.

    Plan shape (the bpe_encode dictionary trick): mining and encoding
    run over the DISTINCT word dictionary; the token stream only
    joins the encoded dictionary by word. The two piece arrays ride
    ONE broadcast row built engine-side (sorted collect over the
    ranked aggregate — no driver collect); the greedy loop is a
    higher-order fold inside whole-stage codegen, row-local over the
    dictionary.

    Columns: doc_id, n_tokens, n_wp_units, n_unk_words,
    fertility_micro (units * 1e6 DIV tokens; [UNK] words count 1
    unit)."""
    from pyspark.sql import Window

    from uber_data_pipeline_spark.functions.text import TOKENS_SPARK

    stream = docs.selectExpr(
        "doc_id", f"explode({TOKENS_SPARK}) AS w"
    ).filter("length(w) >= 1")
    words = stream.groupBy("w").agg(F.count("*").alias("wc"))
    pieces = (
        words.selectExpr(
            "wc",
            "explode(flatten(transform(sequence(1, length(w)), "
            f"i -> transform(sequence(1, least({WP_MAX_PIECE}, "
            "length(w) - i + 1)), "
            "l -> struct(substring(w, i, l) AS p, i = 1 AS is_start)"
            ")))) AS pc",
        )
        .selectExpr("pc.p AS p", "pc.is_start AS is_start", "wc")
        .groupBy("p", "is_start")
        .agg(F.sum("wc").alias("n"))
    )
    rk = Window.partitionBy("is_start").orderBy(
        F.col("n").desc(), F.col("p").asc()
    )
    kept = pieces.withColumn("rk", F.row_number().over(rk)).filter(
        F.col("rk") <= k
    )
    vocab_row = (
        kept.groupBy()
        .agg(
            F.expr(
                "transform(sort_array(collect_list(CASE WHEN is_start "
                "THEN struct(-n AS negn, p) END)), x -> x.p) AS sa"
            ),
            F.expr(
                "transform(sort_array(collect_list(CASE WHEN NOT is_start "
                "THEN struct(-n AS negn, p) END)), x -> x.p) AS ca"
            ),
        )
    )
    enc = (
        words.select("w")
        .crossJoin(F.broadcast(vocab_row))
        .selectExpr("w", f"{_wp_fold_spark('w')} AS e")
        .selectExpr(
            "w",
            "CASE WHEN e.unk THEN CAST(1 AS BIGINT) "
            "ELSE CAST(e.n AS BIGINT) END AS n_units",
            "CAST(e.unk AS INT) AS is_unk",
        )
    )
    return (
        stream.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("n_units").cast("long").alias("n_wp_units"),
            F.sum("is_unk").cast("long").alias("n_unk_words"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_wp_units",
            "n_unk_words",
            "n_wp_units * 1000000 DIV n_tokens AS fertility_micro",
        )
    )


def sql_wordpiece_encode(
    table: str = "documents", k: int = WP_PIECE_K
) -> str:
    """DuckDB twin of :func:`wordpiece_encode`. The greedy loop is a
    SET-BASED recursive CTE over (word, cursor) — each iteration
    advances every live word by its LONGEST matching piece (a MAX of
    matching piece lengths against the ranked vocab table, the same
    longest-first rule as the Spark fold's probe order) or marks it
    [UNK]. Deliberately NO lambda: referencing a correlated column
    (the vocab arrays) inside a DuckDB list_reduce lambda evaluates
    nondeterministically under vectorized execution (observed: the
    4-char probe flapping per connection), so the twin stays in
    plain joins."""
    from uber_data_pipeline_spark.functions.text import TOKENS_DUCK

    return f"""
        WITH RECURSIVE stream AS (
            SELECT doc_id, t.w FROM (
                SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table}
            ), unnest(tokens) AS t(w)
            WHERE length(t.w) >= 1
        ), words AS (
            SELECT w, COUNT(*) AS wc FROM stream GROUP BY w
        ), pieces AS (
            SELECT p, is_start, CAST(SUM(wc) AS BIGINT) AS n FROM (
                SELECT substring(w, i.i, l.l) AS p, i.i = 1 AS is_start,
                       wc
                FROM words,
                     LATERAL (SELECT unnest(range(1, length(w) + 1))
                              AS i) i,
                     LATERAL (SELECT unnest(range(1, least({WP_MAX_PIECE},
                              length(w) - i.i + 1) + 1)) AS l) l
            ) GROUP BY p, is_start
        ), kept AS MATERIALIZED (
            SELECT p, is_start FROM (
                SELECT p, is_start,
                       ROW_NUMBER() OVER (PARTITION BY is_start
                           ORDER BY n DESC, p) AS rk
                FROM pieces
            ) WHERE rk <= {k}
        ), matches AS MATERIALIZED (
            -- longest matching vocab piece per (word, cursor), class
            -- by cursor: ONE plain equi-join, computed before the
            -- walk (correlated subqueries and lambdas inside the
            -- recursion are the nondeterminism trap)
            SELECT s.w, s.pos, CAST(MAX(length(k.p)) AS BIGINT) AS best
            FROM (
                SELECT w, i.i AS pos,
                       substring(w, CAST(i.i AS INT), l.l) AS sub,
                       i.i = 1 AS is_start
                FROM words,
                     LATERAL (SELECT unnest(range(1, length(w) + 1))
                              AS i) i,
                     LATERAL (SELECT unnest(range(1, least({WP_MAX_PIECE},
                              length(w) - i.i + 1) + 1)) AS l) l
            ) s
            JOIN kept k
              ON k.is_start = s.is_start AND k.p = s.sub
            GROUP BY s.w, s.pos
        ), walk AS (
            SELECT w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n,
                   false AS unk
            FROM words
            UNION ALL
            SELECT r.w,
                   CASE WHEN m.best IS NULL THEN r.pos
                        ELSE r.pos + m.best END,
                   CASE WHEN m.best IS NULL THEN r.n ELSE r.n + 1 END,
                   m.best IS NULL
            FROM walk r
            LEFT JOIN matches m ON m.w = r.w AND m.pos = r.pos
            WHERE NOT r.unk AND r.pos <= length(r.w)
        ), enc AS (
            SELECT w,
                   CASE WHEN unk THEN CAST(1 AS BIGINT) ELSE n END
                       AS n_units,
                   CASE WHEN unk THEN 1 ELSE 0 END AS is_unk
            FROM walk
            WHERE unk OR pos > length(w)
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(n_units) AS BIGINT) AS n_wp_units,
               CAST(SUM(is_unk) AS BIGINT) AS n_unk_words,
               CAST(SUM(n_units) * 1000000 // COUNT(*) AS BIGINT)
                   AS fertility_micro
        FROM stream JOIN enc USING (w)
        GROUP BY doc_id
    """


# ------------------------------------------------------- Python UDTF

UDTF_TOP_BIGRAMS = 20


def udtf_top_bigrams(docs: DataFrame, top_k: int = UDTF_TOP_BIGRAMS) -> DataFrame:
    """Corpus top-k word bigrams through a PYTHON UDTF (Spark 4
    `@udtf`, Arrow-optimized) applied with a SQL LATERAL join — the
    table-function extension point, exercised end-to-end: register,
    lateral-expand one row into N, aggregate the expansion.

    Honest placement per the repo's UDF policy: a row-python table
    function is the SLOW PATH — the expression-only twin of this
    exact query is `text_bigram_lm`'s bigram build (transform +
    explode, whole-stage codegen), and THAT is the 100 TB shape.
    This entry exists to prove the API surface with the same
    engine-neutral semantics (whitespace tokens, count desc / gram
    asc top-k), verified against the same DuckDB oracle as the
    native form would be. `useArrow=True` batches rows through
    Arrow, the UDTF yields (doc_id, gram) pairs, and everything
    after it is ordinary JVM-side aggregation."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, gram string", useArrow=True)
    class BigramUDTF:
        def eval(self, doc_id, text):  # noqa: ANN001
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield doc_id, toks[i] + " " + toks[i + 1]

    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    spark = docs.sparkSession
    spark.udtf.register("udp_bigram_udtf", BigramUDTF)
    return spark.sql(
        f"""
        SELECT gram,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS doc_freq
        FROM {{d}} d, LATERAL udp_bigram_udtf(d.doc_id, d.text) g
        GROUP BY gram
        ORDER BY n DESC, gram ASC
        LIMIT {top_k}
        """,
        d=spread_rowlocal(docs.select("doc_id", "text")),
    )


def sql_udtf_top_bigrams(
    table: str = "documents", top_k: int = UDTF_TOP_BIGRAMS
) -> str:
    from uber_data_pipeline_spark.functions.text import TOKENS_DUCK

    return f"""
        WITH grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(tokens), 1)),
                          i -> tokens[i] || ' ' || tokens[i + 1])) AS gram
            FROM (SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table})
        )
        SELECT gram,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM grams
        GROUP BY gram
        ORDER BY n DESC, gram ASC
        LIMIT {top_k}
    """


# ---- fixed-size overlapping chunk windows ----------------------------

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def chunk_windows(
    docs: DataFrame, size: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split every document into fixed-size overlapping token windows
    — the retrieval/context-packing chunker every RAG and long-context
    training pipeline runs before embedding: chunk i covers tokens
    [1 + i*stride, 1 + i*stride + size), the final chunk may run
    short, and a document shorter than one window yields exactly one
    chunk. n_chunks = ceil((len - size) / stride) + 1 (len > size).

    Plan shape: row-local explode of a per-document chunk-index
    sequence + slice — no shuffle at all; the operator is a pure
    map at any corpus size, and chunk counts are bounded by
    len/stride per document.

    Returns: doc_id, chunk_idx, start_pos (1-based), n_tokens,
    chunk_hash (md5 of the space-joined window)."""
    return (
        docs.selectExpr("doc_id", "split(text, ' ') AS toks")
        .selectExpr(
            "doc_id",
            "toks",
            f"CASE WHEN size(toks) <= {size} THEN 1 ELSE "
            f"CAST(ceil((size(toks) - {size}) / CAST({stride} AS DOUBLE))"
            f" AS INT) + 1 END AS n_chunks",
        )
        .selectExpr(
            "doc_id",
            "toks",
            "explode(sequence(0, n_chunks - 1)) AS chunk_idx",
        )
        .selectExpr(
            "doc_id",
            "chunk_idx",
            f"chunk_idx * {stride} + 1 AS start_pos",
            f"slice(toks, chunk_idx * {stride} + 1, {size}) AS chunk",
        )
        .selectExpr(
            "doc_id",
            "chunk_idx",
            "CAST(start_pos AS BIGINT) AS start_pos",
            "CAST(size(chunk) AS BIGINT) AS n_tokens",
            "md5(concat_ws(' ', chunk)) AS chunk_hash",
        )
    )


def sql_chunk_windows(
    table: str = "documents",
    size: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> str:
    """DuckDB twin of :func:`chunk_windows`."""
    return f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM {table}
        ), counted AS (
            SELECT doc_id, toks,
                   CASE WHEN len(toks) <= {size} THEN 1 ELSE
                        CAST(ceil((len(toks) - {size})
                                  / CAST({stride} AS DOUBLE)) AS INT) + 1
                   END AS n_chunks
            FROM toks
        ), chunks AS (
            SELECT doc_id, g.i AS chunk_idx,
                   list_slice(toks, g.i * {stride} + 1,
                              g.i * {stride} + {size}) AS chunk
            FROM counted, unnest(range(0, n_chunks)) AS g(i)
        )
        SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(chunk_idx * {stride} + 1 AS BIGINT) AS start_pos,
               CAST(len(chunk) AS BIGINT) AS n_tokens,
               md5(array_to_string(chunk, ' ')) AS chunk_hash
        FROM chunks
    """


# ---- tokenizer fertility / vocabulary coverage --------------------------

FERTILITY_VOCAB_K = 64


def tokenizer_fertility(docs: DataFrame, k: int = FERTILITY_VOCAB_K) -> DataFrame:
    """Per-language tokenizer-fit report — the census run before
    committing a tokenizer to a multilingual corpus: fertility (BPE-ish
    regex tokens per whitespace word — high fertility means the
    tokenizer shreds that language into fragments), chars per word,
    and the OOV occurrence share against the corpus-global top-k
    vocabulary (the fraction of token occurrences a k-entry vocab
    would miss, per language).

    Plan shape at 100 TB: ONE explode feeds a map-side partial
    aggregate to the (lang, token) relation — hot tokens combine
    before the shuffle, so the shuffle carries distinct (lang, token)
    rows, not occurrences. The global vocab is a TakeOrdered over the
    further-reduced token relation and joins back BROADCAST (k rows);
    everything downstream runs on reduced relations. Ties at the
    vocab boundary break on the token string in both engines.

    Output (1 row per lang): lang, n_docs, n_words, n_regex_tokens,
    n_chars, fertility, chars_per_word, oov_share."""
    base = docs.selectExpr(
        "doc_id",
        "lang",
        "n_chars",
        f"size({TOKENS_SPARK}) AS n_words",
        f"{REGEX_TOKEN_COUNT_SPARK} AS n_regex",
    )
    per_lang = base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_regex").alias("n_regex_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    tokc = (
        docs.selectExpr("lang", f"explode({TOKENS_SPARK}) AS token")
        .groupBy("lang", "token")
        .agg(F.count("*").alias("occ"))
    )
    vocab = (
        tokc.groupBy("token")
        .agg(F.sum("occ").alias("occ"))
        .orderBy(F.desc("occ"), F.asc("token"))
        .limit(k)
        .select("token")
    )
    in_vocab = (
        tokc.join(F.broadcast(vocab), "token")
        .groupBy("lang")
        .agg(F.sum("occ").alias("n_in_vocab"))
    )
    return (
        per_lang.join(in_vocab, "lang", "left")
        .selectExpr(
            "lang",
            "n_docs",
            "n_words",
            "n_regex_tokens",
            "n_chars",
            "round(n_regex_tokens / CAST(n_words AS DOUBLE), 6) AS fertility",
            "round(n_chars / CAST(n_words AS DOUBLE), 6) AS chars_per_word",
            "round(1.0D - coalesce(n_in_vocab, 0) / CAST(n_words AS DOUBLE), 6)"
            " AS oov_share",
        )
    )


def sql_tokenizer_fertility(
    table: str = "documents", k: int = FERTILITY_VOCAB_K
) -> str:
    """DuckDB twin of :func:`tokenizer_fertility`."""
    return f"""
        WITH base AS (
            SELECT doc_id, lang, n_chars,
                   len({TOKENS_DUCK}) AS n_words,
                   {REGEX_TOKEN_COUNT_DUCK} AS n_regex
            FROM {table}
        ), per_lang AS (
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(n_words) AS BIGINT) AS n_words,
                   CAST(SUM(n_regex) AS BIGINT) AS n_regex_tokens,
                   CAST(SUM(n_chars) AS BIGINT) AS n_chars
            FROM base GROUP BY 1
        ), tokc AS (
            SELECT lang, t.token AS token, COUNT(*) AS occ
            FROM {table}, unnest({TOKENS_DUCK}) AS t(token)
            GROUP BY 1, 2
        ), vocab AS (
            SELECT token FROM tokc
            GROUP BY token
            ORDER BY SUM(occ) DESC, token ASC
            LIMIT {k}
        ), in_vocab AS (
            SELECT lang, CAST(SUM(occ) AS BIGINT) AS n_in_vocab
            FROM tokc JOIN vocab USING (token)
            GROUP BY 1
        )
        SELECT p.lang, p.n_docs, p.n_words, p.n_regex_tokens, p.n_chars,
               ROUND(p.n_regex_tokens / CAST(p.n_words AS DOUBLE), 6)
                   AS fertility,
               ROUND(p.n_chars / CAST(p.n_words AS DOUBLE), 6)
                   AS chars_per_word,
               ROUND(1.0 - COALESCE(v.n_in_vocab, 0)
                     / CAST(p.n_words AS DOUBLE), 6) AS oov_share
        FROM per_lang p LEFT JOIN in_vocab v ON v.lang = p.lang
    """


# ---- code-switching / chunk-level language mixture ----------------------

CS_CHUNK_TOKENS = 32


def code_switch_report(docs: DataFrame, size: int = CS_CHUNK_TOKENS) -> DataFrame:
    """Document-level code-switching census: language-ID every
    non-overlapping ``size``-token window, then report per document
    how mixed the language stream is — the filter a multilingual
    training pipeline runs before routing documents to per-language
    pipelines (doc-level langid alone mislabels mixed documents).

    Plan shape: the chunker is a row-local explode (no shuffle, same
    as chunk_windows), the per-chunk langid is the stopword-marker
    argmax (language_id above), and the per-document rollup is ONE
    groupBy doc_id whose collect_list is bounded by chunks-per-
    document (doc length / size) — never corpus-sized. Chunk order is
    restored with sort_array over (chunk_idx, pred) structs, so the
    switch count is deterministic under any partitioning.

    Output: doc_id, labeled_lang, n_chunks, n_langs, dominant_lang,
    dominant_share, n_switches, is_code_switched."""
    langs = ("en", "de", "fr", "es")
    scored = (
        docs.selectExpr(
            "doc_id",
            "lang AS labeled_lang",
            f"{TOKENS_SPARK} AS toks",
        )
        .selectExpr(
            "doc_id",
            "labeled_lang",
            "toks",
            f"greatest(1, CAST(ceil(size(toks) / CAST({size} AS DOUBLE))"
            f" AS INT)) AS n_chunks",
        )
        .selectExpr(
            "doc_id",
            "labeled_lang",
            "toks",
            "explode(sequence(0, n_chunks - 1)) AS chunk_idx",
        )
        .selectExpr(
            "doc_id",
            "labeled_lang",
            "chunk_idx",
            f"slice(toks, chunk_idx * {size} + 1, {size}) AS chunk",
        )
        .selectExpr(
            "doc_id",
            "labeled_lang",
            "chunk_idx",
            *[
                f"{stopword_count_spark(lg, 'chunk')} AS s_{lg}"
                for lg in langs
            ],
        )
        .selectExpr(
            "doc_id",
            "labeled_lang",
            "chunk_idx",
            f"{langid_case({lg: f's_{lg}' for lg in langs})} AS pred",
        )
    )
    agg = scored.groupBy("doc_id", "labeled_lang").agg(
        F.count("*").alias("n_chunks"),
        F.expr(
            "transform(sort_array(collect_list(struct(chunk_idx, pred))),"
            " s -> s.pred)"
        ).alias("preds"),
    )
    cnt = ", ".join(
        f"size(filter(preds, x -> x = '{lg}'))" for lg in langs
    )
    return agg.selectExpr(
        "doc_id",
        "labeled_lang",
        "CAST(n_chunks AS BIGINT) AS n_chunks",
        f"CAST(size(filter(array({cnt}), c -> c > 0)) AS INT) AS n_langs",
        langid_case(
            {lg: f"size(filter(preds, x -> x = '{lg}'))" for lg in langs}
        )
        + " AS dominant_lang",
        f"round(greatest({cnt}) / CAST(n_chunks AS DOUBLE), 6)"
        " AS dominant_share",
        "CAST(CASE WHEN size(preds) <= 1 THEN 0 ELSE"
        " size(filter(sequence(1, size(preds) - 1),"
        " i -> element_at(preds, CAST(i AS INT))"
        " != element_at(preds, CAST(i + 1 AS INT)))) END AS INT)"
        " AS n_switches",
        f"size(filter(array({cnt}), c -> c > 0)) > 1 AS is_code_switched",
    )


def sql_code_switch_report(
    table: str = "documents", size: int = CS_CHUNK_TOKENS
) -> str:
    """DuckDB twin of :func:`code_switch_report`."""
    from uber_data_pipeline_spark.functions.text import stopword_count_duck

    langs = ("en", "de", "fr", "es")
    score_cols = ", ".join(
        f"{stopword_count_duck(lg, 'chunk')} AS s_{lg}" for lg in langs
    )
    cnt = ", ".join(
        f"len(list_filter(preds, x -> x = '{lg}'))" for lg in langs
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, lang AS labeled_lang,
                   {TOKENS_DUCK} AS toks
            FROM {table}
        ), counted AS (
            SELECT doc_id, labeled_lang, toks,
                   GREATEST(1, CAST(ceil(len(toks)
                       / CAST({size} AS DOUBLE)) AS INT)) AS n_chunks
            FROM toks
        ), chunks AS (
            SELECT doc_id, labeled_lang, g.i AS chunk_idx,
                   list_slice(toks, g.i * {size} + 1,
                              g.i * {size} + {size}) AS chunk
            FROM counted, unnest(range(0, n_chunks)) AS g(i)
        ), scored AS (
            SELECT doc_id, labeled_lang, chunk_idx, {score_cols}
            FROM chunks
        ), pred AS (
            SELECT doc_id, labeled_lang, chunk_idx,
                   {langid_case({lg: f's_{lg}' for lg in langs})} AS pred
            FROM scored
        ), agg AS (
            SELECT doc_id, labeled_lang, COUNT(*) AS n_chunks,
                   list(pred ORDER BY chunk_idx) AS preds
            FROM pred GROUP BY 1, 2
        )
        SELECT doc_id, labeled_lang,
               CAST(n_chunks AS BIGINT) AS n_chunks,
               CAST(len(list_filter([{cnt}], c -> c > 0)) AS INT)
                   AS n_langs,
               {langid_case({
                   lg: f"len(list_filter(preds, x -> x = '{lg}'))"
                   for lg in langs
               })} AS dominant_lang,
               ROUND(GREATEST({cnt}) / CAST(n_chunks AS DOUBLE), 6)
                   AS dominant_share,
               CAST(CASE WHEN len(preds) <= 1 THEN 0 ELSE
                    len(list_filter(range(1, len(preds)),
                        i -> preds[i] != preds[i + 1])) END AS INT)
                   AS n_switches,
               len(list_filter([{cnt}], c -> c > 0)) > 1
                   AS is_code_switched
        FROM agg
    """


# ---- RAKE keyword extraction -------------------------------------------

RAKE_TOP_K = 25


def rake_keywords(docs: DataFrame, k: int = RAKE_TOP_K) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    deg(w)/freq(w) over the candidate corpus (deg = sum of the
    lengths of phrases containing the word, freq = occurrence count),
    a phrase scores the sum of its words' scores, and the report is
    the corpus-global top-k phrase types — the keyword/tag-mining
    step of a corpus curation pipeline.

    Determinism: deg and freq are exact integers; each word score is
    ONE double division rounded to 6 and cast to DECIMAL(18,6), so
    the per-phrase SUM is exact decimal (order-invariant) and the
    final tie order (score DESC, phrase ASC) is total.

    Scale shape: phrase segmentation is a per-document running count
    of stopword boundaries (posexplode + a window partitioned by
    doc_id — bounded by document length, never corpus-partitioned);
    word stats and phrase scores are map-side-combined groupBys on
    word/phrase keys; top-k is a TakeOrdered over the reduced phrase
    relation."""
    from uber_data_pipeline_spark.functions.text import STOPWORDS

    stop_list = ", ".join(
        f"'{w}'" for lang in ("en", "de", "fr", "es")
        for w in STOPWORDS[lang]
    )
    tok = (
        docs.selectExpr("doc_id", f"{TOKENS_SPARK} AS tokens")
        .selectExpr("doc_id", "posexplode(tokens) AS (pos, w)")
        .selectExpr(
            "doc_id",
            "pos",
            "lower(w) AS w",
            f"CAST(array_contains(array({stop_list}), lower(w)) AS INT)"
            " AS is_stop",
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    seg = tok.withColumn(
        "phrase_id", F.sum("is_stop").over(w_doc)
    ).filter("is_stop = 0")
    phrases = seg.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "concat_ws(' ', transform(sort_array(collect_list("
            "struct(pos, w))), s -> s.w))"
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    words = seg.select("doc_id", "phrase_id", "w").join(
        phrases.select("doc_id", "phrase_id", "plen"),
        ["doc_id", "phrase_id"],
    )
    stats = words.groupBy("w").agg(
        F.count("*").alias("freq"),
        F.sum("plen").alias("deg"),
    ).selectExpr(
        "w",
        "CAST(round(deg / CAST(freq AS DOUBLE), 6) AS DECIMAL(18,6))"
        " AS wscore",
    )
    scored = (
        words.join(stats, "w")
        .groupBy("doc_id", "phrase_id")
        .agg(F.sum("wscore").alias("pscore"))
        .join(phrases, ["doc_id", "phrase_id"])
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.expr(
                "CAST(round(max(pscore), 6) AS DOUBLE)"
            ).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(k)
    )


def sql_rake_keywords(table: str = "documents", k: int = RAKE_TOP_K) -> str:
    """DuckDB twin of :func:`rake_keywords`."""
    from uber_data_pipeline_spark.functions.text import STOPWORDS

    stop_list = ", ".join(
        f"'{w}'" for lang in ("en", "de", "fr", "es")
        for w in STOPWORDS[lang]
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, r.i AS pos, lower(tokens[r.i]) AS w,
                   CAST(list_contains([{stop_list}], lower(tokens[r.i]))
                        AS INT) AS is_stop
            FROM (
                SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table}
            ), unnest(range(1, len(tokens) + 1)) AS r(i)
        ), seg AS (
            SELECT doc_id, pos, w,
                   SUM(is_stop) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS phrase_id
            FROM tok
            QUALIFY is_stop = 0
        ), phrases AS (
            SELECT doc_id, phrase_id,
                   array_to_string(list(w ORDER BY pos), ' ') AS phrase,
                   COUNT(*) AS plen
            FROM seg GROUP BY 1, 2
        ), words AS (
            SELECT s.doc_id, s.phrase_id, s.w, p.plen
            FROM seg s JOIN phrases p
              ON p.doc_id = s.doc_id AND p.phrase_id = s.phrase_id
        ), stats AS (
            SELECT w,
                   CAST(ROUND(SUM(plen) / CAST(COUNT(*) AS DOUBLE), 6)
                        AS DECIMAL(18,6)) AS wscore
            FROM words GROUP BY 1
        ), scored AS (
            SELECT wd.doc_id, wd.phrase_id, SUM(st.wscore) AS pscore
            FROM words wd JOIN stats st ON st.w = wd.w
            GROUP BY 1, 2
        )
        SELECT p.phrase,
               COUNT(*) AS n_occurrences,
               CAST(ROUND(MAX(s.pscore), 6) AS DOUBLE) AS score
        FROM scored s JOIN phrases p
          ON p.doc_id = s.doc_id AND p.phrase_id = s.phrase_id
        GROUP BY 1
        ORDER BY score DESC, phrase ASC
        LIMIT {k}
    """


# ------------------------------------------------- iterated BPE trainer

BPE_TRAIN_ROUNDS = 6


def _bpe_units_spark(e: str = "e") -> str:
    """Units of a boundary-guarded string '|h|e|l|l|o|' as an array
    (multi-char units allowed after merges)."""
    return f"filter(split({e}, '[|]'), x -> x != '')"


def bpe_train_iterated(docs: DataFrame, rounds: int = BPE_TRAIN_ROUNDS) -> DataFrame:
    """FULL byte-pair-encoding training loop (Sennrich et al. 2016):
    ``rounds`` greedy merges, each round picking THE most frequent
    adjacent unit pair over the CURRENT segmentation (count DESC, then
    pair ASC — bit-deterministic) and rewriting the dictionary, so
    later merges combine earlier merged units ('t'+'h' then 'th'+'e').
    `text_bpe_merge_step` is one mining pass at character grain and
    `text_bpe_encode` applies a fixed 2-char list; this entry closes
    the trainer/apply loop the tokenizer-fertility census measures.

    Iteration mechanics: the pagerank_iterated recipe — the state is
    the WORD-FREQUENCY DICTIONARY as boundary-guarded unit strings
    ('|h|e|l|l|o|', wc), localCheckpointed per round (lineage one step
    deep). Per round: adjacent-pair counts are one map-side-combined
    aggregate over the dictionary (vocabulary-sized, never the token
    stream), the winning pair is a 1-row TakeOrdered broadcast onto
    the dictionary rewrite (a sentinel row with n = -1 keeps the
    relation total when no pair remains), and the rewrite itself is
    the BPE_FIX_PASSES replace() fixpoint of `_bpe_fold_spark`
    generalized to multi-char units. The DuckDB oracle replays every
    round as chained MATERIALIZED CTEs.

    Columns (one row per round): round, left_unit, right_unit,
    merged_unit, pair_count, total_units_after (corpus-wide unit
    count, weighted by word frequency — the compression trajectory).
    """
    from uber_data_pipeline_spark.functions.text import TOKENS_SPARK

    d = (
        docs.selectExpr(f"explode({TOKENS_SPARK}) AS w")
        .filter("length(w) >= 1")
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .selectExpr(
            "concat('|', concat_ws('|', transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1))), '|') AS e",
            "wc",
        )
        .localCheckpoint()
    )
    reports = []
    body = "e"
    for _ in range(BPE_FIX_PASSES):
        body = (
            f"replace({body}, concat('|', l, '|', r, '|'), "
            "concat('|', l, r, '|'))"
        )
    for rnd in range(1, rounds + 1):
        u = _bpe_units_spark("e")
        pair_counts = (
            d.selectExpr(
                f"explode(CASE WHEN size({u}) >= 2 THEN "
                f"transform(sequence(1, size({u}) - 1), "
                f"i -> struct(element_at({u}, i) AS l, "
                f"element_at({u}, i + 1) AS r)) "
                "ELSE CAST(array() AS array<struct<l:string,r:string>>) "
                "END) AS p",
                "wc",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("n"))
        )
        # sentinel keeps the 1-row relation total when no pair exists
        # (its '|||' pattern can never match a non-empty unit)
        top = (
            pair_counts.unionByName(
                d.sparkSession.sql(
                    "SELECT '' AS l, '' AS r, CAST(-1 AS BIGINT) AS n"
                )
            )
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .localCheckpoint()
        )
        d = (
            d.join(F.broadcast(top))
            .selectExpr(f"{body} AS e", "wc")
            .localCheckpoint()
        )
        units_after = d.selectExpr(
            f"CAST(sum(size({_bpe_units_spark('e')}) * wc) AS BIGINT)"
            " AS total_units_after"
        )
        reports.append(
            top.join(F.broadcast(units_after)).selectExpr(
                f"CAST({rnd} AS INT) AS round",
                "l AS left_unit",
                "r AS right_unit",
                "concat(l, r) AS merged_unit",
                "n AS pair_count",
                "total_units_after",
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out


def sql_bpe_train_iterated(
    table: str = "documents", rounds: int = BPE_TRAIN_ROUNDS
) -> str:
    """DuckDB twin of :func:`bpe_train_iterated` — every round is a
    chained MATERIALIZED CTE (pair counts -> 1-row top pair with the
    sentinel -> dictionary rewrite -> unit total)."""
    from uber_data_pipeline_spark.functions.text import TOKENS_DUCK

    units = "list_filter(string_split(e, '|'), x -> x != '')"
    body = "e"
    for _ in range(BPE_FIX_PASSES):
        body = (
            f"replace({body}, '|' || l || '|' || r || '|', "
            "'|' || l || r || '|')"
        )
    ctes = [
        f"""w0 AS MATERIALIZED (
            SELECT '|' || array_to_string(list_transform(
                       range(1, length(w) + 1),
                       i -> substring(w, i, 1)), '|') || '|' AS e,
                   CAST(COUNT(*) AS BIGINT) AS wc
            FROM (SELECT unnest({TOKENS_DUCK}) AS w FROM {table})
            WHERE length(w) >= 1
            GROUP BY w
        )"""
    ]
    selects = []
    for k in range(1, rounds + 1):
        ctes.append(f"""p{k} AS (
            SELECT u.l, u.r, CAST(SUM(wc) AS BIGINT) AS n
            FROM (SELECT unnest(list_transform(
                             range(1, len({units})),
                             i -> struct_pack(
                                 l := ({units})[i],
                                 r := ({units})[i + 1]))) AS u,
                         wc
                  FROM w{k - 1}
                  WHERE len({units}) >= 2)
            GROUP BY 1, 2
        )""")
        ctes.append(f"""t{k} AS MATERIALIZED (
            SELECT l, r, n FROM (
                SELECT l, r, n FROM p{k}
                UNION ALL SELECT '', '', CAST(-1 AS BIGINT)
            ) ORDER BY n DESC, l, r LIMIT 1
        )""")
        ctes.append(f"""w{k} AS MATERIALIZED (
            SELECT {body} AS e, wc FROM w{k - 1}, t{k}
        )""")
        ctes.append(f"""s{k} AS (
            SELECT CAST(SUM(len({units}) * wc) AS BIGINT)
                       AS total_units_after
            FROM w{k}
        )""")
        selects.append(
            f"SELECT CAST({k} AS INT) AS round, l AS left_unit, "
            f"r AS right_unit, l || r AS merged_unit, n AS pair_count, "
            f"total_units_after FROM t{k}, s{k}"
        )
    return (
        "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)
    )


# --------------------------------------- Gopher repetition filters

GOPHER_TOP2_MAX_MICRO = 200_000   # 0.20 top-2-gram char fraction
GOPHER_TOP3_MAX_MICRO = 180_000   # 0.18 top-3-gram char fraction
GOPHER_DUP5_MAX_MICRO = 150_000   # 0.15 dup-5-gram coverage


def gopher_repetition(docs: DataFrame) -> DataFrame:
    """Gopher repetition filters (Rae et al. 2021, §A1.1 "repetitious
    text") — the quality gate that removes boilerplate- and
    loop-generated documents before training: per document, the
    character MASS of the heaviest repeated 2-/3-gram and the
    token coverage of duplicated 5-grams, each against the paper's
    removal thresholds (0.20 / 0.18 / 0.15).

    Deterministic variants of the paper's signals (it leaves ties
    unspecified): top-n mass = max over the doc's REPEATED n-grams
    (count >= 2 — a single occurrence is not repetition, and counting
    it would auto-flag every short document) of count *
    char_length(gram) — the joined gram includes its inner spaces,
    denominators are length(text) — and dup-5 coverage is the
    INTERVAL UNION of [p, p+4] over positions whose 5-gram occurs >= 2
    times in the doc (the dedup_substring_spans islands trick, so
    overlapping duplicates never double-count), denominator n_tokens.
    Everything is integer until the final micro-unit intdiv.

    Scale shape (r11 rewrite; r12 constant-factor pass): every signal
    is a function of ONE document, so the whole operator is ROW-LOCAL
    — sorted-array folds inside whole-stage codegen (run-length max
    for the top masses; a position-tagged sorted fold collecting
    duplicated positions, then an islands fold for the interval
    union). ZERO shuffle: the first version's corpus-wide (doc, n,
    gram) groupBy shuffled the token stream three times and was the
    heaviest documents entry at sf1 (35.7 s); per-doc work is bounded
    by doc length, which is how a 100 TB corpus wants per-document
    features computed. r12 (VERDICT r11 item 5): the 5-gram pass no
    longer BUILDS 5-gram strings at all — it sorts
    struct(xxhash64(t_i..t_{i+4}), p) with the variadic 64-bit hash
    of the five tokens as the group key (dup-5 coverage needs gram
    EQUALITY only, never the gram's text or length). Hash-grouping is
    exact up to 64-bit collisions WITHIN one document (birthday bound
    ~n_grams^2/2^65 — ~1e-13 for a 2k-token doc), the same in-doc
    collision contract minhash already carries; the 2/3-gram masses
    keep exact string groups because they need length(gram). (A fully
    fused single struct(n, h, gram, p) sort was measured SLOWER —
    20.5 s vs 12.0 s at sf1 — sort_array over wide structs falls off
    the codegen comparator path; structs here stay two-field.) The
    DuckDB oracle keeps the relational formulation — semantics equal,
    two independent derivations.

    r12 (ADVICE r11): top2/top3 micro divides are zero-guarded on
    n_chars like dup5 always was on n_tokens — an empty-text document
    scores 0 instead of throwing DIVIDE_BY_ZERO under ANSI; the
    oracle carries the same guard.

    Columns: doc_id, n_tokens, n_chars, top2_mass_micro,
    top3_mass_micro, dup5_cover_micro, is_repetitive."""
    from uber_data_pipeline_spark.functions.text import TOKENS_SPARK

    def grams(n: int) -> str:
        return (
            f"CASE WHEN size(tokens) >= {n} THEN "
            f"transform(sequence(1, size(tokens) - {n - 1}), "
            f"i -> concat_ws(' ', slice(tokens, i, {n}))) "
            "ELSE CAST(array() AS array<string>) END"
        )

    def top_mass(n: int) -> str:
        run = (
            "CASE WHEN s.prev IS NOT NULL AND g = s.prev "
            "THEN s.run + 1 ELSE CAST(1 AS BIGINT) END"
        )
        return (
            f"aggregate(sort_array({grams(n)}), "
            "named_struct('prev', CAST(NULL AS STRING), "
            "'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)), "
            f"(s, g) -> named_struct('prev', g, 'run', {run}, "
            f"'best', CASE WHEN {run} >= 2 "
            f"THEN greatest(s.best, {run} * length(g)) "
            "ELSE s.best END), "
            "s -> s.best)"
        )

    # (hash, pos)-sorted fold: positions of 5-grams occurring >= 2
    # times, grouped by the variadic token hash (no gram string is
    # ever built), in position order after the final sort_array
    run5 = (
        "CASE WHEN s.run > 0 AND x.h = s.prevh "
        "THEN s.run + 1 ELSE CAST(1 AS BIGINT) END"
    )
    hash5 = (
        "xxhash64(element_at(tokens, i), element_at(tokens, i + 1), "
        "element_at(tokens, i + 2), element_at(tokens, i + 3), "
        "element_at(tokens, i + 4))"
    )
    pairs5 = (
        "CASE WHEN size(tokens) >= 5 THEN "
        "sort_array(transform(sequence(1, size(tokens) - 4), "
        f"i -> struct({hash5} AS h, i - 1 AS p))) "
        "ELSE CAST(array() AS array<struct<h:bigint,p:int>>) END"
    )
    dup_positions = (
        f"sort_array(aggregate({pairs5}, "
        "named_struct('prevh', CAST(0 AS BIGINT), "
        "'prevp', CAST(0 AS INT), 'run', CAST(0 AS BIGINT), "
        "'ps', CAST(array() AS array<int>)), "
        f"(s, x) -> named_struct('prevh', x.h, 'prevp', x.p, "
        f"'run', {run5}, "
        f"'ps', CASE WHEN {run5} = 2 THEN concat(s.ps, array(s.prevp, x.p)) "
        f"WHEN {run5} > 2 THEN concat(s.ps, array(x.p)) "
        "ELSE s.ps END), "
        "s -> s.ps))"
    )
    # islands fold over the ordered duplicated positions: interval
    # union of [p, p+4], islands split when the gap reaches 5
    dup_cover = (
        f"aggregate({dup_positions}, "
        "named_struct('prevp', CAST(NULL AS INT), "
        "'start', CAST(0 AS INT), 'tok', CAST(0 AS BIGINT)), "
        "(s, p) -> named_struct('prevp', p, "
        "'start', CASE WHEN s.prevp IS NULL OR p - s.prevp >= 5 "
        "THEN p ELSE s.start END, "
        "'tok', CASE WHEN s.prevp IS NOT NULL AND p - s.prevp >= 5 "
        "THEN s.tok + CAST(s.prevp - s.start + 5 AS BIGINT) "
        "ELSE s.tok END), "
        "s -> CASE WHEN s.prevp IS NULL THEN CAST(0 AS BIGINT) "
        "ELSE s.tok + CAST(s.prevp - s.start + 5 AS BIGINT) END)"
    )
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    return (
        spread_rowlocal(docs.select("doc_id", "text"))
        .selectExpr(
            "doc_id",
            f"{TOKENS_SPARK} AS tokens",
            "CAST(length(text) AS BIGINT) AS n_chars",
        )
        .selectExpr(
            "doc_id",
            "CAST(size(tokens) AS BIGINT) AS n_tokens",
            "n_chars",
            "CASE WHEN n_chars > 0 THEN "
            f"CAST({top_mass(2)} * 1000000 DIV n_chars AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END AS top2_mass_micro",
            "CASE WHEN n_chars > 0 THEN "
            f"CAST({top_mass(3)} * 1000000 DIV n_chars AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END AS top3_mass_micro",
            "CASE WHEN size(tokens) > 0 THEN "
            f"CAST({dup_cover} * 1000000 DIV size(tokens) AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END AS dup5_cover_micro",
        )
        .selectExpr(
            "*",
            f"top2_mass_micro > {GOPHER_TOP2_MAX_MICRO} OR "
            f"top3_mass_micro > {GOPHER_TOP3_MAX_MICRO} OR "
            f"dup5_cover_micro > {GOPHER_DUP5_MAX_MICRO} AS is_repetitive",
        )
    )


def sql_gopher_repetition(table: str = "documents") -> str:
    """DuckDB twin of :func:`gopher_repetition`."""
    from uber_data_pipeline_spark.functions.text import TOKENS_DUCK

    def tagged(n: int) -> str:
        return (
            f"list_transform(range(1, greatest(len(tokens) - {n - 1}, 0) + 1), "
            f"i -> struct_pack(n := {n}, p := i - 1, "
            f"gram := array_to_string(list_slice(tokens, i, i + {n - 1}), ' ')))"
        )

    return f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS tokens,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM {table}
        ), base AS (
            SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
                   n_chars, tokens
            FROM toks
        ), pos AS (
            SELECT doc_id, g.n, g.p, g.gram
            FROM (SELECT doc_id,
                         unnest(list_concat(list_concat(
                             {tagged(2)}, {tagged(3)}), {tagged(5)})) AS g
                  FROM base)
        ), cnt AS (
            SELECT doc_id, n, gram, COUNT(*) AS c
            FROM pos GROUP BY 1, 2, 3
        ), top AS (
            SELECT doc_id,
                   MAX(CASE WHEN n = 2 THEN c * length(gram) END) AS m2,
                   MAX(CASE WHEN n = 3 THEN c * length(gram) END) AS m3
            FROM cnt WHERE n IN (2, 3) AND c >= 2 GROUP BY 1
        ), dup5 AS (
            SELECT p.doc_id, p.p
            FROM pos p JOIN cnt ON cnt.doc_id = p.doc_id
             AND cnt.n = 5 AND cnt.gram = p.gram AND cnt.c >= 2
            WHERE p.n = 5
        ), isl AS (
            SELECT doc_id, p,
                   SUM(CASE WHEN prev_p IS NOT NULL AND p - prev_p < 5
                            THEN 0 ELSE 1 END)
                     OVER (PARTITION BY doc_id ORDER BY p
                           ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT doc_id, p,
                         LAG(p) OVER (PARTITION BY doc_id ORDER BY p)
                             AS prev_p
                  FROM dup5)
        ), cover AS (
            SELECT doc_id, CAST(SUM(span) AS BIGINT) AS dup5_tokens
            FROM (SELECT doc_id, island, MAX(p) - MIN(p) + 5 AS span
                  FROM isl GROUP BY 1, 2)
            GROUP BY 1
        ), micro AS (
            SELECT b.doc_id, b.n_tokens, b.n_chars,
                   CASE WHEN b.n_chars > 0 THEN
                       CAST(COALESCE(t.m2, 0) * 1000000 // b.n_chars
                            AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS top2_mass_micro,
                   CASE WHEN b.n_chars > 0 THEN
                       CAST(COALESCE(t.m3, 0) * 1000000 // b.n_chars
                            AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS top3_mass_micro,
                   CASE WHEN b.n_tokens > 0 THEN
                       CAST(COALESCE(c.dup5_tokens, 0) * 1000000
                            // b.n_tokens AS BIGINT)
                   ELSE CAST(0 AS BIGINT) END AS dup5_cover_micro
            FROM base b
            LEFT JOIN top t ON t.doc_id = b.doc_id
            LEFT JOIN cover c ON c.doc_id = b.doc_id
        )
        SELECT *,
               top2_mass_micro > {GOPHER_TOP2_MAX_MICRO} OR
               top3_mass_micro > {GOPHER_TOP3_MAX_MICRO} OR
               dup5_cover_micro > {GOPHER_DUP5_MAX_MICRO} AS is_repetitive
        FROM micro
    """


# ------------------------------------------------ distribution drift

DRIFT_LEN_BUCKET = 100


def drift_report(docs: DataFrame) -> DataFrame:
    """Corpus distribution-drift report — the monitoring duty that
    catches a broken upstream feed before it trains: total-variation
    distance between a REFERENCE and a CURRENT slice (deterministic
    doc_id parity split here; time windows in production) over three
    categorical dimensions — language, source, and bucketed document
    length — with the single most-drifted value per dimension.

    TVD instead of KL/PSI on purpose: 0.5 * sum |p - q| needs no
    logarithm (the one primitive the twin engines only probably agree
    on) and is exact over integer micro-unit shares; the halving is a
    floor-div both sides.

    Scale shape: one tagged explode (3 dimensions) -> one
    map-side-combined (dimension, value, side) count; per-dimension
    totals are a values-sized broadcast join back; the report reduces
    to 3 rows. Tie-break for the top value: largest |p - q|, then
    lexicographically smallest value (min over struct(-dev, value)).

    Columns: dimension, n_values, n_ref, n_cur, tvd_micro,
    top_drift_value, top_drift_micro."""
    base = docs.selectExpr(
        "doc_id % 2 = 0 AS is_ref",
        "lang",
        "source",
        f"CAST(length(text) DIV {DRIFT_LEN_BUCKET} AS STRING) AS len_bucket",
    )
    vals = base.selectExpr(
        "is_ref",
        "explode(map('lang', lang, 'source', source,"
        " 'len_bucket', len_bucket)) AS (dimension, value)",
    )
    cnt = vals.groupBy("dimension", "value").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("nref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("ncur"),
    )
    tot = cnt.groupBy("dimension").agg(
        F.sum("nref").alias("tref"), F.sum("ncur").alias("tcur")
    )
    shares = cnt.join(F.broadcast(tot), "dimension").selectExpr(
        "dimension",
        "value",
        "tref",
        "tcur",
        "abs(CASE WHEN tref > 0 THEN nref * 1000000 DIV tref ELSE 0 END"
        " - CASE WHEN tcur > 0 THEN ncur * 1000000 DIV tcur ELSE 0 END)"
        " AS dev",
    )
    return (
        shares.groupBy("dimension")
        .agg(
            F.count("*").cast("long").alias("n_values"),
            F.max("tref").cast("long").alias("n_ref"),
            F.max("tcur").cast("long").alias("n_cur"),
            F.expr("sum(dev) DIV 2").cast("long").alias("tvd_micro"),
            F.min(
                F.struct((-F.col("dev")).alias("nd"), F.col("value"))
            ).alias("m"),
        )
        .selectExpr(
            "dimension",
            "n_values",
            "n_ref",
            "n_cur",
            "tvd_micro",
            "m.value AS top_drift_value",
            "CAST(-m.nd AS BIGINT) AS top_drift_micro",
        )
    )


def sql_drift_report(table: str = "documents") -> str:
    """DuckDB twin of :func:`drift_report`."""
    return f"""
        WITH base AS (
            SELECT doc_id % 2 = 0 AS is_ref, lang, source,
                   CAST(length(text) // {DRIFT_LEN_BUCKET} AS VARCHAR)
                       AS len_bucket
            FROM {table}
        ), vals AS (
            SELECT is_ref, 'lang' AS dimension, lang AS value FROM base
            UNION ALL
            SELECT is_ref, 'source', source FROM base
            UNION ALL
            SELECT is_ref, 'len_bucket', len_bucket FROM base
        ), cnt AS (
            SELECT dimension, value,
                   SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nref,
                   SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS ncur
            FROM vals GROUP BY 1, 2
        ), tot AS (
            SELECT dimension, SUM(nref) AS tref, SUM(ncur) AS tcur
            FROM cnt GROUP BY 1
        ), shares AS (
            SELECT c.dimension, c.value, t.tref, t.tcur,
                   abs(CASE WHEN t.tref > 0
                            THEN c.nref * 1000000 // t.tref ELSE 0 END
                     - CASE WHEN t.tcur > 0
                            THEN c.ncur * 1000000 // t.tcur ELSE 0 END)
                       AS dev
            FROM cnt c JOIN tot t ON t.dimension = c.dimension
        ), top AS (
            SELECT dimension, value AS top_drift_value,
                   dev AS top_drift_micro,
                   ROW_NUMBER() OVER (PARTITION BY dimension
                                      ORDER BY dev DESC, value ASC) AS rn
            FROM shares
        )
        SELECT s.dimension,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               CAST(MAX(s.tref) AS BIGINT) AS n_ref,
               CAST(MAX(s.tcur) AS BIGINT) AS n_cur,
               CAST(SUM(s.dev) // 2 AS BIGINT) AS tvd_micro,
               MAX(t.top_drift_value) AS top_drift_value,
               CAST(MAX(t.top_drift_micro) AS BIGINT) AS top_drift_micro
        FROM shares s
        JOIN top t ON t.dimension = s.dimension AND t.rn = 1
        GROUP BY 1
    """


# -------------------------------- model-based quality filter

QM_BUCKETS = 1024          # hashed feature space (fastText's -hash trick)
QM_TARGET_MICRO = 1_000_000  # score >= 1.0 -> target-like document


def quality_model_scores(
    docs: DataFrame,
    k: int = QM_BUCKETS,
    target_lang: str = DSIR_TARGET_LANG,
) -> DataFrame:
    """Model-based quality filter — the CCNet/LLaMA pipeline stage a
    heuristic quality score can't replace: a fastText-style
    HASHED-n-gram linear scorer (Joulin et al. 2016 fastText's
    hashing trick; CCNet/LLaMA-1 use exactly such a linear classifier
    to keep "Wikipedia-like" pages). Features are unigrams + word
    bigrams hashed into ``k`` buckets — the fixed-memory,
    vocabulary-independent representation that survives a 100 TB
    corpus where an exact vocab join (the dsir_weights shape) grows
    unboundedly.

    Weights are derived IN-PLAN from a deterministic seed rather than
    loaded from a file: weight[b] = the Laplace-smoothed target/raw
    frequency ratio of bucket b in integer micro-units (the DSIR
    log-ratio surrogate, log-free so both engines agree exactly),
    where the target slice is ``lang == target_lang``. The k-row
    weight relation is computed by one map-side-combined bucket
    aggregate and COLLECTED as a k-element broadcast literal — the
    "k-row codebook" pattern (kmeans/PQ precedent): a production job
    ships trained weights with the task the same way.

    SCORING is 100% row-local: one fold over the document's feature
    array looks each hashed bucket up in the broadcast weight array —
    no join, no window, no keyed exchange anywhere in the scoring
    plan (pinned by tests/test_plans.py). score_micro = half-up mean
    of the doc's feature weights in micro-units; is_target at ratio
    1.0.

    Determinism contract: bucket counts are exact ints; the ratio is
    ONE double divide cast to DECIMAL(28,9) (deterministic HALF_UP in
    both engines — the dsir_weights precedent), floored to micro
    ints; the per-doc mean is exact-integer half-up. No
    transcendentals anywhere.

    Columns: doc_id, n_feats, score_micro, is_target."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    from uber_data_pipeline_spark.functions.text import base_hash_spark

    fh = base_hash_spark("f")  # engine-neutral base hash of lambda var f
    bigr = shingles_spark("tokens", 2)
    bf = (
        spread_rowlocal(docs)
        .selectExpr("lang", f"{TOKENS_SPARK} AS tokens")
        .selectExpr("lang", f"explode(concat(tokens, {bigr})) AS f")
        .selectExpr("lang", f"CAST(({fh}) % {k} AS INT) AS b")
    )
    cnt = bf.groupBy("b").agg(
        F.count("*").alias("raw"),
        F.sum(F.when(F.col("lang") == target_lang, 1).otherwise(0)).alias(
            "tgt"
        ),
    )
    spine = docs.sparkSession.range(k).selectExpr("CAST(id AS INT) AS b")
    totals = cnt.agg(
        F.sum("raw").alias("total_raw"), F.sum("tgt").alias("total_tgt")
    )
    # operands go through DOUBLE before the multiply (ADVICE r12): at
    # 100 TB scale per-bucket counts ~1e10 x corpus totals ~1e13 would
    # overflow an int64 product silently under non-ANSI mode; IEEE
    # double multiply is deterministic in both engines and exact for
    # any product < 2^53, so small-corpus values are bit-identical to
    # the old int64 path
    ratio = (
        f"(CAST(tgt + 1 AS DOUBLE) * CAST(total_raw + {k} AS DOUBLE)) / "
        f"(CAST(raw + 1 AS DOUBLE) * CAST(total_tgt + {k} AS DOUBLE))"
    )
    wrows = (
        spine.join(cnt, "b", "left")
        .fillna(0, ["raw", "tgt"])
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "b",
            f"CAST(floor(CAST({ratio} AS DECIMAL(28,9)) * 1000000)"
            " AS BIGINT) AS w",
        )
        .orderBy("b")
        .collect()
    )
    # an EMPTY corpus (0 feature rows) leaves the totals NULL and so
    # every collected weight NULL; the smoothed ratio there is
    # (0+1)(0+k) / (0+1)(0+k) = 1.0 -> 1e6 micro, matching what the
    # oracle's COALESCEd spine computes (r12 review catch: int(None)
    # crashed at plan-construction time where DuckDB returned rows)
    weights = [
        int(r["w"]) if r["w"] is not None else 1_000_000 for r in wrows
    ]
    return (
        spread_rowlocal(docs)
        .selectExpr("doc_id", f"{TOKENS_SPARK} AS tokens")
        .selectExpr(
            "doc_id",
            f"concat(tokens, {shingles_spark('tokens', 2)}) AS feats",
        )
        .withColumn("W", F.lit(weights))
        .selectExpr(
            "doc_id",
            "CAST(size(feats) AS BIGINT) AS n_feats",
            "aggregate(feats, CAST(0 AS BIGINT), (s, f) -> "
            f"s + element_at(W, CAST(({fh}) % {k} AS INT) + 1)) AS sw",
        )
        .selectExpr(
            "doc_id",
            "n_feats",
            "CASE WHEN n_feats > 0 THEN (2 * sw + n_feats)"
            " DIV (2 * n_feats) ELSE CAST(0 AS BIGINT) END AS score_micro",
        )
        .selectExpr(
            "*", f"score_micro >= {QM_TARGET_MICRO} AS is_target"
        )
    )


def sql_quality_model(
    table: str = "documents",
    k: int = QM_BUCKETS,
    target_lang: str = DSIR_TARGET_LANG,
) -> str:
    """DuckDB twin of :func:`quality_model_scores` — the weight
    derivation replayed relationally (generate_series bucket spine so
    empty buckets carry the smoothed default weight, identical to the
    Spark side's spine join)."""
    from uber_data_pipeline_spark.functions.text import (
        TOKENS_DUCK,
        base_hash_duck,
        shingles_duck,
    )

    fh = base_hash_duck("f")
    ratio = (
        f"(CAST(c.tgt + 1 AS DOUBLE) * CAST(t.total_raw + {k} AS DOUBLE)) / "
        f"(CAST(c.raw + 1 AS DOUBLE) * CAST(t.total_tgt + {k} AS DOUBLE))"
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, lang, {TOKENS_DUCK} AS tokens FROM {table}
        ), feats AS (
            SELECT doc_id, lang,
                   unnest(list_concat(tokens, {shingles_duck("tokens", 2)}))
                       AS f
            FROM toks
        ), bf AS (
            SELECT doc_id, lang, CAST(({fh}) % {k} AS INT) AS b FROM feats
        ), cnt0 AS (
            SELECT b, COUNT(*) AS raw,
                   SUM(CASE WHEN lang = '{target_lang}' THEN 1 ELSE 0 END)
                       AS tgt
            FROM bf GROUP BY 1
        ), tot AS (
            SELECT SUM(raw) AS total_raw, SUM(tgt) AS total_tgt FROM cnt0
        ), cnt AS (
            SELECT CAST(g.b AS INT) AS b,
                   COALESCE(c.raw, 0) AS raw, COALESCE(c.tgt, 0) AS tgt
            FROM generate_series(0, {k - 1}) AS g(b)
            LEFT JOIN cnt0 c ON c.b = g.b
        ), wts AS (
            SELECT c.b,
                   CAST(floor(CAST({ratio} AS DECIMAL(28,9)) * 1000000)
                        AS BIGINT) AS w
            FROM cnt c, tot t
        ), per_doc AS (
            SELECT bf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
                   SUM(w.w) AS sw
            FROM bf JOIN wts w USING (b)
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
               CAST(CASE WHEN COALESCE(p.n_feats, 0) > 0
                    THEN (2 * p.sw + p.n_feats) // (2 * p.n_feats)
                    ELSE 0 END AS BIGINT) AS score_micro,
               CAST(CASE WHEN COALESCE(p.n_feats, 0) > 0
                    THEN (2 * p.sw + p.n_feats) // (2 * p.n_feats)
                    ELSE 0 END AS BIGINT) >= {QM_TARGET_MICRO}
                   AS is_target
        FROM {table} d LEFT JOIN per_doc p USING (doc_id)
    """

def quality_model_eval(
    docs: DataFrame, target_lang: str = DSIR_TARGET_LANG
) -> DataFrame:
    """Evaluation gate for :func:`quality_model_scores` — the
    train->eval loop closure (the ann_*_recall pattern applied to the
    classifier): confusion counts of the scorer's is_target against
    the training label (lang == target), plus precision / recall / F1
    in EXACT integer micro-units (floor-div; F1 = 2PR/(P+R) computed
    on the micro ints, products < 2^52). One row.

    This is the gate a production filter ships with: it catches a
    silently-degenerate model (all-positive or all-negative) that the
    score distribution alone can hide."""
    scored = quality_model_scores(docs, target_lang=target_lang).select(
        "doc_id", "is_target"
    )
    labeled = docs.select(
        "doc_id", (F.col("lang") == target_lang).alias("is_pos")
    )
    return (
        scored.join(labeled, "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("is_target") & F.col("is_pos"), 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(F.col("is_target") & ~F.col("is_pos"), 1).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum(
                F.when(~F.col("is_target") & F.col("is_pos"), 1).otherwise(0)
            )
            .cast("long")
            .alias("fn"),
            F.sum(
                F.when(~F.col("is_target") & ~F.col("is_pos"), 1).otherwise(0)
            )
            .cast("long")
            .alias("tn"),
        )
        .selectExpr(
            "n_docs",
            "tp",
            "fp",
            "fn",
            "tn",
            "CASE WHEN tp + fp > 0 THEN tp * 1000000 DIV (tp + fp) "
            "ELSE CAST(0 AS BIGINT) END AS precision_micro",
            "CASE WHEN tp + fn > 0 THEN tp * 1000000 DIV (tp + fn) "
            "ELSE CAST(0 AS BIGINT) END AS recall_micro",
        )
        .selectExpr(
            "*",
            "CASE WHEN precision_micro + recall_micro > 0 "
            "THEN 2 * precision_micro * recall_micro "
            "DIV (precision_micro + recall_micro) "
            "ELSE CAST(0 AS BIGINT) END AS f1_micro",
        )
    )


def sql_quality_model_eval(
    table: str = "documents", target_lang: str = DSIR_TARGET_LANG
) -> str:
    """DuckDB twin of :func:`quality_model_eval` (wraps the scorer
    twin as a subquery)."""
    inner = sql_quality_model(table=table, target_lang=target_lang)
    return f"""
        WITH conf AS (
            SELECT
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(CASE WHEN q.is_target AND d.lang = '{target_lang}'
                              THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(SUM(CASE WHEN q.is_target AND d.lang <> '{target_lang}'
                              THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(SUM(CASE WHEN NOT q.is_target
                              AND d.lang = '{target_lang}'
                              THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                CAST(SUM(CASE WHEN NOT q.is_target
                              AND d.lang <> '{target_lang}'
                              THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM ({inner}) q JOIN {table} d USING (doc_id)
        ), pr AS (
            SELECT *,
                CAST(CASE WHEN tp + fp > 0
                     THEN tp * 1000000 // (tp + fp) ELSE 0 END
                     AS BIGINT) AS precision_micro,
                CAST(CASE WHEN tp + fn > 0
                     THEN tp * 1000000 // (tp + fn) ELSE 0 END
                     AS BIGINT) AS recall_micro
            FROM conf
        )
        SELECT *,
               CAST(CASE WHEN precision_micro + recall_micro > 0
                    THEN 2 * precision_micro * recall_micro
                         // (precision_micro + recall_micro)
                    ELSE 0 END AS BIGINT) AS f1_micro
        FROM pr
    """



# ------------------------------------ n-gram novelty (curation lineage)


def ngram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document n-gram NOVELTY census (r13) — the contribution
    metric corpus curators rank sources by (the flip side of the
    dedup family: instead of asking "how much of this doc exists
    elsewhere", ask "how much of the corpus' distinct n-gram mass did
    this doc introduce"): for each document, the fraction of its
    distinct 3-shingles whose corpus-wide FIRST occurrence (min
    doc_id) is this document. A boilerplate page scores ~0; the
    origin of a widely-copied template scores high while its copies
    score low — exactly the ordering a keep-first dedup policy
    implies.

    Scale shape: shingle sets build row-locally (dedup.shingle_arrays,
    spread site included), hashes explode ONCE and shuffle as int64s
    into a map-side-combined min-groupBy; one equi-join back and one
    groupBy(doc_id) rollup — the dedup_source_overlap cost class,
    linear in corpus shingle mass. Ties are deterministic (min
    doc_id); the 64-bit shingle-hash merge contract is the same
    base-hash family the minhash operators already document, and the
    oracle applies the IDENTICAL hash, so there is no cross-engine
    asymmetry.

    Columns: doc_id, n_shingles, n_novel, novelty_micro."""
    from uber_data_pipeline_spark.functions.text import base_hash_spark

    from uber_data_pipeline_spark.operators.dedup import shingle_arrays

    ex = shingle_arrays(docs).selectExpr(
        "doc_id",
        "explode(transform(shingles, shingle -> "
        f"{base_hash_spark('shingle')})) AS h",
    )
    firsts = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per = (
        ex.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(COALESCE(n_shingles, 0) AS BIGINT) AS n_shingles",
            "CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel",
            "CAST(CASE WHEN COALESCE(n_shingles, 0) > 0 THEN "
            "n_novel * 1000000 DIV n_shingles "
            "ELSE 0 END AS BIGINT) AS novelty_micro",
        )
    )


def sql_ngram_novelty(table: str = "documents") -> str:
    """DuckDB twin of :func:`ngram_novelty` (same shingle set, same
    base hash, same min-doc_id tie rule)."""
    from uber_data_pipeline_spark.functions.text import (
        TOKENS_DUCK,
        base_hash_duck,
        shingles_duck,
    )

    return f"""
        WITH toks AS (
            SELECT doc_id, {TOKENS_DUCK} AS tokens FROM {table}
        ), sh AS (
            SELECT doc_id,
                   list_distinct({shingles_duck("tokens")}) AS shingles
            FROM toks
        ), ex AS (
            SELECT doc_id, {base_hash_duck("shingle")} AS h
            FROM sh, unnest(shingles) AS u(shingle)
        ), firsts AS (
            SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY 1
        ), per AS (
            SELECT ex.doc_id,
                   COUNT(*) AS n_shingles,
                   SUM(CASE WHEN f.first_doc = ex.doc_id
                            THEN 1 ELSE 0 END) AS n_novel
            FROM ex JOIN firsts f USING (h)
            GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
               CAST(CASE WHEN COALESCE(p.n_shingles, 0) > 0
                    THEN p.n_novel * 1000000 // p.n_shingles
                    ELSE 0 END AS BIGINT) AS novelty_micro
        FROM {table} d LEFT JOIN per p USING (doc_id)
    """


# ------------------------------ DSIR stage 2: importance RESAMPLE

# p_accept = min(1, alpha * weight): alpha = 0.5 keeps weight>=2 docs
# surely and downsamples target-unlike docs proportionally
RESAMPLE_ALPHA_MICRO = 500_000


def importance_resample(
    docs: DataFrame,
    target_lang: str = DSIR_TARGET_LANG,
    alpha_micro: int = RESAMPLE_ALPHA_MICRO,
) -> DataFrame:
    """DSIR stage TWO (r13) — the RESAMPLE the paper is named for
    (Xie et al. 2023 §2: compute importance weights, then sample
    proportionally): each document is kept with probability
    min(1, alpha * weight) under a DETERMINISTIC pseudo-draw — the
    engine-neutral base hash of 'rs|<doc_id>' reduced to micro-units —
    so the selected corpus is reproducible across engines and runs
    (the seeded-RNG contract a production resample job pins anyway,
    expressed as a hash so DuckDB replays it bit-for-bit).
    Closes the weights -> selected-corpus loop the same way
    documents_quality_model_eval closes train -> eval.

    Scale shape: dsir_weights' two vocab aggregates + per-doc rollup
    (its documented shape), then one broadcast-size left join back to
    (doc_id, lang) and a row-local hash compare — no new shuffle
    class. Documents with zero tokens carry weight 0 and are never
    kept.

    Columns: doc_id, lang, weight_micro, draw_micro, kept."""
    from uber_data_pipeline_spark.functions.text import base_hash_spark

    w = dsir_weights(docs, target_lang)
    draw = base_hash_spark("concat('rs|', CAST(doc_id AS STRING))")
    return (
        docs.select("doc_id", "lang")
        .join(w.select("doc_id", "dsir_weight"), "doc_id", "left")
        .selectExpr(
            "doc_id",
            "lang",
            # dsir_weight is an exact 1e-9-grid value; *1e6 + 0.5 +
            # floor is the identical IEEE chain in both engines
            "CAST(floor(COALESCE(dsir_weight, 0) * 1000000 + 0.5)"
            " AS BIGINT) AS weight_micro",
            f"({draw}) % 1000000 AS draw_micro",
        )
        .selectExpr(
            "*",
            f"draw_micro * 1000000 < weight_micro * {alpha_micro} AS kept",
        )
    )


def sql_importance_resample(
    target_lang: str = DSIR_TARGET_LANG,
    alpha_micro: int = RESAMPLE_ALPHA_MICRO,
) -> str:
    """DuckDB twin of :func:`importance_resample` (dsir_weights twin
    as a subquery + the identical hash draw and acceptance rule)."""
    from uber_data_pipeline_spark.functions.text import base_hash_duck

    draw = base_hash_duck("concat('rs|', CAST(doc_id AS VARCHAR))")
    return f"""
        WITH dw AS ({sql_dsir_weights(target_lang)})
        SELECT d.doc_id, d.lang,
               CAST(floor(COALESCE(dw.dsir_weight, 0) * 1000000 + 0.5)
                    AS BIGINT) AS weight_micro,
               ({draw}) % 1000000 AS draw_micro,
               ({draw}) % 1000000 * 1000000
                   < CAST(floor(COALESCE(dw.dsir_weight, 0) * 1000000
                                + 0.5) AS BIGINT) * {alpha_micro} AS kept
        FROM documents d LEFT JOIN dw USING (doc_id)
    """
