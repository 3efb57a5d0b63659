"""r11 operators: exact-substring removal spans (suffix-array dedup
approximation), plus round-11 regression pins."""

from __future__ import annotations

from uber_data_pipeline_spark.operators.dedup import (
    SPAN_MIN_TOKENS,
    substring_span_census,
)

PHRASE = "a b c d e f g h i j"  # 10 tokens -> 3 k=8 windows


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_substring_span_census_hand(spark):
    """Hand-checked fixture: cross-doc copy, in-doc repetition, a
    unique doc, and a doc shorter than the window grain."""
    assert SPAN_MIN_TOKENS == 8  # the arithmetic below assumes k=8
    rows = [
        # phrase at token positions 0-9, then 10 unique fillers
        (0, PHRASE + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
        # 5 fillers, phrase at 5-14, 3 fillers
        (1, "y1 y2 y3 y4 y5 " + PHRASE + " z1 z2 z3"),
        # fully unique
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
        # phrase twice inside ONE doc, separated by 8 unique tokens
        (3, PHRASE + " m1 m2 m3 m4 m5 m6 m7 m8 " + PHRASE),
        # shorter than the grain: no windows at all
        (4, "s1 s2 s3"),
    ]
    out = {r["doc_id"]: r for r in substring_span_census(_docs(spark, rows)).collect()}
    assert len(out) == 5

    a = out[0]
    assert (a["n_tokens"], a["n_windows"]) == (20, 13)
    # phrase windows at p=0,1,2 -> one island covering tokens 0-9
    assert (a["n_dup_windows"], a["n_spans"]) == (3, 1)
    assert a["dup_tokens"] == 10 and a["longest_span_tokens"] == 10
    assert a["dup_micro"] == 10 * 1_000_000 // 20

    b = out[1]
    assert (b["n_tokens"], b["n_windows"]) == (18, 11)
    assert (b["n_dup_windows"], b["n_spans"]) == (3, 1)
    assert b["dup_tokens"] == 10
    assert b["dup_micro"] == 10 * 1_000_000 // 18

    c = out[2]
    assert (c["n_dup_windows"], c["n_spans"], c["dup_tokens"]) == (0, 0, 0)

    d = out[3]
    assert (d["n_tokens"], d["n_windows"]) == (28, 21)
    # two occurrences 16 window-positions apart (>= k) -> two islands
    assert (d["n_dup_windows"], d["n_spans"]) == (6, 2)
    assert d["dup_tokens"] == 20 and d["longest_span_tokens"] == 10
    assert d["dup_micro"] == 20 * 1_000_000 // 28

    e = out[4]
    assert (e["n_tokens"], e["n_windows"]) == (3, 0)
    assert (e["n_dup_windows"], e["n_spans"], e["dup_tokens"], e["dup_micro"]) == (
        0,
        0,
        0,
        0,
    )


def test_substring_span_interval_union_no_double_count(spark):
    """Overlapping shared windows (gap < k) merge into ONE island so
    coverage is the interval union, not the sum of window lengths."""
    # 12-token phrase -> shared windows at p=0..4 in both docs; the
    # 5 windows overlap heavily but cover exactly 12 tokens
    phrase12 = PHRASE + " k l"
    rows = [
        (0, phrase12 + " u1 u2 u3"),
        (1, phrase12 + " v1 v2 v3"),
    ]
    out = {r["doc_id"]: r for r in substring_span_census(_docs(spark, rows)).collect()}
    for i in (0, 1):
        r = out[i]
        assert r["n_spans"] == 1
        assert r["dup_tokens"] == 12  # union, not 5 * 8
        assert r["longest_span_tokens"] == 12


def test_bpe_train_iterated_hand(spark):
    """Hand-replayed greedy merges: corpus 'aaab aaab ab'.

    words: aaab (wc 2) -> |a|a|a|b|, ab (wc 1) -> |a|b|
    r1: (a,a) n=4 beats (a,b) n=3 -> aaab = [aa,a,b]; total 3*2+2 = 8
    r2: (a,b) n=3 beats (aa,a) n=2 -> aaab = [aa,ab], ab = [ab]; 5
    r3: (aa,ab) n=2 -> aaab = [aaab]; total 3
    r4+: no pairs left -> sentinel rows (n = -1), total stays 3
    """
    from uber_data_pipeline_spark.operators.textops import bpe_train_iterated

    docs = spark.createDataFrame([(0, "aaab aaab ab")], "doc_id long, text string")
    rows = {r["round"]: r for r in bpe_train_iterated(docs, rounds=4).collect()}
    assert len(rows) == 4
    r1, r2, r3, r4 = (rows[i] for i in (1, 2, 3, 4))
    assert (r1["merged_unit"], r1["pair_count"], r1["total_units_after"]) == ("aa", 4, 8)
    assert (r2["merged_unit"], r2["pair_count"], r2["total_units_after"]) == ("ab", 3, 5)
    assert (r3["left_unit"], r3["right_unit"], r3["pair_count"]) == ("aa", "ab", 2)
    assert r3["total_units_after"] == 3
    # exhausted: the sentinel keeps the relation total and the state fixed
    assert (r4["merged_unit"], r4["pair_count"], r4["total_units_after"]) == ("", -1, 3)


def test_decontaminate_cosine_recall_on_planted_paraphrases(spark):
    """Recall pin (exact engine => recall 1.0 over the threshold):
    planted paraphrases of a benchmark vector — same direction plus
    noise, no shared n-gram notion at all — must ALL be caught;
    orthogonal training vectors must not. Tie-break: highest cosine,
    then lowest benchmark id."""
    from uber_data_pipeline_spark.operators.similarity import decontaminate_cosine

    dim = 8
    u = [1.0] + [0.0] * (dim - 1)          # benchmark direction (id 0 and 20)
    para1 = [1.0, 0.3] + [0.0] * (dim - 2)  # cos(u, para1) ~ 0.958
    para2 = [1.0, 0.0, 0.4] + [0.0] * (dim - 3)  # cos ~ 0.928
    ortho = [0.0, 0.0, 0.0, 1.0] + [0.0] * (dim - 4)
    rows = [
        (0, u),        # bench (0 % 20 == 0)
        (20, u),       # second identical bench vector
        (1, para1),    # train paraphrase
        (2, para2),    # train paraphrase
        (3, ortho),    # train, unrelated
        (21, [0.0, 1.0] + [0.0] * (dim - 2)),  # train, cos ~ 0.287 to u
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in decontaminate_cosine(emb, 0.8).collect()}
    # recall: every planted paraphrase caught, nothing else
    assert set(out) == {1, 2}
    # both bench copies matched; tie at equal cosine -> LOWEST bench id
    assert out[1]["n_matched_bench"] == 2
    assert out[1]["top_bench_id"] == 0
    assert out[2]["n_matched_bench"] == 2
    assert out[2]["top_bench_id"] == 0
    assert out[1]["top_cosine"] > out[2]["top_cosine"] > 0.8


# ------------------------------------------- snapshot chain retention


def test_vacuum_keeps_main_head_despite_higher_branch_version(spark, tmp_path):
    """ADVICE r10 (medium): branch commits share the version
    namespace, so merged-list recency let a branch commit with the
    highest version displace MAIN's head out of keep_last — deleting
    the manifest latest-version readers resolve. Retention is now
    per-chain: v0,v1 on main, v2 on 'exp', keep_last=1 must keep
    main's head v1 (and the branch head v2)."""
    from uber_data_pipeline_spark.sources import snapshots

    root = str(tmp_path / "lake")
    snapshots.commit_snapshot(
        spark.range(3).withColumnRenamed("id", "k"), root, 0
    )
    snapshots.commit_snapshot(
        spark.range(10, 12).withColumnRenamed("id", "k"), root, 1,
        mode="overwrite",
    )
    snapshots.create_branch(root, "exp", 0)
    snapshots.commit_to_branch(
        spark.range(100, 102).withColumnRenamed("id", "k"),
        root, "exp", 2, mode="append",
    )
    rep = snapshots.expire_snapshots(root, keep_last=1)
    assert 1 in rep["kept"], rep  # main's head survives
    assert 2 in rep["kept"], rep  # branch head survives
    # main still reads back through latest_version post-vacuum
    v = snapshots.latest_version(root)
    assert {r.k for r in snapshots.read_snapshot(spark, root, 1).collect()} == {10, 11}


def test_commit_to_branch_refuses_version_collision(spark, tmp_path):
    """ADVICE r10 (low): a colliding version number must fail fast,
    not silently clobber another chain's committed manifest."""
    import pytest
    from uber_data_pipeline_spark.sources import snapshots

    root = str(tmp_path / "lake")
    snapshots.commit_snapshot(
        spark.range(3).withColumnRenamed("id", "k"), root, 0
    )
    snapshots.create_branch(root, "exp", 0)
    with pytest.raises(FileExistsError):
        snapshots.commit_to_branch(
            spark.range(5).withColumnRenamed("id", "k"),
            root, "exp", 0, mode="overwrite",
        )


def test_gopher_repetition_hand(spark):
    """Hand-computed repetition signals: an in-doc repeated phrase
    (dup-5 coverage fires), a degenerate loop doc (top-2 mass fires),
    and a clean doc (nothing fires)."""
    from uber_data_pipeline_spark.operators.textops import gopher_repetition

    # P twice with 8 unique separators: dup-5 islands [0,9] and
    # [18,27] -> 20 of 28 tokens covered
    rep_doc = PHRASE + " m1 m2 m3 m4 m5 m6 m7 m8 " + PHRASE
    loop_doc = " ".join(["x"] * 10)  # 'x x' count 9, mass 27 of 19 chars
    clean_doc = "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"
    docs = spark.createDataFrame(
        [(0, rep_doc), (1, loop_doc), (2, clean_doc)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_repetition(docs).collect()}

    r = out[0]
    assert r["n_tokens"] == 28 and r["n_chars"] == len(rep_doc)
    assert r["dup5_cover_micro"] == 20 * 1_000_000 // 28
    # top-2 mass: 'a b' style grams, count 2 * 3 chars = 6
    assert r["top2_mass_micro"] == 6 * 1_000_000 // len(rep_doc)
    assert r["is_repetitive"]  # via dup5 > 0.15

    l = out[1]
    assert l["top2_mass_micro"] == 27 * 1_000_000 // 19
    assert l["dup5_cover_micro"] == 1_000_000  # all 10 tokens covered
    assert l["is_repetitive"]

    c = out[2]
    assert (c["dup5_cover_micro"], c["is_repetitive"]) == (0, False)


def test_hard_negative_mining_hand(spark):
    """Hand-checked triplets: two tight clusters plus one impostor
    sitting between them — its cluster's hardest positive is the far
    member, its hardest negative the near impostor; the violation
    flag fires exactly when the impostor is closer than the
    positive."""
    from uber_data_pipeline_spark.operators.similarity import hard_negative_mining

    d = 4
    rows = [
        # label 0 cluster along e1, one member rotated toward e2
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.1, 0.0, 0.0], 0),
        (2, [1.0, 1.0, 0.0, 0.0], 0),   # far member (cos ~0.707 to vec 0)
        # label 1 cluster along e2, one sitting near label 0's axis
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.8, 0.6, 0.0, 0.0], 1),   # impostor: cos 0.8 to vec 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label long")
    out = {r["vec_id"]: r for r in hard_negative_mining(emb).collect()}
    assert set(out) == {0, 1, 2, 3, 4}

    v0 = out[0]
    # hardest positive for vec 0: the rotated member vec 2 (cos .7071)
    assert v0["pos_id"] == 2
    # hardest negative: the impostor vec 4 (cos 0.8) beats vec 3 (0.0)
    assert v0["neg_id"] == 4 and abs(v0["neg_cos"] - 0.8) < 1e-9
    # violation: impostor closer than the hardest positive
    assert v0["is_violation"] and v0["margin"] < 0

    v3 = out[3]
    assert v3["pos_id"] == 4          # only other label-1 member
    assert v3["neg_id"] == 2          # cos ~0.707 beats vecs 0/1 (~0/0.0995)
    assert not v3["is_violation"] or v3["margin"] <= 0  # sanity on flag shape
    assert v3["neg_cos"] < v3["pos_cos"] or v3["is_violation"]


def test_benford_audit_hand(spark, tmp_path):
    """Hand-checked digit shares on a constructed price column."""
    from uber_data_pipeline_spark.queries.tpch_extra import orders_benford_audit

    # 10 orders: first digits 1,1,1,1,2,2,3,9,9,9 (of the cents value)
    prices = [1.00, 10.50, 150.0, 19.99, 2.50, 25.0, 3.33, 9.0, 90.0, 0.99]
    spark.createDataFrame(
        [(i, p) for i, p in enumerate(prices)],
        "o_orderkey long, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {r["digit"]: r for r in orders_benford_audit(spark, str(tmp_path)).collect()}
    assert {d: out[d]["n"] for d in out} == {1: 4, 2: 2, 3: 1, 9: 3}
    assert out[1]["share_micro"] == 400_000
    assert out[1]["benford_micro"] == 301_030
    assert out[1]["dev_micro"] == 98_970
    assert out[9]["dev_micro"] == 300_000 - 45_757


def test_drift_report_hand(spark):
    """Hand-checked TVD: languages drift between the parity halves,
    sources do not."""
    from uber_data_pipeline_spark.operators.textops import drift_report

    rows = [
        # ref (even ids): 3 en, 1 de ; cur (odd ids): 1 en, 3 de
        (0, "aaaa", "en", "s0"), (2, "bbbb", "en", "s0"),
        (4, "cccc", "en", "s0"), (6, "dddd", "de", "s0"),
        (1, "eeee", "en", "s0"), (3, "ffff", "de", "s0"),
        (5, "gggg", "de", "s0"), (7, "hhhh", "de", "s0"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r["dimension"]: r for r in drift_report(docs).collect()}
    lang = out["lang"]
    # p_en: 750000 vs 250000 -> dev 500000 each for en and de -> TVD 500000
    assert lang["tvd_micro"] == 500_000
    assert lang["top_drift_value"] == "de"  # tie with 'en' -> lexicographic
    assert lang["top_drift_micro"] == 500_000
    src = out["source"]
    assert src["tvd_micro"] == 0
    # all texts are 4 chars -> one len bucket, zero drift
    assert out["len_bucket"]["tvd_micro"] == 0


def test_theilsen_hand(spark, tmp_path):
    """Hand-computed Theil-Sen: a clean line y = 10t + 100 with one
    wild outlier month — the median slope must stay 10 exactly (OLS
    would not)."""
    import datetime

    from uber_data_pipeline_spark.queries.tpch_extra import orders_theilsen_trend

    rows = []
    k = 0
    for t, y in [(0, 100.0), (1, 110.0), (2, 120.0), (3, 999.0), (4, 140.0)]:
        # one order per month carrying the month's whole revenue
        rows.append(
            (k, y, datetime.datetime(2024, 1 + t, 1))
        )
        k += 1
    spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderdate timestamp"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = orders_theilsen_trend(spark, str(tmp_path)).collect()[0]
    assert out["n_months"] == 5 and out["n_pairs"] == 10
    # slopes: 8 of 10 pairs are exactly 10 except those touching t=3
    # (299.67, 289.5, 293, 859 and -859/... ) -> median of sorted list
    # is 10 (positions 5 and 6 both 10)
    assert out["slope"] == 10.0
    assert out["intercept"] == 100.0


def test_user_gini_hand(spark, tmp_path):
    """Hand-computed Gini: perfectly equal counts -> 0; one whale
    holding (almost) everything -> near 1."""
    import datetime

    from uber_data_pipeline_spark.queries.events import events_user_gini

    t = datetime.datetime(2024, 1, 1)

    def write(counts):
        rows = []
        eid = 0
        for uid, c in enumerate(counts):
            for _ in range(c):
                rows.append((eid, uid, t, "click"))
                eid += 1
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string"
        ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    write([4, 4, 4, 4])  # equal: G = 0
    out = events_user_gini(spark, str(tmp_path)).collect()[0]
    assert (out["n_users"], out["total_events"], out["gini"]) == (4, 16, 0.0)

    write([1, 1, 1, 97])  # whale: G = 2*(1+2+3+4*97)/(4*100) - 5/4 = 0.72
    out = events_user_gini(spark, str(tmp_path)).collect()[0]
    assert out["gini"] == 0.72


# ------------------------------------------------ r11 review fixes


def test_theilsen_degenerate_series(spark, tmp_path):
    """A 1-month series must return a row with NULL slope/intercept
    (matching DuckDB's median-of-nothing), not crash on descending
    sequence() indexing under ANSI."""
    import datetime

    from uber_data_pipeline_spark.queries.tpch_extra import orders_theilsen_trend

    spark.createDataFrame(
        [(0, 100.0, datetime.datetime(2024, 1, 15))],
        "o_orderkey long, o_totalprice double, o_orderdate timestamp",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = orders_theilsen_trend(spark, str(tmp_path)).collect()[0]
    assert (out["n_months"], out["n_pairs"]) == (1, 0)
    assert out["slope"] is None and out["intercept"] is None


def test_join_forecast_disjoint_keys_zero_parity(spark):
    """Disjoint key sets: ratios must be 0.0 (the DuckDB twin's
    NULLIF behavior), never NaN or an ANSI divide error."""
    from uber_data_pipeline_spark.operators.shares import join_size_forecast

    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame([(10,), (11,)], "k long")
    out = join_size_forecast(left, "k", right, "k").collect()[0]
    assert out["n_matched_keys"] == 0 and out["join_rows"] == 0
    assert out["top1_share"] == 0.0
    assert out["skew_ratio"] == 0.0
    assert out["blowup"] == 0.0


def test_commit_snapshot_refuses_branch_owned_version(spark, tmp_path):
    """Main commits must not clobber a manifest a branch committed
    (the commit_to_branch guard was one-sided)."""
    import pytest

    from uber_data_pipeline_spark.sources import snapshots

    root = str(tmp_path / "lake")
    snapshots.commit_snapshot(
        spark.range(3).withColumnRenamed("id", "k"), root, 0
    )
    snapshots.create_branch(root, "exp", 0)
    snapshots.commit_to_branch(
        spark.range(5, 7).withColumnRenamed("id", "k"),
        root, "exp", 5, mode="append",
    )
    with pytest.raises(FileExistsError):
        snapshots.commit_snapshot(
            spark.range(9).withColumnRenamed("id", "k"), root, 5,
            mode="overwrite",
        )
    # main re-publishing its OWN version stays allowed
    snapshots.commit_snapshot(
        spark.range(4).withColumnRenamed("id", "k"), root, 0,
        mode="overwrite",
    )


def test_pq_seed_codes_ranked_before_explode(spark):
    """Seed codes must be 0..7 per subspace (one per seed), not 0..31
    on unspecified post-explode tie order."""
    from uber_data_pipeline_spark.operators.similarity import _pq_init_book

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = _pq_init_book(emb).collect()
    by_s: dict = {}
    for r in rows:
        by_s.setdefault(r["s"], []).append(r["code"])
    assert set(by_s) == {0, 1, 2, 3}
    for codes in by_s.values():
        assert sorted(codes) == list(range(8))
