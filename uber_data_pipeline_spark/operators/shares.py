"""Aggregate-statistics operators over reduced relations: a
decimal-exact correlation matrix from one moments pass, an exact
join-size and skew forecast that never runs the join, and a per-key
skew report. Each has a DuckDB SQL twin for its oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F


# ----------------------------------------------------- moments / corr

CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
CORR_ROUND = 6


def corr_matrix(li, cols: tuple[str, ...] = CORR_COLS):
    """Pairwise Pearson correlations from ONE decimal-exact moments
    pass: Sx, Sxx per column and Sxy per pair (10 sums for 4 columns)
    aggregate map-side to a single row; the correlation formula then
    runs driver-free on that row. Moments are commutative monoids, so
    this is the mergeable form — per-shard moment rows add, the
    corr() recomputes from the merged sums (same rollup property as
    the sketches).

    Determinism: every per-row product is evaluated in double (IEEE,
    identical both engines), cast to DECIMAL(25,6) (rounding the
    value, HALF_UP), and summed exactly; the final formula is a
    handful of double ops on identical decimal sums — NOT the
    engine's corr() (engine-private summation orders). The variance
    product is clamped at 0 before sqrt: DECIMAL(25,6) rounding can
    push a (near-)constant column's variance a hair negative, where
    DuckDB's sqrt throws while Spark returns NaN — clamped, both
    engines yield NULL (x/0 double is NULL in both). Output:
    col_a, col_b, corr (upper triangle, 6 rows for 4 columns)."""
    from uber_data_pipeline_spark.operators.spread import spread_rowlocal

    # r12: the moments pass is compute-dense (O(cols^2) decimal
    # products per row) over a byte-cheap scan — spread the
    # under-split local input (no-op at lake scale); measured
    # 4.3 -> 1.2 s at sf0.1 on the single-row-group bench file
    li = spread_rowlocal(li)
    aggs = []
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("decimal(25,6)")).alias(f"s_{c}"))
        aggs.append(
            F.sum(
                (F.col(c).cast("double") * F.col(c).cast("double")).cast(
                    "decimal(25,6)"
                )
            ).alias(f"s_{c}_{c}")
        )
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            pairs.append((a, b))
            aggs.append(
                F.sum(
                    (F.col(a).cast("double") * F.col(b).cast("double")).cast(
                        "decimal(25,6)"
                    )
                ).alias(f"s_{a}_{b}")
            )
    moments = li.agg(F.count("*").alias("n"), *aggs)

    def corr_expr(a: str, b: str) -> str:
        return (
            f"round((n * CAST(s_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / sqrt(greatest(0.0D, (n * CAST(s_{a}_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * (n * CAST(s_{b}_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))), {CORR_ROUND})"
        )

    stack = ", ".join(
        f"'{a}', '{b}', {corr_expr(a, b)}" for a, b in pairs
    )
    return moments.selectExpr(
        f"stack({len(pairs)}, {stack}) AS (col_a, col_b, corr)"
    )


def sql_corr_matrix(
    table: str = "lineitem", cols: tuple[str, ...] = CORR_COLS
) -> str:
    moms = ["COUNT(*) AS n"]
    for c in cols:
        moms.append(f"SUM(CAST({c} AS DECIMAL(25,6))) AS s_{c}")
        moms.append(
            f"SUM(CAST(CAST({c} AS DOUBLE) * CAST({c} AS DOUBLE)"
            f" AS DECIMAL(25,6))) AS s_{c}_{c}"
        )
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            pairs.append((a, b))
            moms.append(
                f"SUM(CAST(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE)"
                f" AS DECIMAL(25,6))) AS s_{a}_{b}"
            )

    def corr_expr(a: str, b: str) -> str:
        return (
            f"ROUND((n * CAST(s_{a}_{b} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
            f" / sqrt(greatest(CAST(0.0 AS DOUBLE), (n * CAST(s_{a}_{a} AS DOUBLE)"
            f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
            f" * (n * CAST(s_{b}_{b} AS DOUBLE)"
            f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))), {CORR_ROUND})"
        )

    arms = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, {corr_expr(a, b)} AS corr FROM m"
        for a, b in pairs
    )
    return f"WITH m AS (SELECT {', '.join(moms)} FROM {table}) {arms}"


JOIN_FORECAST_BROADCAST_ROWS = 1_000_000
JOIN_FORECAST_SALT_SHARE = 0.01
JOIN_FORECAST_BLOWUP = 16.0


def join_size_forecast(left, lkey: str, right, rkey: str):
    """Exact join-size + skew forecast WITHOUT executing the join —
    the planner instrument you run before committing a 100 TB shuffle
    join (or a dedup/attribution self-join).

    The output cardinality of ``left JOIN right ON lkey = rkey`` is
    exactly sum over matched keys of d_left(k) * d_right(k).  Both
    degree censuses are map-side partial aggregates; the full-outer
    join that lines the two distributions up runs over the REDUCED
    per-key relations (|keys| rows, not |rows|), so the forecast costs
    O(|keys|) while the join it predicts can cost billions of output
    rows.  For a self-join pass the same relation twice: join_rows is
    then the candidate-pair volume (ordered, incl. self-pairs) that the
    dedup family's banding exists to avoid.

    The 1-row report drives the strategy choice the repo implements
    elsewhere: `broadcast` (operators/joins.py hints) when the right
    side is dim-sized, `salt-hot-keys` (operators/joins.py salting)
    when one key contributes >= 1% of the output, and
    `pre-aggregate` when the forecast blows up past 16x the input —
    otherwise a plain hash shuffle with AQE.

    Counts are BIGINT: max per-key degree product sum fits until
    ~9.2e18 output rows; beyond that widen the two SUMs to
    DECIMAL(38,0) (a report that large is itself the finding).

    Output (1 row): n_left, n_right, n_keys_left, n_keys_right,
    n_matched_keys, join_rows, max_key_rows, top1_share, blowup,
    skew_ratio, plan_hint."""
    dl = left.groupBy(F.col(lkey).alias("k")).agg(
        F.count("*").alias("dl")
    )
    dr = right.groupBy(F.col(rkey).alias("k")).agg(
        F.count("*").alias("dr")
    )
    j = dl.join(dr, "k", "full_outer")
    rep = j.agg(
        F.sum("dl").alias("n_left"),
        F.sum("dr").alias("n_right"),
        F.count("dl").alias("n_keys_left"),
        F.count("dr").alias("n_keys_right"),
        F.count(
            F.when(F.col("dl").isNotNull() & F.col("dr").isNotNull(), 1)
        ).alias("n_matched_keys"),
        F.sum(F.col("dl") * F.col("dr")).alias("join_rows"),
        F.max(F.col("dl") * F.col("dr")).alias("max_key_rows"),
    )
    return rep.selectExpr(
        "n_left",
        "n_right",
        "n_keys_left",
        "n_keys_right",
        "n_matched_keys",
        "CAST(coalesce(join_rows, 0) AS BIGINT) AS join_rows",
        "CAST(coalesce(max_key_rows, 0) AS BIGINT) AS max_key_rows",
        # try_divide (r11 review): on disjoint/empty inputs the sums
        # are NULL (never a literal 0 — per-key counts are >= 1), so
        # plain division cannot actually hit ANSI DIVIDE_BY_ZERO here,
        # but try_divide makes the 0.0 parity with the NULLIF'd DuckDB
        # twin robust to any future path that materializes a zero
        "round(coalesce(try_divide(max_key_rows, join_rows), 0.0D), 6)"
        " AS top1_share",
        "round(coalesce(try_divide(join_rows, n_left + n_right), 0.0D), 6)"
        " AS blowup",
        # divide BEFORE multiplying: (max * n_matched_keys) as a
        # bigint product overflows long before the double ratio does
        "round(coalesce(try_divide(max_key_rows,"
        " CAST(join_rows AS DOUBLE)), 0.0D)"
        " * n_matched_keys, 6) AS skew_ratio",
        f"CASE WHEN n_right <= {JOIN_FORECAST_BROADCAST_ROWS}"
        f" THEN 'broadcast-right'"
        f" WHEN round(coalesce(try_divide(max_key_rows, join_rows),"
        f" 0.0D), 6)"
        f" >= {JOIN_FORECAST_SALT_SHARE} THEN 'salt-hot-keys'"
        f" WHEN round(coalesce(try_divide(join_rows,"
        f" n_left + n_right), 0.0D), 6)"
        f" >= {JOIN_FORECAST_BLOWUP} THEN 'pre-aggregate'"
        f" ELSE 'hash-shuffle' END AS plan_hint",
    )


def sql_join_size_forecast(
    ltable: str, lkey: str, rtable: str, rkey: str
) -> str:
    """DuckDB twin of :func:`join_size_forecast`."""
    return f"""
        WITH dl AS (
            SELECT {lkey} AS k, COUNT(*) AS dl FROM {ltable} GROUP BY 1
        ), dr AS (
            SELECT {rkey} AS k, COUNT(*) AS dr FROM {rtable} GROUP BY 1
        ), j AS (
            SELECT dl.dl, dr.dr
            FROM dl FULL OUTER JOIN dr ON dl.k = dr.k
        ), rep AS (
            SELECT CAST(SUM(dl) AS BIGINT) AS n_left,
                   CAST(SUM(dr) AS BIGINT) AS n_right,
                   COUNT(dl) AS n_keys_left,
                   COUNT(dr) AS n_keys_right,
                   COUNT(CASE WHEN dl IS NOT NULL AND dr IS NOT NULL
                         THEN 1 END) AS n_matched_keys,
                   CAST(COALESCE(SUM(dl * dr), 0) AS BIGINT) AS join_rows,
                   CAST(COALESCE(MAX(dl * dr), 0) AS BIGINT) AS max_key_rows
            FROM j
        )
        -- NULLIF, not bare division (ADVICE r10): with disjoint or
        -- empty keys join_rows is 0 and DuckDB's IEEE 0/0.0 yields
        -- NaN, which COALESCE passes through — NULLIF restores the
        -- Spark side's 0.0 parity; same guard on the blowup
        -- denominator for empty inputs
        SELECT n_left, n_right, n_keys_left, n_keys_right,
               n_matched_keys, join_rows, max_key_rows,
               ROUND(COALESCE(max_key_rows
                              / CAST(NULLIF(join_rows, 0) AS DOUBLE),
                              0.0), 6) AS top1_share,
               ROUND(COALESCE(join_rows
                              / CAST(NULLIF(n_left + n_right, 0) AS DOUBLE),
                              0.0), 6) AS blowup,
               ROUND(COALESCE(max_key_rows
                              / CAST(NULLIF(join_rows, 0) AS DOUBLE),
                              0.0) * n_matched_keys, 6) AS skew_ratio,
               CASE WHEN n_right <= {JOIN_FORECAST_BROADCAST_ROWS}
                    THEN 'broadcast-right'
                    WHEN ROUND(COALESCE(max_key_rows
                               / CAST(NULLIF(join_rows, 0) AS DOUBLE),
                               0.0), 6)
                         >= {JOIN_FORECAST_SALT_SHARE}
                    THEN 'salt-hot-keys'
                    WHEN ROUND(COALESCE(join_rows
                               / CAST(NULLIF(n_left + n_right, 0) AS DOUBLE),
                               0.0), 6)
                         >= {JOIN_FORECAST_BLOWUP}
                    THEN 'pre-aggregate'
                    ELSE 'hash-shuffle' END AS plan_hint
        FROM rep
    """


def key_skew_report(df, key: str):
    """Partition-skew diagnostics for a join/agg key — the report that
    decides whether a key needs salting (operators/joins.py) or can
    rely on AQE's skew split: per-key row counts reduced first, then
    one tiny aggregate over the count distribution. max/avg ratio is
    THE number: a ratio of r means the hottest reducer does r times
    the average work, i.e. the stage's wall clock is r/(uniform)
    slower no matter how many executors you add.

    Output (1 row): n_keys, n_rows, max_per_key, avg_per_key,
    p99_per_key, skew_ratio."""
    counts = df.groupBy(key).agg(F.count("*").alias("n"))
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_per_key"),
        F.expr("round(avg(n), 6)").alias("avg_per_key"),
        F.expr("CAST(percentile(n, 0.99) AS DOUBLE)").alias("p99_per_key"),
    ).selectExpr(
        "n_keys",
        "n_rows",
        "max_per_key",
        "avg_per_key",
        "round(p99_per_key, 6) AS p99_per_key",
        "round(max_per_key / avg_per_key, 6) AS skew_ratio",
    )


def sql_key_skew_report(table: str, key: str) -> str:
    return f"""
        WITH counts AS (
            SELECT {key}, COUNT(*) AS n FROM {table} GROUP BY 1
        )
        SELECT COUNT(*) AS n_keys,
               CAST(SUM(n) AS BIGINT) AS n_rows,
               MAX(n) AS max_per_key,
               ROUND(AVG(n), 6) AS avg_per_key,
               ROUND(CAST(quantile_cont(n, 0.99) AS DOUBLE), 6) AS p99_per_key,
               ROUND(MAX(n) / ROUND(AVG(n), 6), 6) AS skew_ratio
        FROM counts
    """
