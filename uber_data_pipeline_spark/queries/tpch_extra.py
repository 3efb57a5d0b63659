"""Extended relational coverage (SURVEY.md §2.2, r1 widening): the
remaining classic TPC-H shapes adapted to the slimmed star schema
(no partsupp table, no shipmode/commitdate/phone columns — each
query keeps the original's PLAN shape and swaps the missing column
for an available stand-in), plus grouping-sets/cube and a
date-spine gap-fill.

Scale notes per query are inline; the shared rules: dims broadcast,
facts shuffle on join keys, aggregates reduce before any join-back,
scalar subqueries (avg thresholds) become broadcast one-row joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uber_data_pipeline_spark.catalog import load_table
from uber_data_pipeline_spark.operators import temporal
from uber_data_pipeline_spark.operators.shares import (
    corr_matrix as _corr_matrix,
    sql_corr_matrix as _sql_corr,
)
from uber_data_pipeline_spark.functions.numeric import davg, dsum, sql_davg, sql_dsum
from uber_data_pipeline_spark.queries import tpch as _tpch
from uber_data_pipeline_spark.queries.tpch import _revenue

_REVENUE = "l_extendedprice * (1 - l_discount)"

# declared priority domain (TPC-H enum) — discovery would cost a scan
ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations, both directions,
    by year. Supplier nation and customer nation resolved through two
    independent broadcast joins of the same dim; the OR'd nation-pair
    filter lands after both (Catalyst pushes each side's IN-list into
    the dim scans)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(dsum(_revenue()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of regional market volume per
    year. Conditional-aggregate ratio (no second pass): the share is
    SUM(CASE WHEN supplier nation)/SUM(*) inside one groupBy."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    n1 = nation.select("n_nationkey", "n_regionkey")
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = dsum(_revenue(), round_to=None)
    target = dsum(
        F.when(F.col("supp_nation") == "NATION_5", _revenue()).otherwise(F.lit(0.0)),
        round_to=None,
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(region), n1.n_regionkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(F.round(target / vol, 6).alias("mkt_share"))
        .orderBy("order_year")
    )


def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit by supplier nation and year. The reference
    schema's ps_supplycost is absent — cost proxy = quantity *
    p_retailprice * 0.5, keeping the shape (fact x part x supplier x
    nation, two numeric columns combined per row before the agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = _revenue() - F.col("l_quantity") * F.col("p_retailprice") * 0.5
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(dsum(profit).alias("profit"))
        .orderBy("nation_name", F.desc("ship_year"))
    )


def tpch_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: line counts split into high/low order priority
    per category (l_returnflag stands in for the absent l_shipmode).
    Two conditional COUNTs in one aggregate — one scan, one shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("return_flag")
    )


def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month — conditional
    aggregate ratio over the lineitem x part join (part broadcast)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = load_table(spark, sf_dir, "part")
    promo = dsum(
        F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0.0)),
        round_to=None,
    )
    total = dsum(_revenue(), round_to=None)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(F.round(100.0 * promo / total, 6).alias("promo_revenue_pct"))
    )


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max revenue for a quarter —
    aggregate then a window MAX over the (already tiny) per-supplier
    totals; ties all kept, exactly like the reference's subquery."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(dsum(_revenue()).alias("total_revenue"))
    )
    w = Window.partitionBy()
    top = rev.withColumn("max_rev", F.max("total_revenue").over(w)).filter(
        F.col("total_revenue") == F.col("max_rev")
    )
    return (
        top.join(F.broadcast(supp), top.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_suppkey").alias("supp_key"),
            F.col("s_name").alias("supp_name"),
            "total_revenue",
        )
        .orderBy("supp_key")
    )


def tpch_q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute
    combo (lineitem is the part-supplier bridge — no partsupp table),
    excluding one brand and restricting sizes. COUNT(DISTINCT) over
    the join, grouped by low-cardinality attribute keys."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 9, 19, 25, 36, 45))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "brand", "type", "size")
    )


def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from small-quantity lines of one brand.
    The correlated per-part AVG subquery becomes an aggregate +
    join-back: per-part thresholds are reduced first (tiny), then
    broadcast back onto the fact scan."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = load_table(spark, sf_dir, "lineitem")
    li_b = li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
    thresholds = (
        li_b.groupBy("l_partkey")
        .agg((F.avg("l_quantity") * 0.5).alias("qty_threshold"))
    )
    return (
        li_b.join(F.broadcast(thresholds), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(
                dsum(F.col("l_extendedprice"), round_to=None) / 7.0, 2
            ).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under three OR'd conjunctive branches over
    part attributes and line quantity — the disjunctive-predicate
    pushdown stress (the common l_partkey = p_partkey equality is
    still the join key; branches evaluate post-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(b1 | b2 | b3).agg(
        dsum(_revenue()).alias("revenue"), F.count("*").alias("n_lines")
    )


def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: rich-but-idle customers by country code (code =
    abs(c_custkey % 7) stands in for the absent phone prefix; abs so
    the planted orderless sentinel's key -1 lands in code 1 and the
    result is non-empty at every SF — organic keys are non-negative,
    where abs is the identity). The scalar AVG subquery is a one-row
    broadcast cross join; NOT EXISTS is a left_anti against orders."""
    from uber_data_pipeline_spark.queries.tpch import _cust_with_sentinel

    cust = _cust_with_sentinel(spark, sf_dir).withColumn(
        "cntrycode", F.abs(F.col("c_custkey") % 7).cast("int")
    ).filter(F.col("cntrycode").isin(1, 3, 5))
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part within one region
    (lineitem min price stands in for ps_supplycost). Offers reduce
    to (part, supplier) minima FIRST, then a rank()=1 window picks
    the per-part argmin with deterministic ties — the window runs on
    the already-aggregated (small) relation, never the fact table."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    offers = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            "l_partkey",
            "l_suppkey",
            F.col("s_name").alias("supp_name"),
            F.col("s_acctbal").alias("supp_acctbal"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(F.min("l_extendedprice").alias("min_price"))
    )
    w = Window.partitionBy("l_partkey").orderBy("min_price", "l_suppkey")
    return (
        offers.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("l_partkey").alias("part_key"),
            F.col("l_suppkey").alias("supp_key"),
            "supp_name",
            "supp_acctbal",
            "nation_name",
            "min_price",
        )
        .orderBy(F.desc("supp_acctbal"), "part_key")
        .limit(100)
    )


# Benford's-law first-digit expectations, log10(1 + 1/d) pre-rounded
# to 6 dp as integer micro-units — CONSTANTS, so no transcendental
# ever runs in either engine
BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit over order totals —
    the classic forensic-accounting screen (Nigrini 2012): naturally
    occurring amounts put ~30.1% of first digits at 1, and fabricated
    or capped data deviates. One row per digit 1-9 with the observed
    share, the Benford expectation, and the absolute deviation, all
    in integer micro-units.

    Determinism: the digit is the first character of the CENTS
    integer rendered as a string (round(price * 100) -> BIGINT ->
    plain decimal text in both engines) — no log10, no float
    formatting; expectations are pre-rounded literals; shares are
    integer micro-divisions against the 1-row total broadcast.

    Scale shape: one map-side-combined digit count (9 groups) + a
    1-row COUNT broadcast onto those 9 rows. Columns: digit, n,
    share_micro, benford_micro, dev_micro."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.selectExpr(
        "substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)"
        " AS STRING), 1, 1) AS d"
    ).groupBy(F.col("d").cast("int").alias("digit")).agg(
        F.count("*").alias("n")
    )
    total = orders.agg(F.count("*").alias("tot"))
    bexpr = "CASE digit " + " ".join(
        f"WHEN {d} THEN CAST({m} AS BIGINT)" for d, m in BENFORD_MICRO.items()
    ) + " END"
    return (
        digits.join(F.broadcast(total))
        .selectExpr(
            "CAST(digit AS INT) AS digit",
            "CAST(n AS BIGINT) AS n",
            "n * 1000000 DIV tot AS share_micro",
            f"{bexpr} AS benford_micro",
        )
        .selectExpr(
            "digit",
            "n",
            "share_micro",
            "benford_micro",
            "abs(share_micro - benford_micro) AS dev_micro",
        )
    )


def sql_orders_benford_audit() -> str:
    """DuckDB twin of :func:`orders_benford_audit`."""
    bexpr = "CASE digit " + " ".join(
        f"WHEN {d} THEN CAST({m} AS BIGINT)" for d, m in BENFORD_MICRO.items()
    ) + " END"
    return f"""
        WITH digits AS (
            SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0)
                       AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ), tot AS (
            SELECT COUNT(*) AS tot FROM orders
        )
        SELECT digit, n,
               n * 1000000 // tot AS share_micro,
               {bexpr} AS benford_micro,
               abs(n * 1000000 // tot - ({bexpr})) AS dev_micro
        FROM digits, tot
    """


def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(status, year) with GROUPING flags — every subtotal level
    in one pass (Spark expands grouping sets map-side; each set still
    partial-aggregates before the shuffle)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate"))
        .withColumnRenamed("o_orderstatus", "order_status")
    )
    return (
        orders.cube("order_status", "order_year")
        .agg(
            # grouping() must live inside the aggregate clause
            F.grouping("order_status").cast("int").alias("g_status"),
            F.grouping("order_year").cast("int").alias("g_year"),
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            "order_status", "order_year", "g_status", "g_year",
            "n_orders", "total_price",
        )
    )


def orders_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap-fill: daily order counts per priority for 1996
    with missing (day, priority) combos zero-filled. The spine is
    generated (sequence + two chained explodes — no join, no
    driver-side loop) with the priority domain DECLARED, like the
    declared-values pivot: discovering it would cost a distinct scan
    and a nested-loop spine join. The daily aggregate reduces the
    fact FIRST, and the spine join is a broadcast (spine cardinality
    = days x priorities, tiny by construction)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    spine = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.to_date(F.lit("1996-01-01")),
                    F.to_date(F.lit("1996-12-31")),
                    F.expr("interval 1 day"),
                )
            ).alias("day")
        )
        .select(
            "day",
            F.explode(
                F.array(*[F.lit(p) for p in ORDER_PRIORITIES])
            ).alias("order_priority"),
        )
    )
    return (
        F.broadcast(spine)
        .join(daily, ["day", "order_priority"], "left")
        .select(
            "day",
            "order_priority",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value held by one nation's
    suppliers, keeping parts above a share-of-total threshold (no
    partsupp table — value proxy = SUM(l_extendedprice * l_quantity)
    over that nation's shipped lines; the absolute 0.0001-of-total
    HAVING becomes value > 1.2x the mean per-part value so the
    threshold is scale-factor-independent). The scalar subquery is a
    one-row broadcast join onto the already-reduced per-part relation
    — the fact table is aggregated exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    value_per_part = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("l_partkey").alias("part_key"))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_quantity")).alias("part_value"))
    )
    threshold = value_per_part.agg(
        (davg(F.col("part_value")) * 1.2).alias("threshold")
    )
    return (
        value_per_part.join(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("part_key", "part_value")
        .orderBy(F.desc("part_value"), "part_key")
    )


def tpch_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who shipped an
    above-average quantity of a name-prefixed part family in 1996 (no
    partsupp availqty — the "half of shipped quantity" threshold
    becomes the per-part mean across its suppliers). Nested aggregate
    + join-back: per-(part, supplier) quantities reduce first, the
    per-part means reduce off THAT (tiny) relation, and the
    comparison join plus the supplier resolution are broadcasts."""
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("cold%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").like("NATION_1%")
    )
    shipped = (
        li.join(F.broadcast(part_f), li.l_partkey == part_f.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum(F.col("l_quantity")).alias("qty"))
    )
    avg_qty = shipped.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        davg(F.col("qty")).alias("avg_qty")
    )
    excess = (
        shipped.join(F.broadcast(avg_qty), shipped.l_partkey == F.col("a_partkey"))
        .filter(F.col("qty") > F.col("avg_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(excess, supp.s_suppkey == excess.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(F.col("s_suppkey").alias("supp_key"), F.col("s_name").alias("supp_name"))
        .orderBy("supp_key")
    )


def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on a
    multi-supplier finished order (no receipt/commit dates — "late" =
    shipped more than 60 days after the order date). The textbook
    EXISTS + NOT-EXISTS double self-join (the oracle runs that form)
    is re-expressed as ONE per-order aggregate: count the order's
    distinct suppliers, its distinct late suppliers, and its late
    lines; rows with (suppliers >= 2, late suppliers == 1) identify
    the waiting supplier directly. One fact shuffle instead of three
    self-join shuffles — the aggregate output is order-count sized,
    and everything after it is broadcast-joined."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").like("NATION_1%")
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    per_order = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
            F.min(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
            F.sum(F.when(late, 1).otherwise(0)).alias("late_lines"),
        )
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        per_order.join(F.broadcast(supp), per_order.late_supp == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("s_name").alias("supp_name"))
        .agg(F.sum("late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "supp_name")
        .limit(100)
    )



def orders_gapfill_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`orders_daily_gapfill` with the date spine generated by a
    Spark 4 RECURSIVE CTE (WITH RECURSIVE ... MAX RECURSION LEVEL) —
    the declarative recursion surface, pinned to the same oracle as
    the sequence+explode form. Recursion here is monotone (day + 1
    bounded by the year end), so the UNION ALL fixpoint terminates in
    exactly 366 levels; the declared MAX RECURSION LEVEL is the
    safety rail Spark requires past its default 100.

    Same scale shape as the base entry: the fact reduces FIRST, the
    366x5-row spine broadcasts onto the reduced aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    prio_arr = ", ".join(f"'{p}'" for p in ORDER_PRIORITIES)
    spine = spark.sql(f"""
        WITH RECURSIVE days(day) MAX RECURSION LEVEL 400 AS (
            SELECT DATE '1996-01-01' AS day
            UNION ALL
            SELECT date_add(day, 1) FROM days
            WHERE day < DATE '1996-12-31'
        )
        SELECT day, explode(array({prio_arr})) AS order_priority
        FROM days
    """)
    return (
        F.broadcast(spine)
        .join(daily, ["day", "order_priority"], "left")
        .select(
            "day",
            "order_priority",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


def lineitem_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part pairs that appear in
    the same order, ranked by co-purchase count (tie-broken by the
    pair keys so top-100 is deterministic).

    Scale shape: the self-join co-partitions both sides on
    l_orderkey (one shuffle each at most — identical partitioning, so
    a sort-merge join with no extra exchange), and TPC-H orders have
    a bounded line count (~7), so the per-order pair blowup is O(k²)
    with small constant k — never a cross-join. The pair aggregate
    partial-combines map-side; the top-100 is a TakeOrdered, not a
    global sort."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(100)
    )


def parts_abc_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) inventory classification per supplier nation: rank
    parts by revenue within each nation, take the running revenue
    share, and classify A (first 80%), B (to 95%), C (tail).

    Scale shape: the window runs over ALREADY-AGGREGATED
    (nation, part) rows — revenue is reduced before any ranking — and
    partitions by nation, so no global single-partition window. The
    running sum is computed in DECIMAL over a fully tie-broken order
    (revenue desc, part_key), making the fold order — and therefore
    the share at every row — identical in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("l_partkey").alias("part_key"),
        )
        .agg(dsum(_revenue()).alias("revenue"))
    )
    w = Window.partitionBy("nation_name").orderBy(
        F.desc("revenue"), F.asc("part_key")
    )
    wtot = Window.partitionBy("nation_name")
    share = "round(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)"
    return (
        rev.withColumn(
            "cum_rev", F.sum(F.col("revenue").cast("decimal(25,2)")).over(w)
        )
        .withColumn(
            "tot_rev", F.sum(F.col("revenue").cast("decimal(25,2)")).over(wtot)
        )
        .selectExpr(
            "nation_name",
            "part_key",
            "revenue",
            f"{share} AS cum_share",
            f"CASE WHEN {share} <= 0.80 THEN 'A' "
            f"WHEN {share} <= 0.95 THEN 'B' ELSE 'C' END AS abc_class",
        )
    )


def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: yearly aggregate,
    then lag within each nation's (tiny, bounded) year series.

    Scale shape: the window runs over nation x year rows — already
    reduced by the aggregate — partitioned by nation; the fact scan
    aggregates map-side before the (broadcast) dim resolution."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    yearly = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").alias("year"),
        )
        .agg(dsum(F.col("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("nation_name").orderBy("year")
    return (
        yearly.withColumn("prev_revenue", F.lag("revenue").over(w))
        .selectExpr(
            "nation_name",
            "year",
            "revenue",
            "prev_revenue",
            "round((revenue - prev_revenue) / prev_revenue, 6) AS yoy_growth",
        )
    )


def parts_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power-iteration step over the part co-purchase
    graph (edges: parts appearing in the same order, both directions),
    from the uniform unnormalized init r0 = 1:
    r1(v) = 0.15 + 0.85 * sum over in-neighbors u of 1/outdeg(u).

    Iterating this step IS distributed PageRank (same pattern as
    `embeddings_kmeans_step`: expose one deterministic step so the
    oracle replays it exactly — iterated float ranks drift).

    Determinism: 1/outdeg is ONE double division cast to
    DECIMAL(20,12) (deterministic conversion), the neighbor sum is
    decimal (order-free), and the damping mix is two scalar IEEE ops
    on the identical decimal sum — bit-equal in both engines.

    Scale shape (r11: the iterated variant's edge build, backported):
    per-order part SETS expand row-locally into directed pairs (one
    l_orderkey groupBy instead of the former self-join's
    exchange+join; blowup bounded by lines-per-order k² exactly like
    the join form), and ONE collect_set aggregate both dedups the
    edges AND materializes the out-neighbor arrays — outdeg IS the
    array size, so the former distinct + outdeg-count + join-back
    chain (two extra |E| shuffles) is gone. Contributions regenerate
    row-locally with one explode; the contribution sum is a
    map-side-combined groupBy on part keys; no windows, no broadcast
    of anything unbounded."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = sets.selectExpr(
        "explode(flatten(transform(ps, x -> "
        "transform(filter(ps, y -> y != x), "
        "y -> struct(x AS src, y AS dst))))) AS e"
    ).select("e.src", "e.dst")
    deg = pairs.groupBy("src").agg(F.collect_set("dst").alias("dsts"))
    contrib = deg.selectExpr(
        "explode(dsts) AS dst",
        "CAST(1.0 / size(dsts) AS DECIMAL(20,12)) AS contrib",
    )
    return (
        contrib.groupBy(F.col("dst").alias("part_key"))
        .agg(F.sum("contrib").alias("in_sum"))
        .selectExpr(
            "part_key",
            "round(0.15 + 0.85 * CAST(in_sum AS DOUBLE), 9) AS rank1",
        )
    )




PAGERANK_ITERS = 5


def parts_pagerank_iterated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank run to (near-)convergence: PAGERANK_ITERS power
    iterations of `parts_pagerank_step`'s recurrence, plus the final
    step delta — the full iterative-algorithm pattern on Spark, not
    just one step.

    Iteration mechanics (the part Spark makes easy to get wrong):
    the edge relation is CACHED (a loop reuses it every iteration —
    unlike the single-step operator where ReuseExchange suffices), and
    each iteration's rank relation is `localCheckpoint`ed so lineage
    stays one step deep — without the cut, iteration k's plan embeds
    all k-1 predecessors and the DAG (and any retry) grows without
    bound. Same recipe as the connected-components loop
    (operators/dedup.py).

    Determinism: each iteration is the proven decimal-exact step —
    rank/outdeg is one IEEE division cast to DECIMAL(20,12), summed
    exactly, damped with two scalar ops, rounded to 9 — so the oracle
    replays all PAGERANK_ITERS iterations as chained CTEs bit-for-bit.

    Columns: part_key, pr (final rank), delta (|r_K - r_{K-1}|)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # per-order part sets expanded ROW-LOCALLY into directed pairs —
    # one groupBy shuffle instead of the self-join's exchange+join
    # (measured ~30% faster at sf0.1; the blow-up is bounded by
    # lines-per-order k² exactly like the join form). Same edge set
    # as parts_pagerank_step's self-join, so the oracle is unchanged.
    sets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = sets.selectExpr(
        "explode(flatten(transform(ps, x -> "
        "transform(filter(ps, y -> y != x), "
        "y -> struct(x AS src, y AS dst))))) AS e"
    ).select("e.src", "e.dst")
    # recip = 1/outdeg as a 12-digit decimal — the ONLY double op in
    # the whole loop (one IEEE division per source, the construct
    # step-1 validated); every iteration after this is pure decimal
    # arithmetic, so no ROUND(double)-boundary can drift across
    # engines no matter how many iterations run.
    # The whole relation is loop-INVARIANT, so it is cached ONCE — in
    # ADJACENCY-ARRAY form: one row per source with its out-neighbor
    # list (|V| rows instead of |E|), so each iteration scans ~100x
    # less cached data and regenerates the |E| contribution rows
    # row-locally with one explode. outdeg IS the deduped neighbor
    # list's size, so the whole build is ONE aggregate — no separate
    # outdeg count, no join back, and (r11) no separate distinct:
    # collect_set dedups inside the aggregate with map-side partial
    # sets, one |E|-row shuffle instead of two. Each iteration is
    # then exactly one broadcast join + one explode + one partial
    # aggregate.
    # the cache is uncompressed (session.tune_runtime): columnar codecs
    # buy ~nothing on high-entropy bigint neighbor arrays but triple the
    # materialization wall
    deg = (
        pairs.groupBy("src")
        .agg(F.collect_set("dst").alias("dsts"))
        .selectExpr(
            "src",
            "CAST(1.0 / size(dsts) AS DECIMAL(13,12)) AS recip",
            "dsts",
        )
        .cache()
    )
    ranks = None  # r0 = 1.0 implicitly
    prev = None
    for _ in range(PAGERANK_ITERS):
        if ranks is None:
            contrib = deg.selectExpr(
                "explode(dsts) AS dst", "recip AS contrib"
            )
        else:
            # ranks is a localCheckpointed ~|V|-row relation with no
            # catalyst stats — without the explicit broadcast Spark
            # sort-merges the adjacency side against it every iteration
            contrib = deg.join(
                F.broadcast(ranks), deg["src"] == ranks["part_key"]
            ).selectExpr("explode(dsts) AS dst", "pr * recip AS contrib")
        nxt = (
            contrib.groupBy(F.col("dst").alias("part_key"))
            .agg(F.sum("contrib").alias("in_sum"))
            .selectExpr(
                "part_key",
                # two rules keep this bit-equal across engines:
                # (1) in_sum arrives as DECIMAL(38,21); ROUND it to 15
                # BEFORE the 0.85 multiply so the product stays inside
                # precision 38 (past 38 Spark's precision-loss path and
                # DuckDB's overflow handling diverge); (2) every
                # scale-reduction is ROUND(decimal, k) — HALF_UP in
                # BOTH engines — never a bare decimal CAST, whose ties
                # Spark rounds HALF_UP but DuckDB does not
                "CAST(round(0.15 + 0.85 * round(in_sum, 15), 9) "
                "AS DECIMAL(14,9)) AS pr",
            )
            # EAGER checkpoint kept deliberately (r13 A/B, re-confirmed
            # r14): the lazy chain (eager=False) wins 1.2 s at sf0.1
            # but LOSES at sf1 (r13: min 7.85 eager vs 8.79 lazy), and
            # the r14 HYBRID (lazy rounds 1..K-2, one eager at K-1 so
            # the two tail consumers read materialized blocks) lost
            # even harder at sf1 — 6.23 eager vs 9.79/10.83 hybrid,
            # interleaved min-of-3 — while tying at sf0.1 (3.35 vs
            # 3.29/3.41). Scale evidence outranks the local-bench win;
            # VERDICT r13 item 9 is hereby closed as examined-rejected.
            .localCheckpoint()
        )
        prev, ranks = ranks, nxt
    deg.unpersist()
    return (
        ranks.join(
            prev.selectExpr("part_key", "pr AS pr_prev"), "part_key"
        ).selectExpr(
            "part_key",
            "CAST(pr AS DOUBLE) AS pr",
            "CAST(abs(pr - pr_prev) AS DOUBLE) AS delta",
        )
    )


_HOLT_RECURRENCE = """
    WITH RECURSIVE s AS (
        SELECT m, y,
               CAST(ROW_NUMBER() OVER (ORDER BY m) AS INT) AS t
        FROM {src}
    ), holt (t, l, b) AS (
        SELECT CAST(2 AS INT),
               CAST(MAX(CASE WHEN t = 1 THEN y END) AS DECIMAL(25,6)),
               CAST(MAX(CASE WHEN t = 2 THEN y END)
                    - MAX(CASE WHEN t = 1 THEN y END) AS DECIMAL(25,6))
        FROM s WHERE t <= 2
        UNION ALL
        SELECT h.t + 1,
               CAST(ROUND(0.5 * sn.y + 0.5 * (h.l + h.b), 6)
                    AS DECIMAL(25,6)),
               CAST(ROUND(0.5 * (CAST(ROUND(0.5 * sn.y
                          + 0.5 * (h.l + h.b), 6) AS DECIMAL(25,6))
                          - h.l) + 0.5 * h.b, 6) AS DECIMAL(25,6))
        FROM holt h JOIN s sn ON sn.t = h.t + 1
    ), fitted AS (
        SELECT sn.m AS month,
               CAST(sn.y AS DOUBLE) AS revenue,
               CAST(h.l + h.b AS DOUBLE) AS fitted,
               CAST(sn.y - (h.l + h.b) AS DOUBLE) AS residual,
               FALSE AS is_forecast
        FROM holt h JOIN s sn ON sn.t = h.t + 1
    ), last_state AS (
        SELECT h.l, h.b, s.m AS last_m
        FROM holt h JOIN s ON s.t = h.t
        WHERE h.t = (SELECT MAX(t) FROM s)
    )
    SELECT month, revenue, fitted, residual, is_forecast FROM fitted
    UNION ALL
    SELECT {next_month} AS month,
           CAST(NULL AS DOUBLE) AS revenue,
           CAST(l + b AS DOUBLE) AS fitted,
           CAST(NULL AS DOUBLE) AS residual,
           TRUE AS is_forecast
    FROM last_state
"""


def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend over the corpus monthly revenue series —
    the outlier-resistant regression line (median of all pairwise
    slopes; Sen 1968) next to Holt's smoothing and the lm-fit tiers:
    one contaminated month barely moves it where OLS swings.

    Determinism: the series reduces to (month ordinal t, decimal-exact
    revenue y cast to double); every pairwise slope is ONE IEEE
    division of identical doubles; medians are sort + middle element
    (odd) or the exact mean of the two middle elements (even — the
    same interpolation DuckDB's median() applies to doubles), and the
    intercept is the median of (y_i - slope * t_i) per Sen's
    estimator. All pair work happens ROW-LOCALLY on the collected
    span-bounded series (T months -> T(T-1)/2 slopes, control-plane
    sized at any corpus scale — the same reduced-series contract as
    orders_forecast_holt).

    Columns: n_months, n_pairs, slope, intercept (round 6)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("y")
    )
    series = monthly.agg(
        F.expr("sort_array(collect_list(struct(m, y))) AS s")
    ).selectExpr(
        "CAST(size(s) AS BIGINT) AS n_months",
        "transform(s, x -> CAST(months_between(x.m, s[0].m) AS DOUBLE))"
        " AS ts",
        "transform(s, x -> x.y) AS ys",
    )

    def median(arr: str) -> str:
        # empty -> NULL (DuckDB median() semantics); the even branch's
        # element_at(.., 0) would otherwise raise under ANSI on a
        # degenerate 0/1-month series (r11 review)
        return (
            f"CASE WHEN size({arr}) = 0 THEN CAST(NULL AS DOUBLE) "
            f"WHEN size({arr}) % 2 = 1 "
            f"THEN element_at(sort_array({arr}),"
            f" CAST((size({arr}) + 1) DIV 2 AS INT)) "
            f"ELSE (element_at(sort_array({arr}),"
            f" CAST(size({arr}) DIV 2 AS INT)) "
            f"+ element_at(sort_array({arr}),"
            f" CAST(size({arr}) DIV 2 + 1 AS INT)))"
            " / 2 END"
        )

    # n_months < 2 -> no pairs (Spark's sequence(1, 0) is DESCENDING,
    # so the unguarded loop would index out of bounds under ANSI)
    slopes = (
        "CASE WHEN n_months >= 2 THEN "
        "flatten(transform(sequence(1, CAST(n_months AS INT) - 1), "
        "i -> transform(sequence(i + 1, CAST(n_months AS INT)), "
        "j -> (element_at(ys, j) - element_at(ys, i)) "
        "/ (element_at(ts, j) - element_at(ts, i))))) "
        "ELSE CAST(array() AS array<double>) END"
    )
    with_slope = series.selectExpr(
        "n_months",
        "ts",
        "ys",
        f"CAST(size({slopes}) AS BIGINT) AS n_pairs",
        f"{median(slopes)} AS slope",
    )
    resid = (
        "CASE WHEN n_months >= 1 THEN "
        "transform(sequence(1, CAST(n_months AS INT)), "
        "i -> element_at(ys, i) - slope * element_at(ts, i)) "
        "ELSE CAST(array() AS array<double>) END"
    )
    return with_slope.selectExpr(
        "n_months",
        "n_pairs",
        "round(slope, 6) AS slope",
        f"round({median(resid)}, 6) AS intercept",
    )


def orders_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test over the corpus monthly revenue series
    — the nonparametric SIGNIFICANCE twin of the Theil-Sen slope
    (Mann 1945, Kendall 1975): S = sum over month pairs of
    sign(y_j - y_i), with the tie-corrected variance. Emitted as
    EXACT INTEGERS — S and Var(S)*18 = n(n-1)(2n+5) - sum over tie
    groups t(t-1)(2t+5) — so no sqrt/normal-approx ever enters the
    cross-engine compare; a caller forms the z-score downstream.

    Determinism: monthly revenue stays DECIMAL end-to-end (exact
    sums), so every pair sign and tie-group equality is bit-identical
    in both engines. All pair work is ROW-LOCAL on the collected
    span-bounded series (the orders_theilsen_trend contract).

    Columns: n_months, s_stat, var18, trend."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("ysum")
    )
    series = monthly.agg(
        F.expr(
            "sort_array(collect_list(struct(m, CAST(ysum AS"
            " DECIMAL(25,6)) AS y))) AS s"
        )
    ).selectExpr(
        "CAST(size(s) AS BIGINT) AS n_months",
        "transform(s, x -> x.y) AS ys",
    )
    s_stat = (
        "CASE WHEN n_months >= 2 THEN "
        "aggregate(flatten(transform(sequence(1, CAST(n_months AS INT) - 1), "
        "i -> transform(sequence(i + 1, CAST(n_months AS INT)), "
        "j -> CASE WHEN element_at(ys, j) > element_at(ys, i) "
        "THEN CAST(1 AS BIGINT) "
        "WHEN element_at(ys, j) < element_at(ys, i) "
        "THEN CAST(-1 AS BIGINT) ELSE CAST(0 AS BIGINT) END))), "
        "CAST(0 AS BIGINT), (a, x) -> a + x) ELSE CAST(0 AS BIGINT) END"
    )
    run = (
        "CASE WHEN s.run > 0 AND y = s.prev THEN s.run + 1 "
        "ELSE CAST(1 AS BIGINT) END"
    )
    flush = (
        "CASE WHEN s.run >= 2 AND y <> s.prev "
        "THEN s.acc + s.run * (s.run - 1) * (2 * s.run + 5) ELSE s.acc END"
    )
    tie_term = (
        "aggregate(sort_array(ys), "
        "named_struct('prev', CAST(NULL AS DECIMAL(25,6)), "
        "'run', CAST(0 AS BIGINT), 'acc', CAST(0 AS BIGINT)), "
        f"(s, y) -> named_struct('prev', y, 'run', {run}, 'acc', {flush}), "
        "s -> CASE WHEN s.run >= 2 "
        "THEN s.acc + s.run * (s.run - 1) * (2 * s.run + 5) ELSE s.acc END)"
    )
    return series.selectExpr(
        "n_months",
        f"{s_stat} AS s_stat",
        f"n_months * (n_months - 1) * (2 * n_months + 5) - {tie_term}"
        " AS var18",
    ).selectExpr(
        "n_months",
        "s_stat",
        "var18",
        "CASE WHEN s_stat > 0 THEN 'increasing' "
        "WHEN s_stat < 0 THEN 'decreasing' ELSE 'no_trend' END AS trend",
    )


def sql_orders_mann_kendall() -> str:
    """DuckDB twin of :func:`orders_mann_kendall` — relational pair
    join + tie-group aggregate over the reduced monthly series."""
    return """
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                        AS DECIMAL(25,6)) AS y
            FROM orders GROUP BY 1
        ), pr AS (
            SELECT COALESCE(SUM(CASE WHEN b.y > a.y THEN 1
                                     WHEN b.y < a.y THEN -1
                                     ELSE 0 END), 0) AS s_stat
            FROM monthly a JOIN monthly b ON b.m > a.m
        ), nn AS (
            SELECT COUNT(*) AS n FROM monthly
        ), ties AS (
            SELECT COALESCE(SUM(c * (c - 1) * (2 * c + 5)), 0) AS tie_term
            FROM (SELECT COUNT(*) AS c FROM monthly
                  GROUP BY y HAVING COUNT(*) >= 2)
        )
        SELECT CAST(nn.n AS BIGINT) AS n_months,
               CAST(pr.s_stat AS BIGINT) AS s_stat,
               CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term
                    AS BIGINT) AS var18,
               CASE WHEN pr.s_stat > 0 THEN 'increasing'
                    WHEN pr.s_stat < 0 THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM nn, pr, ties
    """


def sql_orders_theilsen_trend() -> str:
    """DuckDB twin of :func:`orders_theilsen_trend` — relational pair
    join over the reduced monthly series; median() on doubles is the
    same middle-two interpolation the Spark fold computes."""
    return """
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                        AS DOUBLE) AS y
            FROM orders GROUP BY 1
        ), idx AS (
            SELECT CAST(date_diff('month',
                       (SELECT MIN(m) FROM monthly), m) AS DOUBLE) AS t,
                   y
            FROM monthly
        ), slopes AS (
            SELECT (b.y - a.y) / (b.t - a.t) AS sl
            FROM idx a JOIN idx b ON b.t > a.t
        ), sl AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   median(sl) AS slope
            FROM slopes
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM monthly) AS n_months,
               sl.n_pairs,
               round(sl.slope, 6) AS slope,
               round(median(i.y - sl.slope * i.t), 6) AS intercept
        FROM idx i, sl
        GROUP BY 2, 3, sl.slope
    """


def orders_forecast_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (alpha = beta = 1/2)
    over the corpus monthly revenue series — the time-series
    FORECASTING duty (one-step-ahead fitted values + the next-month
    forecast) next to the gapfill/window/seasonal family.

    Determinism: the level/trend recurrence is all-decimal — revenue
    is the decimal-exact monthly sum, every term rounds to 6 and
    CASTs back to DECIMAL(25,6) (a fixed point per step, so precision
    cannot creep and Spark's precision-loss path never fires), and
    alpha = 1/2 is exactly representable. The Spark side runs the
    recurrence as ONE ordered higher-order aggregate() fold over the
    sorted (month, y) array; the DuckDB oracle runs it as a recursive
    CTE — identical rounding at every step makes the two
    bit-equal. (Spark's own WITH RECURSIVE computes the same values —
    orders_gapfill_rcte proves the surface — but pays a whole
    job per recursion level: measured 17 s for the 80-level chain vs
    milliseconds for the fold; an un-materialized source even
    re-aggregated the full fact per level, 175 s at sf1. The fold is
    the plan a bounded per-key recurrence deserves.)

    Scale shape: the fact table reduces to one row per month FIRST
    (map-side partial aggregate); the collect_list/fold runs on that
    span-bounded series — control-plane sized at any corpus scale.
    Output: month, revenue, fitted, residual, is_forecast (months
    3..T plus one forecast row)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("m")
    ).agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(25,6)")), 2
        ).alias("y")
    )
    new_l = "CAST(round(0.5 * x.y + 0.5 * (acc.l + acc.b), 6) AS DECIMAL(25,6))"
    state = monthly.agg(
        F.expr("sort_array(collect_list(struct(m, y))) AS s")
    ).selectExpr(
        f"""aggregate(
            slice(s, 3, greatest(size(s) - 2, 0)),
            named_struct(
              'l', CAST(try_element_at(s, 1).y AS DECIMAL(25,6)),
              'b', CAST(try_element_at(s, 2).y - try_element_at(s, 1).y
                        AS DECIMAL(25,6)),
              'fits', CAST(array() AS array<struct<
                  m: timestamp, y: decimal(32,2), fit: decimal(26,6)>>)),
            (acc, x) -> named_struct(
              'l', {new_l},
              'b', CAST(round(0.5 * ({new_l} - acc.l) + 0.5 * acc.b, 6)
                        AS DECIMAL(25,6)),
              'fits', concat(acc.fits, array(named_struct(
                  'm', x.m, 'y', x.y,
                  'fit', CAST(acc.l + acc.b AS DECIMAL(26,6))))))
        ) AS st""",
        "element_at(s, -1).m AS last_m",
    ).localCheckpoint()
    fitted = state.selectExpr("inline(st.fits)").selectExpr(
        "m AS month",
        "CAST(y AS DOUBLE) AS revenue",
        "CAST(fit AS DOUBLE) AS fitted",
        "CAST(y - fit AS DOUBLE) AS residual",
        "FALSE AS is_forecast",
    )
    forecast = state.selectExpr(
        "CAST(add_months(CAST(last_m AS DATE), 1) AS TIMESTAMP) AS month",
        "CAST(NULL AS DOUBLE) AS revenue",
        "CAST(st.l + st.b AS DOUBLE) AS fitted",
        "CAST(NULL AS DOUBLE) AS residual",
        "TRUE AS is_forecast",
    )
    return fitted.unionByName(forecast)


def sql_orders_forecast_holt() -> str:
    return (
        "WITH RECURSIVE monthly AS MATERIALIZED ("
        "SELECT date_trunc('month', o_orderdate) AS m, "
        "ROUND(SUM(CAST(o_totalprice AS DECIMAL(25,6))), 2) AS y "
        "FROM orders GROUP BY 1), "
        + _HOLT_RECURRENCE.format(
            src="monthly",
            next_month="CAST(CAST(last_m AS DATE) + INTERVAL 1 MONTH"
            " AS DATE)",
        ).replace("WITH RECURSIVE ", "", 1)
    )


LPA_ITERS = 4


def parts_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph via
    SYNCHRONOUS label propagation (Raghavan et al. 2007), LPA_ITERS
    fixed rounds: every vertex starts as its own label; each round it
    adopts the most frequent label among its neighbors, ties broken
    by the smallest label; isolated vertices keep their own. Fixed
    synchronized rounds + a total tie order make the (normally
    randomized) algorithm bit-deterministic, so the oracle replays
    all rounds as chained CTEs — the third graph duty next to ranking
    (parts_pagerank_*) and reachability (dedup_clusters).

    Iteration mechanics: the pagerank_iterated recipe — loop-invariant
    adjacency ARRAYS cached once (|V| rows, not |E|), each round's
    label relation localCheckpointed (lineage stays one step deep) and
    broadcast back onto the adjacency (|V|-row relation, the same
    justified broadcast as the rank loop). Per-round work (r11
    constant-factor pass, VERDICT r10 item 4): one broadcast join +
    explode + map-side-combined (v, label) count + ONE more aggregate
    ``max(struct(c, -label))`` whose lexicographic order IS the
    tie-break (max count, then min label) — the former per-vertex
    row_number window (sort machinery per round) and the per-round
    carry-forward LEFT JOIN are both gone: the adjacency is symmetric
    and static, so every non-isolated vertex receives votes EVERY
    round, and isolated vertices keep their own label forever — a
    loop-invariant relation computed once and unioned back each round.

    Columns: part_key, community (final label), community_size."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return _lpa_from_lineitem(li)


def _lpa_from_lineitem(li: DataFrame, iters: int | None = None) -> DataFrame:
    """Label propagation over the co-purchase graph.

    Cache contract (ADVICE r13): ``adj`` stays cached through the
    returned plan's action — the lazy checkpoint chain would fire an
    in-loop unpersist before execution — so the CALLER owns releasing
    it (clearCache / unpersist-all between queries, as bench.py and
    every harness here do). A long-lived session invoking this
    repeatedly without clearing leaks one |V|-row cache per call."""
    sets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = sets.selectExpr(
        "explode(flatten(transform(ps, x -> "
        "transform(filter(ps, y -> y != x), "
        "y -> struct(x AS src, y AS dst))))) AS e"
    ).select("e.src", "e.dst")
    # collect_set dedups INSIDE the aggregate (partial sets merge
    # map-side), fusing the former distinct + collect_list pair of
    # |E|-row shuffles into one — the adjacency build was 60% of the
    # 50x wall (r11 profile: 62.6s of 107s).  The cache is
    # materialized UNCOMPRESSED (session.tune_runtime: 52s compressed
    # vs 18s raw at 50x; localCheckpoint 33s, parquet restage 22s —
    # the raw columnar cache wins).
    adj = (
        pairs.groupBy("src")
        .agg(F.collect_set("dst").alias("nbrs"))
        .cache()
    )
    labels = (
        li.select(F.col("l_partkey").alias("v"))
        .distinct()
        .selectExpr("v", "v AS label")
        .localCheckpoint(eager=False)
    )
    # loop-invariant: vertices with no edges never receive a vote and
    # keep their own label in every round (single-part orders); the
    # symmetric adjacency guarantees every OTHER vertex is voted on
    # every round, so the per-round carry-forward join collapses to
    # this static union
    iso = labels.join(
        adj.select(F.col("src").alias("v")), "v", "left_anti"
    ).localCheckpoint(eager=False)
    # r14 A/B note: the "obvious" plan-shrink restructure (iso unioned
    # ONCE after the loop + round-1 fused to explode(adj) with
    # label=src) was implemented and REJECTED on scale evidence — it
    # tied/lost slightly at sf0.1 (3.32 -> 3.44 min interleaved) and
    # lost BADLY at sf1 (8.44 -> 10.91): the per-round union of the
    # checkpointed iso blocks is what keeps every round's broadcast
    # input fully materialized; without it the tail re-enters lazy
    # subtrees mid-action. Keep this shape.
    for _ in range(LPA_ITERS if iters is None else iters):
        nbr = adj.join(
            F.broadcast(labels), adj["src"] == labels["v"]
        ).selectExpr("explode(nbrs) AS v", "label")
        best = (
            # ONE exchange per round, not two (r13): hash-partitioning
            # by v alone satisfies the clustering requirement of BOTH
            # aggregates below ({v} ⊆ {v,label}), so the explicit
            # repartition lets the (v,label) count AND the per-v max
            # pipeline in a single post-shuffle stage. The staged
            # two-exchange form shuffled the vote rows twice (partial
            # aggregation dedups little here — neighbor labels are
            # diverse until convergence), ~1.4|E| rows per round vs
            # 1.0|E| now; measured 14.5 -> 7.2 s for the 4-round loop
            # at sf1, identical output hash.
            nbr.repartition("v")
            .groupBy("v", "label")
            .agg(F.count("*").alias("c"))
            # lexicographic max = (max count, then MIN label): the
            # window-free mode-with-tie-break, two partial-aggregated
            # phases instead of a per-round sort
            .groupBy("v")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .selectExpr("v", "-m.nl AS label")
        )
        # LAZY checkpoint chain (r13, same as the rank loop): fixed
        # round count -> no per-round driver action; e2e 4.1 -> 3.7 s
        # at sf0.1, identical hash. adj stays cached through the
        # consumer's action (harnesses clear caches between entries).
        labels = best.unionByName(iso).localCheckpoint(eager=False)
    sizes = labels.groupBy("label").agg(
        F.count("*").cast("long").alias("community_size")
    )
    return labels.join(F.broadcast(sizes), "label").selectExpr(
        "v AS part_key", "label AS community", "community_size"
    )


def _label_propagation_oracle(iters: int = LPA_ITERS) -> str:
    ctes = [
        """pairs AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey != b.l_partkey
        )""",
        # every l{k} is MATERIALIZED: each round's labels feed BOTH
        # the next round's count join and the next carry-forward left
        # join — inlined, DuckDB re-expands the chain into both
        # consumers per level (2^k plan growth; timed out past 240 s
        # at sf1, instant materialized)
        """l0 AS MATERIALIZED (
            SELECT DISTINCT l_partkey AS v, l_partkey AS label
            FROM lineitem
        )""",
    ]
    for k in range(1, iters + 1):
        ctes.append(f"""c{k} AS (
            SELECT p.dst AS v, l.label, COUNT(*) AS c
            FROM pairs p JOIN l{k - 1} l ON l.v = p.src
            GROUP BY 1, 2
        )""")
        ctes.append(f"""b{k} AS (
            SELECT v, label FROM (
                SELECT v, label, ROW_NUMBER() OVER (
                    PARTITION BY v ORDER BY c DESC, label ASC) AS rn
                FROM c{k}
            ) WHERE rn = 1
        )""")
        ctes.append(f"""l{k} AS MATERIALIZED (
            SELECT l.v, COALESCE(b.label, l.label) AS label
            FROM l{k - 1} l LEFT JOIN b{k} b ON b.v = l.v
        )""")
    return f"""
        WITH {', '.join(ctes)}
        SELECT l.v AS part_key, l.label AS community, s.community_size
        FROM l{iters} l JOIN (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
            FROM l{iters} GROUP BY 1
        ) s ON s.label = l.label
    """


def _pagerank_iterated_oracle(iters: int = PAGERANK_ITERS) -> str:
    ctes = [
        # MATERIALIZED: deg feeds all `iters` recurrence joins — left
        # inlined, DuckDB recomputed the quadratic pair-distinct once
        # per iteration (spilled past 240 s at sf1; 14 s materialized)
        """pairs AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey != b.l_partkey
        )""",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM pairs GROUP BY 1)",
        """deg AS MATERIALIZED (
            SELECT src, dst, CAST(1.0 / outdeg AS DECIMAL(13,12)) AS recip
            FROM pairs JOIN outdeg USING (src)
        )""",
        """r1 AS (
            SELECT dst AS part_key,
                   CAST(ROUND(0.15 + 0.85 * ROUND(SUM(recip), 15), 9)
                        AS DECIMAL(14,9)) AS pr
            FROM deg GROUP BY 1
        )""",
    ]
    for k in range(2, iters + 1):
        ctes.append(f"""r{k} AS (
            SELECT deg.dst AS part_key,
                   CAST(ROUND(0.15 + 0.85 * ROUND(SUM(r.pr * deg.recip),
                                                        15), 9)
                        AS DECIMAL(14,9)) AS pr
            FROM deg JOIN r{k - 1} r ON r.part_key = deg.src
            GROUP BY 1
        )""")
    return f"""
        WITH {', '.join(ctes)}
        SELECT a.part_key,
               CAST(a.pr AS DOUBLE) AS pr,
               CAST(ABS(a.pr - b.pr) AS DOUBLE) AS delta
        FROM r{iters} a JOIN r{iters - 1} b USING (part_key)
    """




RULES_MIN_PAIR_ORDERS = 2
RULES_TOPK = 100


def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: for part pairs
    co-occurring in >= RULES_MIN_PAIR_ORDERS orders, emit
    support = P(a,b), confidence = P(b|a), lift = P(a,b)/(P(a)P(b)) —
    the affinity layer on top of the co-purchase counts.

    Determinism: all inputs are exact distinct-order counts; each
    metric is computed with at most two IEEE ops on those integers
    (lift as ONE expression: pair_n * total / (n_a * n_b), integer
    products < 2^53), rounded once.

    Scale shape (r13): ONE per-order set aggregation feeds everything
    — the orderkey-local collect_set that triangle census / pagerank
    already use (one groupBy shuffle; per-order k² pair expansion is
    ROW-LOCAL and already distinct because sets dedup within the
    aggregate, so the former lineitem self-join + 4.2M-row DISTINCT
    is gone). Per-part order counts are one explode + count over the
    same cached sets (a set row per (order, part) IS the
    count-distinct), and the corpus total is the sets' row count.
    Measured 2.27 -> 1.40 s at sf0.1 and 7.16 -> 2.81 s at sf1,
    identical result hash; exchanges 4 -> 2 on the pair path. The
    per-part counts join back on part keys (broadcast at dim-like
    part cardinality, shuffle-hash beyond); the corpus total is a
    1-row broadcast. Top-k is a TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # cached: feeds the pair expansion, the per-part counts, and the
    # corpus total
    sets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    ).cache()
    # cached: joined back twice (antecedent and consequent sides)
    part_orders = (
        sets.selectExpr("explode(ps) AS l_partkey")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_part"))
        .cache()
    )
    pair_orders = (
        sets.selectExpr(
            "explode(flatten(transform(ps, (x, i) -> "
            "transform(slice(ps, i + 2, size(ps)), "
            "y -> named_struct('part_a', least(x, y), "
            "'part_b', greatest(x, y)))))) AS e"
        )
        .select("e.part_a", "e.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= RULES_MIN_PAIR_ORDERS)
    )
    total = sets.agg(F.count("*").cast("long").alias("total_orders"))
    na = part_orders.selectExpr("l_partkey AS part_a", "n_part AS n_a")
    nb = part_orders.selectExpr("l_partkey AS part_b", "n_part AS n_b")
    return (
        pair_orders.join(na, "part_a")
        .join(nb, "part_b")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "part_a",
            "part_b",
            "pair_n",
            "round(pair_n / CAST(total_orders AS DOUBLE), 9) AS support",
            "round(pair_n / CAST(n_a AS DOUBLE), 9) AS confidence",
            "round((pair_n * total_orders) / CAST(n_a * n_b AS DOUBLE), 9)"
            " AS lift",
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(RULES_TOPK)
    )


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of lineitem's numeric measures
    from ONE decimal-exact moments pass (operators/shares.corr_matrix
    — mergeable moments, deterministic decimal sums, engine-shared
    final formula; variance clamp documented there)."""
    return _corr_matrix(load_table(spark, sf_dir, "lineitem"))


def copurchase_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph (parts are nodes, an
    edge = the two parts share >= 1 order): one summary row with
    n_nodes / n_edges / n_wedges / n_triangles and the global
    clustering coefficient 3*T/W in exact integer micro-units.

    Scale shape: edges come from the orderkey-local pair join (O(k^2)
    per order, k ~ 7) + DISTINCT; triangles are counted on the
    DEGREE-ORIENTED edge relation (edges directed low->high
    (deg, id)) — the textbook compact-forward algorithm: out-degrees
    are bounded by ~sqrt(E), so the wedge join e1(u->v) |><| e2(u->w)
    expands sum(outdeg^2) rows instead of the hub-quadratic
    sum(indeg*outdeg) an id-orientation pays (measured 11.4 s -> the
    id-ordered wedge relation was 46x the edge count on sf0.1's hub
    parts), and closure is one equi-join on BOTH endpoints. The
    triangle COUNT is orientation-invariant, so the oracle keeps the
    trivially-readable id-ordered twin. Wedge count is closed-form
    sum C(deg, 2) from the degree relation — never materialized. The
    oriented-edge relation is cached — it feeds both sides of the
    wedge join and the closure probe; the bench harness clears caches
    per query.
    Clustering coeff stays integer ((3*T*1e6) DIV W) so the oracle
    hash is type-stable — no double rounding at the boundary.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # per-order pair generation: ONE shuffle (the groupBy) and a
    # row-local O(k^2) pair expansion over each small basket — vs the
    # self-join form's two scan shuffles + a 3.5x-larger pre-distinct
    # pair stream (measured 6.3 s -> 2.9 s for this phase at sf0.1)
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .selectExpr(
            "explode(flatten(transform(ps, (x, i) -> "
            "transform(slice(ps, i + 2, size(ps)), "
            "y -> named_struct('u', least(x, y), 'v', greatest(x, y)))))) AS e"
        )
        .select("e.u", "e.v")
        .distinct()
        .cache()
    )
    # deg feeds THREE consumers (the wedge closed form and both
    # orientation broadcasts) and adj below feeds both wedge-join
    # broadcast builds — without a boundary each consumer re-runs the
    # aggregate over the cached edges (Catalyst shares no subtrees
    # across consumers). Both are node-cardinality relations (r14).
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .cache()
    )
    nodes_wedges = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) DIV 2")).cast("long").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count("*").cast("long").alias("n_edges"))
    # degree-orient: every edge points from the smaller to the larger
    # (deg, id) key, bounding out-degrees by ~sqrt(E)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # the degree relation is node-cardinality (orders of magnitude
    # below edges) — broadcast it; beyond broadcast range this
    # becomes a pair of shuffle joins on u / v
    oriented = (
        edges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .selectExpr(
            "CASE WHEN named_struct('d', du, 'n', u) < "
            "named_struct('d', dv, 'n', v) THEN u ELSE v END AS s",
            "CASE WHEN named_struct('d', du, 'n', u) < "
            "named_struct('d', dv, 'n', v) THEN v ELSE u END AS t",
        )
        .cache()
    )
    # edge-iterator closure: a triangle {a,b,c} ((deg,id)-ordered) is
    # found EXACTLY once, at its base edge a->b, as c in
    # N_out(a) n N_out(b). The per-edge set intersection is row-local
    # (arrays bounded by the sqrt-capped out-degree), so the plan
    # joins E rows against the adjacency relation instead of
    # materializing the sum(outdeg^2) directed-wedge relation.
    # Measured at sf0.1 (dense graph: 20k nodes, 1.2M edges, avg deg
    # 120, 148M wedges): whole query 11.4 s -> 6.8 s, with the pair
    # generation 6.3 -> 0.8 s and the closure kernel at ~3 s (72M
    # row-local comparisons — the intrinsic O(E^1.5)-ish work).
    adj = oriented.groupBy("s").agg(F.collect_list("t").alias("nbrs")).cache()
    tri = (
        oriented.join(
            F.broadcast(adj.select(F.col("s"), F.col("nbrs").alias("nu"))),
            "s",
        )
        .join(
            F.broadcast(
                adj.select(F.col("s").alias("t"), F.col("nbrs").alias("nv"))
            ),
            "t",
        )
        .selectExpr("size(array_intersect(nu, nv)) AS c")
        .agg(F.sum("c").cast("long").alias("n_triangles"))
    )
    return (
        nodes_wedges.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .selectExpr(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            "CASE WHEN n_wedges > 0 THEN 3 * n_triangles * 1000000 DIV n_wedges "
            "ELSE 0 END AS clustering_micro",
        )
    )


def orders_moving_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing window per priority over the DAILY aggregate:
    for each (priority, day), the trailing-week order count, revenue
    sum, and how many of the 7 calendar days actually traded — a
    RANGE frame on the integer day number, so gaps in the calendar
    shrink n_days_traded instead of silently stretching the window
    (the rows-frame bug).

    Scale shape: the fact reduces to (priority, day) FIRST (one
    partial-aggregated shuffle); the window runs over that reduced
    relation partitioned by priority — 5 bounded partitions of ~2.4k
    rows at any SF, never a global sort of the fact. Sums stay in
    DECIMAL inside the frame (order-independent), cast out at the
    end; no double division anywhere, so the hash is engine-stable."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')"
            ).alias("day_num"),
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(25,2)")).alias("rev"),
        )
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "priority",
        "day_num",
        "n_orders",
        F.sum("n_orders").over(w).cast("long").alias("n_orders_7d"),
        F.round(F.sum("rev").over(w), 2).cast("double").alias("revenue_7d"),
        F.count("*").over(w).cast("long").alias("n_days_traded_7d"),
    )


INTERVAL_BIN_DAYS = 30


def orders_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length interval join: each URGENT order opens a
    per-nation follow-up window of 1 + o_orderkey % 28 days; count
    the non-urgent orders of the SAME customer nation dated inside
    it.

    Scale shape (r10): the PREFIX-SUM variant
    (operators/temporal.py interval_point_counts_prefix) — the r10
    scale ladder measured the former binned join's candidate volume
    at 2.7e8/6.6e9 for 10x/50x rows (12.8 s/90 s cold) because the
    key space here is FIXED (25 nations x ~81 bins): densifying both
    sides of the same 2,025 groups is quadratic while the answer is
    linear. Counts collapse to cum(e) - cum(s-1) over the reduced
    (nation, day) daily series: one map-side-combined groupBy, a
    span-bounded window cumsum, two broadcast lookups — O(input)
    work, no shuffle on the interval side. The generic binned
    operator (interval_point_counts) remains for corpus-scaling key
    spaces."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    epoch = "DATE '1970-01-01'"
    based = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .selectExpr(
            "o_orderkey",
            "o_orderpriority",
            "c_nationkey",
            f"datediff(CAST(o_orderdate AS DATE), {epoch}) AS day_num",
        )
    )
    intervals = based.filter(F.col("o_orderpriority") == "1-URGENT").selectExpr(
        "o_orderkey AS interval_id",
        "c_nationkey",
        "day_num AS s_day",
        "day_num + 1 + o_orderkey % 28 AS e_day",
    )
    points = based.filter(F.col("o_orderpriority") != "1-URGENT").selectExpr(
        "c_nationkey", "day_num AS p_day"
    )
    return temporal.interval_point_counts_prefix(
        intervals, points, "c_nationkey", "interval_id"
    )


QUERIES = {
    "lineitem_copurchase_pairs": lineitem_copurchase_pairs,
    "copurchase_triangle_census": copurchase_triangle_census,
    "orders_interval_join": orders_interval_join,
    "orders_moving_window": orders_moving_window,
    "parts_abc_by_nation": parts_abc_by_nation,
    "orders_yoy_growth": orders_yoy_growth,
    "parts_pagerank_step": parts_pagerank_step,
    "parts_pagerank_iterated": parts_pagerank_iterated,
    "parts_label_propagation": parts_label_propagation,
    "orders_forecast_holt": orders_forecast_holt,
    "orders_theilsen_trend": orders_theilsen_trend,
    "orders_mann_kendall": orders_mann_kendall,
    "basket_association_rules": basket_association_rules,
    "tpch_q7_volume_shipping": tpch_q7_volume_shipping,
    "tpch_q8_market_share": tpch_q8_market_share,
    "tpch_q9_product_profit": tpch_q9_product_profit,
    "tpch_q12_priority_lines": tpch_q12_priority_lines,
    "tpch_q14_promo_revenue": tpch_q14_promo_revenue,
    "tpch_q15_top_supplier": tpch_q15_top_supplier,
    "tpch_q16_supplier_part_count": tpch_q16_supplier_part_count,
    "tpch_q17_small_qty_revenue": tpch_q17_small_qty_revenue,
    "tpch_q19_disjunctive_revenue": tpch_q19_disjunctive_revenue,
    "tpch_q22_global_sales_opportunity": tpch_q22_global_sales_opportunity,
    "tpch_q2_min_cost_supplier": tpch_q2_min_cost_supplier,
    "tpch_q11_important_stock": tpch_q11_important_stock,
    "tpch_q20_excess_shippers": tpch_q20_excess_shippers,
    "tpch_q21_waiting_suppliers": tpch_q21_waiting_suppliers,
    "orders_cube": orders_cube,
    "orders_benford_audit": orders_benford_audit,
    "orders_daily_gapfill": orders_daily_gapfill,
    "lineitem_corr_matrix": lineitem_corr_matrix,
    "orders_gapfill_rcte": orders_gapfill_rcte,
}

# Declared scalar-broadcast plans (see queries/tpch.py for the
# contract; tests/test_plans.py enforces tag set == plan scan).
SCALAR_BROADCAST = {
    # 1-row global avg-sales threshold broadcast onto the customer scan
    "tpch_q22_global_sales_opportunity",
    # 1-row mean-value threshold broadcast onto the reduced per-part agg
    "tpch_q11_important_stock",
    # 1-row total-orders broadcast onto the reduced pair relation
    "basket_association_rules",
    # three 1-row aggregates (nodes+wedges, edges, triangles)
    # crossJoined into the single census row
    "copurchase_triangle_census",
    # r11: 1-row COUNT broadcast onto the 9-row digit histogram
    "orders_benford_audit",
}

ORACLES = {
    "orders_moving_window": """
        WITH daily AS (
            SELECT o_orderpriority AS priority,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day_num,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS rev
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1, 2
        )
        SELECT priority, day_num, n_orders,
               CAST(SUM(n_orders) OVER w AS BIGINT) AS n_orders_7d,
               CAST(ROUND(SUM(rev) OVER w, 2) AS DOUBLE) AS revenue_7d,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_days_traded_7d
        FROM daily
        WINDOW w AS (PARTITION BY priority ORDER BY day_num
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "orders_interval_join": """
        WITH based AS (
            SELECT o_orderkey, o_orderpriority, c_nationkey,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day_num
            FROM orders JOIN customer ON o_custkey = c_custkey
        ), iv AS (
            SELECT o_orderkey AS interval_id, c_nationkey,
                   day_num AS s_day,
                   day_num + 1 + o_orderkey % 28 AS e_day
            FROM based WHERE o_orderpriority = '1-URGENT'
        ), pts AS (
            SELECT c_nationkey, day_num AS p_day
            FROM based WHERE o_orderpriority <> '1-URGENT'
        )
        SELECT interval_id, CAST(COUNT(*) AS BIGINT) AS n_points
        FROM iv JOIN pts
          ON iv.c_nationkey = pts.c_nationkey
         AND pts.p_day BETWEEN iv.s_day AND iv.e_day
        GROUP BY 1
    """,
    "copurchase_triangle_census": """
        WITH edges AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT u AS node FROM edges
                UNION ALL
                SELECT v AS node FROM edges
            ) GROUP BY 1
        ), nw AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
            FROM deg
        ), ne AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges
        ), tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
        )
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges > 0
                    THEN 3 * n_triangles * 1000000 // n_wedges
                    ELSE 0 END AS clustering_micro
        FROM nw, ne, tri
    """,
    "lineitem_copurchase_pairs": """
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a, part_b
        LIMIT 100
    """,
    "basket_association_rules": f"""
        WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        part_orders AS (
            SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS n_part
            FROM li GROUP BY 1
        ),
        pair_orders AS (
            SELECT part_a, part_b, COUNT(*) AS pair_n FROM (
                SELECT DISTINCT a.l_partkey AS part_a, b.l_partkey AS part_b,
                       a.l_orderkey AS okey
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
            ) GROUP BY 1, 2
            HAVING COUNT(*) >= {RULES_MIN_PAIR_ORDERS}
        ),
        total AS (SELECT COUNT(DISTINCT l_orderkey) AS total_orders FROM li)
        SELECT part_a, part_b, pair_n,
               ROUND(pair_n / CAST(total_orders AS DOUBLE), 9) AS support,
               ROUND(pair_n / CAST(na.n_part AS DOUBLE), 9) AS confidence,
               ROUND((pair_n * total_orders) /
                     CAST(na.n_part * nb.n_part AS DOUBLE), 9) AS lift
        FROM pair_orders
        JOIN part_orders na ON na.l_partkey = part_a
        JOIN part_orders nb ON nb.l_partkey = part_b
        CROSS JOIN total
        ORDER BY lift DESC, part_a, part_b
        LIMIT {RULES_TOPK}
    """,
    "parts_pagerank_iterated": _pagerank_iterated_oracle(),
    "parts_label_propagation": _label_propagation_oracle(),
    "orders_forecast_holt": sql_orders_forecast_holt(),
    "parts_pagerank_step": """
        WITH pairs AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey != b.l_partkey
        ), outdeg AS (
            SELECT src, COUNT(*) AS outdeg FROM pairs GROUP BY 1
        ), contrib AS (
            SELECT dst, CAST(1.0 / outdeg AS DECIMAL(20,12)) AS contrib
            FROM pairs JOIN outdeg USING (src)
        )
        SELECT dst AS part_key,
               ROUND(0.15 + 0.85 * CAST(SUM(contrib) AS DOUBLE), 9) AS rank1
        FROM contrib
        GROUP BY 1
    """,
    "orders_yoy_growth": f"""
        WITH yearly AS (
            SELECT n.n_name AS nation_name,
                   CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS year,
                   {sql_dsum("o.o_totalprice")} AS revenue
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        )
        SELECT nation_name, year, revenue,
               LAG(revenue) OVER (PARTITION BY nation_name ORDER BY year)
                   AS prev_revenue,
               ROUND((revenue - LAG(revenue) OVER (
                   PARTITION BY nation_name ORDER BY year))
                   / LAG(revenue) OVER (PARTITION BY nation_name ORDER BY year),
                   6) AS yoy_growth
        FROM yearly
    """,
    "parts_abc_by_nation": f"""
        WITH rev AS (
            SELECT n.n_name AS nation_name, l.l_partkey AS part_key,
                   {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ), cum AS (
            SELECT nation_name, part_key, revenue,
                   SUM(CAST(revenue AS DECIMAL(25,2))) OVER (
                       PARTITION BY nation_name
                       ORDER BY revenue DESC, part_key) AS cum_rev,
                   SUM(CAST(revenue AS DECIMAL(25,2))) OVER (
                       PARTITION BY nation_name) AS tot_rev
            FROM rev
        )
        SELECT nation_name, part_key, revenue,
               ROUND(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
                   AS cum_share,
               CASE WHEN ROUND(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
                         <= 0.80 THEN 'A'
                    WHEN ROUND(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
                         <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM cum
    """,
    "tpch_q7_volume_shipping": f"""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS ship_year,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "tpch_q8_market_share": f"""
        SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
               ROUND(
                 CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_5'
                       THEN l.l_extendedprice * (1 - l.l_discount)
                       ELSE 0.0 END AS DECIMAL(25,6))) AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(25,6))) AS DOUBLE),
               6) AS mkt_share
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE p.p_type = 'ECONOMY'
          AND r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1
        ORDER BY 1
    """,
    "tpch_q9_product_profit": f"""
        SELECT n.n_name AS nation_name,
               CAST(year(l.l_shipdate) AS INT) AS ship_year,
               {sql_dsum("l.l_extendedprice * (1 - l.l_discount) - l.l_quantity * p.p_retailprice * 0.5")} AS profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_type = 'STANDARD'
        GROUP BY 1, 2
        ORDER BY 1, 2 DESC
    """,
    "tpch_q12_priority_lines": """
        SELECT l.l_returnflag AS return_flag,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY 1
        ORDER BY 1
    """,
    "tpch_q14_promo_revenue": """
        SELECT ROUND(
                 100.0
                 * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                       THEN l.l_extendedprice * (1 - l.l_discount)
                       ELSE 0.0 END AS DECIMAL(25,6))) AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(25,6))) AS DOUBLE),
               6) AS promo_revenue_pct
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
    "tpch_q15_top_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey, {sql_dsum("l_extendedprice * (1 - l_discount)")} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY 1
        )
        SELECT s.s_suppkey AS supp_key,
               s.s_name AS supp_name,
               r.total_revenue
        FROM rev r
        JOIN supplier s ON r.l_suppkey = s.s_suppkey
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
        ORDER BY supp_key
    """,
    "tpch_q16_supplier_part_count": """
        SELECT p.p_brand AS brand,
               p.p_type AS type,
               p.p_size AS size,
               COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand != 'Brand#1'
          AND p.p_size IN (1, 9, 19, 25, 36, 45)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, brand, type, size
    """,
    "tpch_q17_small_qty_revenue": """
        WITH li_b AS (
            SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand = 'Brand#3'
        ), thresholds AS (
            SELECT l_partkey, AVG(l_quantity) * 0.5 AS qty_threshold
            FROM li_b GROUP BY 1
        )
        SELECT ROUND(
                 CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0,
               2) AS avg_yearly,
               COUNT(*) AS n_lines
        FROM li_b l
        JOIN thresholds t ON l.l_partkey = t.l_partkey
        WHERE l.l_quantity < t.qty_threshold
    """,
    "tpch_q19_disjunctive_revenue": f"""
        SELECT {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q22_global_sales_opportunity": f"""
        WITH {_tpch._CUSTX_CTE}, cust AS (
            SELECT c_custkey, c_acctbal,
                   CAST(ABS(c_custkey % 7) AS INT) AS cntrycode
            FROM custx
            WHERE CAST(ABS(c_custkey % 7) AS INT) IN (1, 3, 5)
        )
        SELECT cntrycode,
               COUNT(*) AS numcust,
               {sql_dsum("c_acctbal")} AS totacctbal
        FROM cust c
        WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM cust WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY 1
        ORDER BY 1
    """,
    "tpch_q2_min_cost_supplier": """
        WITH offers AS (
            SELECT l.l_partkey, l.l_suppkey,
                   s.s_name AS supp_name,
                   s.s_acctbal AS supp_acctbal,
                   n.n_name AS nation_name,
                   MIN(l.l_extendedprice) AS min_price
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
            GROUP BY 1, 2, 3, 4, 5
        ), ranked AS (
            SELECT *, RANK() OVER (PARTITION BY l_partkey
                                   ORDER BY min_price, l_suppkey) AS rk
            FROM offers
        )
        SELECT l_partkey AS part_key,
               l_suppkey AS supp_key,
               supp_name, supp_acctbal, nation_name, min_price
        FROM ranked
        WHERE rk = 1
        ORDER BY supp_acctbal DESC, part_key
        LIMIT 100
    """,
    "tpch_q11_important_stock": f"""
        WITH value_per_part AS (
            SELECT l.l_partkey AS part_key,
                   {sql_dsum("l.l_extendedprice * l.l_quantity")} AS part_value
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_3'
            GROUP BY 1
        )
        SELECT part_key, part_value
        FROM value_per_part
        WHERE part_value > (SELECT 1.2 * {sql_davg("part_value")}
                            FROM value_per_part)
        ORDER BY part_value DESC, part_key
    """,
    "tpch_q20_excess_shippers": f"""
        WITH shipped AS (
            SELECT l.l_partkey, l.l_suppkey,
                   {sql_dsum("l.l_quantity")} AS qty
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_name LIKE 'cold%'
              AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1, 2
        ), avg_qty AS (
            SELECT l_partkey, {sql_davg("qty")} AS avg_qty
            FROM shipped GROUP BY 1
        )
        SELECT DISTINCT s.s_suppkey AS supp_key, s.s_name AS supp_name
        FROM shipped sh
        JOIN avg_qty a ON sh.l_partkey = a.l_partkey
        JOIN supplier s ON sh.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE sh.qty > a.avg_qty AND n.n_name LIKE 'NATION_1%'
        ORDER BY supp_key
    """,
    "tpch_q21_waiting_suppliers": """
        SELECT s.s_name AS supp_name, COUNT(*) AS numwait
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND n.n_name LIKE 'NATION_1%'
          AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY 1
        ORDER BY numwait DESC, supp_name
        LIMIT 100
    """,
    "orders_cube": f"""
        SELECT o_orderstatus AS order_status,
               CAST(year(o_orderdate) AS INT) AS order_year,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(CAST(year(o_orderdate) AS INT)) AS INT) AS g_year,
               COUNT(*) AS n_orders,
               {sql_dsum("o_totalprice")} AS total_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, CAST(year(o_orderdate) AS INT))
    """,
    "orders_daily_gapfill": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   o_orderpriority AS order_priority,
                   COUNT(*) AS n_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1, 2
        ), spine AS (
            SELECT CAST(d.day AS DATE) AS day, p.order_priority
            FROM generate_series(DATE '1996-01-01', DATE '1996-12-31',
                                 INTERVAL 1 DAY) AS d(day)
            CROSS JOIN (VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'),
                               ('4-NOT SPECIFIED'), ('5-LOW'))
                       AS p(order_priority)
        )
        SELECT s.day, s.order_priority,
               COALESCE(d.n_orders, 0) AS n_orders
        FROM spine s
        LEFT JOIN daily d USING (day, order_priority)
    """,
}

# the recursive-spine form must equal the sequence+explode form
ORACLES["orders_gapfill_rcte"] = ORACLES["orders_daily_gapfill"]

ORACLES["lineitem_corr_matrix"] = _sql_corr()
ORACLES["orders_benford_audit"] = sql_orders_benford_audit()
ORACLES["orders_theilsen_trend"] = sql_orders_theilsen_trend()
ORACLES["orders_mann_kendall"] = sql_orders_mann_kendall()
