"""Scale-technique showcase queries (SURVEY.md §2.2 tail): the
join-avoidance and layout tricks that matter at 100 TB, each made
value-auditable.

- ``orders_bloom_semi_join``: broadcast-Bloom probe of lineitem's
  orderkeys against the urgent-orders key set, with the realized
  false-positive rate in the output (operators/sketches.py).
- ``orders_zorder_layout``: Z-order (bit-interleaved) file layout
  audit — per-file 2-D min/max envelopes and the footer-stats pruning
  decision for a reference predicate (operators/layout.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from uber_data_pipeline_spark.catalog import load_table
from uber_data_pipeline_spark.operators import layout, sketches
from uber_data_pipeline_spark.operators.shares import (
    join_size_forecast,
    key_skew_report,
    sql_join_size_forecast,
    sql_key_skew_report,
)

BLOOM_BUILD_PRIORITY = "1-URGENT"


def orders_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return sketches.bloom_semi_join_report(
        orders.filter(orders.o_orderpriority == BLOOM_BUILD_PRIORITY),
        lineitem,
        "o_orderkey",
        "l_orderkey",
    )


def orders_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout.zorder_layout_audit(load_table(spark, sf_dir, "orders"))


def orders_range_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical range-partitioned time-series layout + footer audit
    (operators/layout.range_layout_audit): real parquet files, real
    min/max envelopes, non-overlap verified from metadata only."""
    from uber_data_pipeline_spark.sources.staging import artifact_dir

    return layout.range_layout_audit(
        load_table(spark, sf_dir, "orders"), artifact_dir("range_layout", sf_dir)
    )


def orders_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics on the orders join key (o_custkey) — the
    report that decides between plan-level salting
    (operators/joins.py) and trusting AQE's runtime skew split."""
    return key_skew_report(load_table(spark, sf_dir, "orders"), "o_custkey")


def events_selfjoin_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-cardinality + skew forecast for the events-on-user_id
    self-join (the shape behind attribution/sessionization pair joins
    and the dedup candidate volume) — computed from the per-key degree
    census WITHOUT running the join (operators/shares.py
    join_size_forecast)."""
    ev = load_table(spark, sf_dir, "events")
    return join_size_forecast(ev, "user_id", ev, "user_id")


QUERIES = {
    "events_selfjoin_forecast": events_selfjoin_forecast,
    "orders_bloom_semi_join": orders_bloom_semi_join,
    "orders_range_layout": orders_range_layout,
    "orders_key_skew_report": orders_key_skew_report,
    "orders_zorder_layout": orders_zorder_layout,
}

# Declared scalar-broadcast plans (see queries/tpch.py for the
# contract; tests/test_plans.py enforces tag set == plan scan).
SCALAR_BROADCAST = {
    # 1-row (n_build, m) filter-sizing broadcast onto build and probe
    # key scans; the set-bit probe itself is a BroadcastHashJoin
    "orders_bloom_semi_join",
    # 1-row date-bounds aggregate crossJoined onto the 1-row
    # footer-audit frame
    "orders_range_layout",
}

ORACLES = {
    "events_selfjoin_forecast": sql_join_size_forecast(
        "events", "user_id", "events", "user_id"
    ),
    "orders_range_layout": layout.sql_range_layout_audit(),
    "orders_key_skew_report": sql_key_skew_report("orders", "o_custkey"),
    "orders_bloom_semi_join": sketches.sql_bloom_semi_join(
        f"SELECT o_orderkey AS k FROM orders "
        f"WHERE o_orderpriority = '{BLOOM_BUILD_PRIORITY}'",
        "SELECT l_orderkey AS k FROM lineitem",
    ),
    "orders_zorder_layout": layout.sql_zorder_layout_audit(),
}
