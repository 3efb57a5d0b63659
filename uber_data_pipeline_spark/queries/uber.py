"""Reference-parity queries: the 6 dbt models of
kimiko-dev/Uber-Data-Pipeline re-based onto the orders x customer x
nation x region star schema (pickup fact = orders, base dim = nation,
borough dim = region).

Each entry builds its model from the registry of
plans/uber_models.py, the same SQL the model DAG materializes: the
source tables are loaded from ``sf_dir`` and passed in as frames, and
the shared ``stg_pickups`` staging model is inlined as a CTE
(:meth:`ModelRegistry.build`). Catalyst plans the SQL (broadcast dims,
partial aggregation, pushdown).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from uber_data_pipeline_spark.catalog import load_table
from uber_data_pipeline_spark.functions.datetime import MONTH_NAME_CASE_SQL
from uber_data_pipeline_spark.plans.uber_models import build_registry

# "Unter"/"Grun" analog: two nations in the AMERICA region ("Bronx" analog)
_FILTER_NATIONS = ("NATION_1", "NATION_6")
_FILTER_REGION = "AMERICA"


def _model(name: str) -> Callable[[SparkSession, str], DataFrame]:
    """Registry entry for model ``name`` over the tables of ``sf_dir``."""

    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        registry = build_registry()
        frames = {t: load_table(spark, sf_dir, t) for t in registry.sources({name})}
        return registry.build(spark, name, frames)

    return query


QUERIES = {
    "top3_bases_by_pickups": _model("top_3_bases_by_total_pickups"),
    "pickup_percentile_by_base_per_month": _model("pickup_percentile_by_base_per_month"),
    "top3_pickup_dates_per_base": _model("top_3_pickup_dates_per_base"),
    "pickup_count_vs_average_per_base": _model("pickup_count_vs_average_per_base"),
    "unter_grun_pickups_in_bronx": _model("unter_grun_pickups_in_bronx"),
    "total_pickups_in_may_by_base": _model("total_pickups_in_may_by_base"),
}

_MONTH_CASE = MONTH_NAME_CASE_SQL.format(col="month_num")

ORACLES = {
    "top3_bases_by_pickups": """
        SELECT n.n_nationkey AS nation_key,
               n.n_name AS nation_name,
               COUNT(*) AS total_pickups
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
        ORDER BY total_pickups DESC, nation_key ASC
        LIMIT 3
    """,
    "pickup_percentile_by_base_per_month": f"""
        WITH counts AS (
            SELECT EXTRACT(MONTH FROM o.o_orderdate)::INT AS month_num,
                   n.n_name AS nation_name,
                   COUNT(*) AS pickups
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1, 2
        )
        SELECT nation_name,
               month_num,
               {_MONTH_CASE} AS month_name,
               pickups,
               ROUND((pickups / SUM(pickups) OVER (PARTITION BY month_num)) * 100.0, 6)
                   AS pct_of_month
        FROM counts
    """,
    "top3_pickup_dates_per_base": """
        WITH counts AS (
            SELECT n.n_nationkey AS nation_key,
                   n.n_name AS nation_name,
                   CAST(o.o_orderdate AS DATE) AS pickup_date,
                   COUNT(*) AS cnt
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1, 2, 3
        ), ranked AS (
            SELECT nation_name, nation_key,
                   RANK() OVER (PARTITION BY nation_key ORDER BY cnt DESC) AS rnk,
                   cnt, pickup_date
            FROM counts
        )
        SELECT nation_name, nation_key, rnk, cnt, pickup_date
        FROM ranked WHERE rnk <= 3
    """,
    "pickup_count_vs_average_per_base": f"""
        WITH counts AS (
            SELECT n.n_name AS nation_name,
                   EXTRACT(MONTH FROM o.o_orderdate)::INT AS month_num,
                   COUNT(*) AS monthly_count
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1, 2
        )
        SELECT nation_name,
               month_num,
               {_MONTH_CASE} AS month_name,
               monthly_count,
               AVG(monthly_count) OVER (PARTITION BY month_num) AS avg_for_month,
               ROUND((monthly_count / AVG(monthly_count) OVER (PARTITION BY month_num) - 1) * 100, 6)
                   AS pct_difference
        FROM counts
    """,
    "unter_grun_pickups_in_bronx": f"""
        SELECT o.o_orderkey AS order_key,
               o.o_orderdate AS pickup_ts,
               n.n_name AS base_name,
               r.r_name AS borough,
               c.c_mktsegment AS zone
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE n.n_name IN {_FILTER_NATIONS!r} AND r.r_name = '{_FILTER_REGION}'
    """,
    "total_pickups_in_may_by_base": """
        SELECT n.n_name AS nation_name,
               COUNT(*) AS pickups_in_may
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE EXTRACT(MONTH FROM o.o_orderdate) = 5
        GROUP BY 1
        ORDER BY pickups_in_may DESC, nation_name ASC
    """,
}
