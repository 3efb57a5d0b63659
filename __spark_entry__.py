"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    -- flagship query smoke check at sf0.001
queries()       -- name -> fn(spark, sf_dir) -> DataFrame
oracle_sql()    -- name -> equivalent DuckDB SQL (same column names)

Implementation lives in uber_data_pipeline_spark/; see SURVEY.md §2
for the inventory these registries cover.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from uber_data_pipeline_spark.queries import all_oracles, all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Uses the reference's headline model (top bases by total pickups,
    /root/reference/src/main/uber_transformations/models/udp_trans/
    top_3_base_names_by_total_pickups.sql) re-based onto the star
    schema.
    """
    top3_bases_by_pickups = queries()["top3_bases_by_pickups"]

    return top3_bases_by_pickups(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracles()
