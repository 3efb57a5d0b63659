"""PySpark-native analytics engine with the query and data-processing
capabilities of kimiko-dev/Uber-Data-Pipeline, re-expressed Spark-first.

Layout:
    session    -- tuned SparkSession factory
    catalog    -- star-schema table loading
    functions/ -- column-level helpers (datetime, text, vectors)
    operators/ -- reusable DataFrame->DataFrame operators
    queries/   -- named analytical queries (reference-parity, TPC-H,
                  training-data ops)
    sources/   -- batch readers + incremental (CDC-style) ingest
    plans/     -- dbt/Dagster-like declarative model DAG
    streaming/ -- Structured Streaming operators
"""

from uber_data_pipeline_spark.session import get_spark
from uber_data_pipeline_spark.catalog import TABLES

__all__ = ["get_spark", "TABLES"]
