"""Star-schema catalog: load the test tables as DataFrames.

Mirrors the reference's dbt ``sources.yml`` (3 BigQuery source
tables) generalized to the 10-table star schema the driver generates.
Reference: /root/reference/src/main/uber_transformations/models/udp_trans/sources.yml
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from uber_data_pipeline_spark.session import tune_runtime
from uber_data_pipeline_spark.sources.readers import normalize_events, read_parquet_inferred

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir`` with the schema its files declare.

    Reads go through the process-level schema cache of
    :func:`readers.read_parquet_inferred`: keyed on the table's path,
    valid while the file identity is unchanged — ``(size, mtime_ns)``
    for a single file, the ``(relative path, size, mtime_ns)`` listing
    of the parquet files for a directory. A warm load of an unchanged
    table runs no Spark job; a rewritten table is inferred again."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; one of {TABLES}")
    tune_runtime(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) — read as a
        # long under tune_runtime's nanosAsLong — and TIMESTAMP(MICROS).
        # normalize_events() reconciles either encoding to plain
        # microsecond TIMESTAMP so oracle comparisons line up.
        return normalize_events(read_parquet_inferred(spark, path))
    return read_parquet_inferred(spark, path)

