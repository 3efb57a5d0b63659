"""Incremental ingest: the Spark-first analog of the reference's
Airbyte CDC replication (Postgres WAL -> BigQuery, Diary of Making.md
§4). Two shapes:

- batch high-watermark: read only rows past the sink's cursor (the
  filter lands in the parquet scan as a pushed predicate, so a daily
  increment reads a day, not 100 TB), then merge latest-version-wins.
- streaming: ``readStream`` over the landing directory with a pinned
  schema — new files are the change feed.

Scale note on ``merge_latest``: the per-key window shuffles both
sides once on the key. On a partitioned sink the real deployment
prunes to touched partitions first (join delta's distinct partition
keys against the sink's partition column) — the merge itself is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uber_data_pipeline_spark.session import tune_runtime
from uber_data_pipeline_spark.sources.readers import SCHEMAS, normalize_events


def high_watermark(sink: DataFrame | None, cursor_col: str):
    """Current cursor of the sink (None for the initial full load)."""
    if sink is None:
        return None
    return sink.agg(F.max(cursor_col)).collect()[0][0]


def incremental_rows(source: DataFrame, cursor_col: str, watermark) -> DataFrame:
    """Rows past the watermark — a pushed-down range scan."""
    if watermark is None:
        return source
    return source.filter(F.col(cursor_col) > F.lit(watermark))


def merge_latest(
    base: DataFrame, delta: DataFrame, key_cols: list[str], version_col: str
) -> DataFrame:
    """Upsert semantics: for each key keep the highest-version row;
    on a version tie the delta side wins (it is the newer read of the
    same source version)."""
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        delta.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(version_col), F.desc("_src")
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def scd2_history(
    base: DataFrame, delta: DataFrame, key_cols: list[str], version_col: str
) -> DataFrame:
    """Slowly-changing-dimension type 2: keep EVERY version of a key
    as a history row with its validity interval instead of merging to
    latest. valid_to_version = next version's number (null for the
    open, current row); is_current flags the newest.

    One union + one per-key window (lead + row_number over the same
    spec — a single shuffle on the key), the standard warehouse
    dimension-history build."""
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        delta.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(version_col), F.desc("_src")
    )
    return (
        tagged.withColumn("valid_to_version", F.lag(version_col).over(w))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("is_current", F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def read_stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source change feed for the events table (new parquet files
    matching ``path`` == new changes)."""
    tune_runtime(spark)
    raw = spark.readStream.schema(SCHEMAS["events"]).parquet(path)
    return normalize_events(raw)
