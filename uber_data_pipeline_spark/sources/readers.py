"""Explicit-schema readers for csv / json / orc / xml / JDBC, and the
schema-cached parquet read.

The reference ingests via Airbyte connectors with declared catalogs
(source schema pinned per stream). The Spark-first equivalent: every
csv/json/orc/xml read carries an explicit StructType — schema
inference is a full-scan trap at 100 TB (and a correctness trap on
empty partitions) — plus options tuned for scale. Parquet declares its
own schema in the footers; :func:`read_parquet_inferred` infers it
once per file identity:

- ``recursiveFileLookup``/partition discovery off unless asked: the
  file listing itself is a scale cost.
- csv/json readers run PERMISSIVE with a ``_corrupt_record`` column
  so bad rows land in a quarantine filter instead of killing the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uber_data_pipeline_spark.sources.staging import file_identity

# Pinned source schemas as DDL strings (the "declared catalog") —
# kept as strings so importing this module needs no live session;
# DataFrameReader.schema() accepts DDL directly. events.ts has shipped
# as both parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across
# generator versions; it is declared here as micros-NTZ and normalized
# adaptively by normalize_events() — see catalog.load_table.
SCHEMAS: dict[str, str] = {
        "region": "r_regionkey int, r_name string",
        "nation": "n_nationkey int, n_name string, n_regionkey int",
        "customer": (
            "c_custkey bigint, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string"
        ),
        "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
        "part": (
            "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double"
        ),
        "orders": (
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
        ),
        "lineitem": (
            "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp_ntz"
        ),
        "events": (
            "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
            "value double, props string"
        ),
        "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
        "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize events.ts to plain microsecond TIMESTAMP regardless of
    how the file encoded it:

    - TIMESTAMP(NANOS) read as long (``nanosAsLong``) -> floor-divide
      to micros, the same truncation DuckDB's TIMESTAMP_NS -> TIMESTAMP
      cast performs;
    - TIMESTAMP(MICROS) read as NTZ -> cast (session tz pinned to UTC
      by tune_runtime, so the cast is a no-op on the stored micros).
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# path -> (file identity, StructType Spark inferred from those files).
# Process-level and shared by every session: it holds only the Python
# StructType, never a DataFrame or a JVM handle, and one entry per path.
_INFERRED: dict[str, tuple[list, T.StructType]] = {}


def read_parquet_inferred(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job
    when the files have not changed since the last inference.

    The cache key is the path; the entry holds the path's file identity
    (``staging.file_identity``, the one staging uses) and the schema
    Spark inferred from those files. A hit — same identity — reads with
    that schema and runs no Spark job. A miss, or a changed identity (a rewritten file,
    an added or replaced part file), infers again and replaces the
    entry, so a rewritten table is read with its new schema. The
    identity is taken before the read, so a rewrite racing an
    inference can cost one more inference, never a stale schema."""
    ident = file_identity(path)
    hit = _INFERRED.get(path)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _INFERRED[path] = (ident, df.schema)
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV with mandatory explicit schema, PERMISSIVE + quarantine."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .options(**options)
        .csv(path)
    )


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str, **options: str
) -> DataFrame:
    """JSON-lines with mandatory explicit schema, PERMISSIVE + quarantine."""
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .options(**options)
        .json(path)
    )


def quarantine_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined) — quarantined rows keep the raw record for
    replay after a schema fix.

    The frame is cached first: Spark refuses queries that reference
    only the internal corrupt-record column of a csv/json scan
    (SQLSTATE 0A000) unless the parsed rows are materialized."""
    if "_corrupt_record" not in df.columns:
        return df, df.limit(0)
    df = df.cache()
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    return clean, bad


def read_orc(
    spark: SparkSession, path: str, table: str | None = None
) -> DataFrame:
    """ORC with a pinned schema when the table is known — the same
    declared-catalog discipline as the parquet reader (ORC is the
    other columnar lake format Spark reads natively, with predicate
    pushdown and column pruning through the same DataSource V2
    scan)."""
    reader = spark.read
    if table in SCHEMAS:
        reader = reader.schema(SCHEMAS[table])
    elif table is not None:
        # not a catalog name -> treat as an explicit DDL schema string
        # (same contract as read_csv/read_json's schema parameter)
        reader = reader.schema(table)
    return reader.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    row_tag: str = "row",
) -> DataFrame:
    """XML with mandatory explicit schema (Spark 4's built-in XML
    source — the spark-xml lineage merged into core). Schema is
    declared, never inferred: XML inference is a full extra pass AND
    type-guesses; the landing contract names its fields. rowTag picks
    the repeating record element."""
    return (
        spark.read.schema(schema)
        .option("rowTag", row_tag)
        .format("xml")
        .load(path)
    )


def jdbc_read_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetch_size: int = 10_000,
) -> dict[str, str]:
    """Option dict for a partition-parallel JDBC read — the Postgres
    source role (reference: local Postgres -> Airbyte CDC,
    `Diary of Making.md` §2). Split out as a pure function so the
    partitioning contract is unit-testable without a live database.

    Scale rules encoded here: an unpartitioned JDBC read is ONE
    executor pulling the whole table through one connection — always
    pass a numeric/temporal ``partition_column`` with real bounds so
    Spark issues ``num_partitions`` range-predicated queries in
    parallel; ``fetchsize`` keeps the driver-side row buffer bounded
    (Postgres defaults to all-rows-at-once otherwise)."""
    part_params = (partition_column, lower_bound, upper_bound)
    if any(p is None for p in part_params) and any(
        p is not None for p in part_params
    ):
        raise ValueError(
            "partition_column, lower_bound and upper_bound must be set together"
        )
    opts = {
        "url": url,
        "dbtable": table,
        "fetchsize": str(fetch_size),
        # server-side cursor batches instead of full-result buffering
        "pushDownPredicate": "true",
    }
    if partition_column is not None:
        opts.update(
            {
                "partitionColumn": partition_column,
                "lowerBound": str(lower_bound),
                "upperBound": str(upper_bound),
                "numPartitions": str(num_partitions),
            }
        )
    return opts


def read_jdbc(spark: SparkSession, **options: str) -> DataFrame:
    """``spark.read.format("jdbc")`` with the options from
    :func:`jdbc_read_options` (kept trivial so the partitioning logic
    stays in the testable builder)."""
    return spark.read.format("jdbc").options(**options).load()
