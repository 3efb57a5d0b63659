"""r14 optimization-round regression tests: the semantically subtle
rewrites of this round stay pinned.

1. The fused IVF-PQ kernel's in-kernel query gate must keep exactly
   query_sample's keep-set (the recall entry's sampling semantics).
2. kmv_intersection on a fully-empty input returns 0, not NULL, for
   exact_a/exact_b (ADVICE r13 — SUM over zero rows).
3. merge_upsert_partitioned derives swap targets by LISTING the
   staging dir, so partition values whose dir names Spark
   Hive-escapes (":" -> %3A, "%" -> %25) merge correctly instead of
   silently deleting the target partition (ADVICE r13, latent class).
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from uber_data_pipeline_spark.operators import similarity as S
from uber_data_pipeline_spark.queries.training import _emb

SF = "/root/testdata/sf0.001"
ART = os.path.join("/tmp", "udp_r14_tests")


@pytest.fixture(scope="module")
def spark():
    from uber_data_pipeline_spark.session import get_spark

    return get_spark()


def _pdf_sorted(df):
    return (
        df.toPandas()
        .sort_values(list(df.columns))
        .reset_index(drop=True)
    )


def test_in_kernel_query_gate_equals_query_sample(spark):
    """ivfpq_topk(query_target=t) must return exactly the rows of the
    unrestricted run for the vec_ids query_sample(emb, t) keeps —
    the in-kernel literal-modulus predicate IS the sample."""
    emb = _emb(spark, SF)
    # a target that actually restricts at sf0.001 (500 rows)
    target = 100
    gated = S.ivfpq_topk(emb, 5, query_target=target)
    full = S.ivfpq_topk(emb, 5)
    qs = S.query_sample(emb, target).select(
        F.col("vec_id").alias("query_id")
    )
    expect = full.join(qs, "query_id", "left_semi")
    assert _pdf_sorted(gated).equals(_pdf_sorted(expect))
    # and the gate is a real restriction
    assert gated.select("query_id").distinct().count() < full.select(
        "query_id"
    ).distinct().count()


def test_kmv_empty_input_exact_counts_are_zero(spark):
    """SUM over zero rows is NULL; the exact_a/exact_b audit columns
    must coalesce back to the countDistinct behavior (0)."""
    from uber_data_pipeline_spark.operators.sketches import kmv_intersection

    empty = spark.createDataFrame(
        [], "event_type string, user_id long"
    )
    row = kmv_intersection(empty).first()
    assert row["exact_a"] == 0
    assert row["exact_b"] == 0
    assert row["exact_union"] == 0


def test_merge_upsert_handles_escaped_partition_names(spark):
    """A partition value Spark writes Hive-escaped (here ":" and "%",
    stored as dir part=a%3Ab%25) must swap correctly — the
    listing-driven swap can't miss it the way value-formatted paths
    did."""
    from uber_data_pipeline_spark.sources.writers import (
        merge_upsert_partitioned,
    )

    path = os.path.join(ART, "merge_escape_unit")
    shutil.rmtree(path, ignore_errors=True)
    base = spark.createDataFrame(
        [(1, "a:b%", "old"), (2, "a:b%", "old"), (3, "plain", "old")],
        "k long, part string, val string",
    )
    base.repartition(1).write.partitionBy("part").parquet(path)
    assert "part=a%3Ab%25" in os.listdir(path)
    changes = spark.createDataFrame(
        [(1, "a:b%", "new"), (9, "a:b%", "new")],
        "k long, part string, val string",
    )
    merge_upsert_partitioned(spark, path, changes, ["k"], "part")
    after = spark.read.parquet(path)
    got = {
        (r["k"], r["part"], r["val"]) for r in after.collect()
    }
    assert got == {
        (1, "a:b%", "new"),
        (9, "a:b%", "new"),
        (2, "a:b%", "old"),
        (3, "plain", "old"),
    }
    shutil.rmtree(path, ignore_errors=True)
