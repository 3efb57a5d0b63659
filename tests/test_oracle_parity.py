"""Every queries() entry vs its DuckDB oracle at sf0.001 — the same
gate the round driver runs (modeled on the reference's `dbt build`
all-models gate, /root/reference/Diary of Making.md §5)."""

from __future__ import annotations

import builtins

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from uber_data_pipeline_spark import queries as registry
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


def test_queries_in_module_then_insertion_order(monkeypatch):
    """The registry order is read from the code alone: no run record
    (bench_detail.json, CORRECTNESS_*.json) is opened to build it."""
    opened = []
    real_open = builtins.open

    def spy(file, *args, **kwargs):
        opened.append(str(file))
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", spy)
    names = list(registry.all_queries())
    oracles = list(registry.all_oracles())
    monkeypatch.undo()
    assert [p for p in opened if p.endswith(".json")] == []
    assert names == [n for mod in registry._modules() for n in mod.QUERIES]
    assert list(QUERIES) == names and list(ORACLES) == oracles


def test_query_and_oracle_orders_agree():
    pos = {n: i for i, n in enumerate(QUERIES)}
    o = list(ORACLES)
    assert o == sorted(o, key=lambda n: pos[n])


def test_duplicate_entry_name_is_rejected(monkeypatch):
    from uber_data_pipeline_spark.queries import scale, uber

    name = next(iter(uber.QUERIES))
    monkeypatch.setitem(scale.QUERIES, name, uber.QUERIES[name])
    with pytest.raises(ValueError, match=rf"{name}.*queries\.uber.*queries\.scale"):
        registry.all_queries()


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
