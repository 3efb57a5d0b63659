"""The shared measurement harness (uber_data_pipeline_spark.harness)
and the tools/ CLIs built on it."""

from __future__ import annotations

import importlib
import os

import pytest

from uber_data_pipeline_spark.harness import (
    DEFAULT_WARM_DIR,
    clear_all,
    compile_counters,
    compile_warmup,
    warm_dir,
)

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_clear_all_drops_cached_and_local_checkpoint_rdds(spark):
    """clearCache frees the cached frame but leaves a localCheckpoint's
    RDD persisted; clear_all removes both."""

    def make():
        before = _persistent_ids(spark)
        cached = spark.range(100).selectExpr("id * 2 AS x").cache()
        cached.count()
        ckpt = spark.range(50).localCheckpoint()
        return (cached, ckpt), _persistent_ids(spark) - before

    frames, mine = make()
    assert len(mine) == 2
    spark.catalog.clearCache()
    assert len(mine & _persistent_ids(spark)) == 1
    clear_all(spark)
    assert not mine & _persistent_ids(spark)

    frames, mine = make()
    assert len(mine) == 2
    clear_all(spark)
    assert not mine & _persistent_ids(spark)


def test_compile_warmup_runs_past_a_raising_entry(spark, tmp_path):
    seen = []

    def boom(s, d):
        seen.append("boom")
        raise RuntimeError("entry failed")

    def cached(s, d):
        seen.append(d)
        return s.range(10).cache()

    def checkpointed(s, d):
        seen.append(d)
        return s.range(10).localCheckpoint()

    before = _persistent_ids(spark)
    compile_warmup(spark, [boom, cached, checkpointed], str(tmp_path / "sf1.0"))
    assert seen == ["boom", DEFAULT_WARM_DIR, DEFAULT_WARM_DIR]
    assert not _persistent_ids(spark) - before


def test_compile_counters_count_a_new_class_once(spark):
    """A plan with a never-seen inlined literal compiles at least one
    class; the same plan again is served from the codegen cache."""
    import uuid

    literal = uuid.uuid4().int % 2**31

    def run() -> int:
        c0, j0 = compile_counters(spark)
        spark.range(10).selectExpr(f"id * {literal} AS x").filter(f"x <> {literal}").collect()
        c1, j1 = compile_counters(spark)
        assert j1 >= j0
        return c1 - c0

    assert run() >= 1
    assert run() == 0


def test_warm_dir_is_the_sibling_sf0001_else_the_default(tmp_path):
    target = tmp_path / "sf0.1"
    target.mkdir()
    assert warm_dir(str(target)) == DEFAULT_WARM_DIR
    (tmp_path / "sf0.001").mkdir()
    assert warm_dir(str(target)) == str(tmp_path / "sf0.001")
    assert warm_dir(str(target) + "/") == str(tmp_path / "sf0.001")


@pytest.mark.parametrize(
    "tool", sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py"))
)
def test_tool_imports_without_running(tool):
    """Every CLI under tools/ imports (its work runs only as a
    script), so none still names a helper that is gone."""
    importlib.import_module(f"tools.{tool}")
