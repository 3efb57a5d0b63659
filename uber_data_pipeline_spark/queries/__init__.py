"""Named query registry.

Each submodule exports QUERIES (name -> fn(spark, sf_dir) -> DataFrame)
and ORACLES (name -> DuckDB SQL string, omitted for non-SQL ops).

Registry order comes from the code alone: module order (uber, tpch,
tpch_extra, events, training, pipeline, scale), then each module's
QUERIES insertion order. `all_oracles()` lists its names in the same
order. An entry name registered by two modules is an error.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from uber_data_pipeline_spark.queries import uber, tpch, events


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    owner: dict[str, str] = {}
    for mod in _modules():
        for name, fn in mod.QUERIES.items():
            if name in owner:
                raise ValueError(
                    f"registry entry {name!r} is registered by both "
                    f"{owner[name]} and {mod.__name__}"
                )
            owner[name] = mod.__name__
            out[name] = fn
    return out


def all_oracles() -> dict[str, str]:
    """name -> oracle SQL in `all_queries()` order (a module's ORACLES
    dict may list its names in another order); a name with no query
    keeps its place after them."""
    out: dict[str, str] = {}
    for mod in _modules():
        out.update(mod.ORACLES)
    pos = {n: i for i, n in enumerate(all_queries())}
    return {n: out[n] for n in sorted(out, key=lambda n: pos.get(n, len(pos)))}


def all_scalar_broadcast() -> set[str]:
    """Union of the modules' SCALAR_BROADCAST tag sets — the entries
    whose executed plans legitimately contain a BroadcastNestedLoopJoin
    because every broadcast side is a fixed-cardinality aggregate
    (usually one scalar row).  Tags live NEXT TO each module's QUERIES
    dict so a new scalar-broadcast entry declares itself where it is
    registered; tests/test_plans.py::test_no_cartesian_products asserts
    this set matches the actual plan scan in BOTH directions (untagged
    BNLJ fails, stale tag fails).  A tag naming a key absent from its
    module's QUERIES is an error here, not a silent no-op."""
    out: set[str] = set()
    for mod in _modules():
        tags = set(getattr(mod, "SCALAR_BROADCAST", ()))
        unknown = tags - set(mod.QUERIES)
        if unknown:
            raise ValueError(
                f"{mod.__name__}.SCALAR_BROADCAST names unknown entries: "
                f"{sorted(unknown)}"
            )
        out |= tags
    return out


def _modules():
    from uber_data_pipeline_spark.queries import (
        pipeline,
        scale,
        tpch_extra,
        training,
    )

    return [uber, tpch, tpch_extra, events, training, pipeline, scale]
