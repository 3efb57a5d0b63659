"""DAG materialization runner: topo-sorted model builds with
selective refresh — the Dagster-asset-graph role
(/root/reference/Dagster_Files/definitions.py: airbyte assets feed
dbt assets on a @daily schedule).

Each materialized model is written as parquet and its read-back is
the frame downstream models are built over, so they read the
MATERIALIZED result (one build per model per run, dbt semantics), not
a re-derived plan. Frames reach a model as arguments
(:meth:`ModelRegistry.build`); no temp view is registered.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from uber_data_pipeline_spark.catalog import load_table
from uber_data_pipeline_spark.plans.model import Model, ModelRegistry


@dataclass(frozen=True)
class BuildResult:
    model: str
    n_rows: int
    seconds: float
    path: str


def _written_rows(path: str) -> int:
    """Rows in the parquet files a write just left in ``path``: the sum
    of ``num_rows`` over their footers (metadata only, no Spark job)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def run_dag(
    spark: SparkSession,
    registry: ModelRegistry,
    sf_dir: str,
    out_dir: str,
) -> list[BuildResult]:
    """Materialize every model of ``registry`` in dependency-level
    order: levels run sequentially, models WITHIN a level concurrently
    (they are independent by construction — the dbt/Dagster
    thread-pool execution model; Spark's FIFO scheduler interleaves
    the sibling jobs across the executor pool).

    Only the source tables the models name in their ``deps`` are
    loaded (a dbt run resolves just the ``source()`` relations its
    models reference), so ``sf_dir`` needs to hold only those tables.
    A materialized model is read back with the schema of the frame
    that wrote it, so neither step runs a schema-inference job for a
    schema the engine already knows. The sources and the read-backs
    reach each model as arguments: the session's temp views are the
    same after the run as before it.

    ``BuildResult.n_rows`` is the sum of ``num_rows`` over the footers
    of the files a model's write produced, so counting runs no Spark
    job."""
    from concurrent.futures import ThreadPoolExecutor

    frames = {t: load_table(spark, sf_dir, t) for t in registry.sources()}

    def build_one(model: Model) -> tuple[BuildResult, DataFrame]:
        t0 = time.perf_counter()
        df = registry.build(spark, model.name, frames)
        path = os.path.join(out_dir, model.name)
        df.write.mode("overwrite").parquet(path)
        n_rows = _written_rows(path)
        read_back = spark.read.schema(df.schema).parquet(path)
        result = BuildResult(
            model=model.name,
            n_rows=n_rows,
            seconds=round(time.perf_counter() - t0, 3),
            path=path,
        )
        return result, read_back

    results: list[BuildResult] = []
    for level in registry.topo_levels():
        if len(level) == 1:
            built = [build_one(level[0])]
        else:
            with ThreadPoolExecutor(max_workers=min(8, len(level))) as pool:
                built = list(pool.map(build_one, level))
        for result, read_back in built:
            results.append(result)
            frames[result.model] = read_back
    return results


def refresh_incremental(
    spark: SparkSession,
    registry: ModelRegistry,
    name: str,
    sf_dir: str,
    out_dir: str,
    cutoff: str,
) -> DataFrame:
    """Incrementally materialize one model declared with an
    IncrementalSpec: a prior full build over rows BEFORE ``cutoff``
    (on the spec's declared ``event_col`` — the filters are DERIVED
    from the declared watermark column, not free-form, so they can't
    silently cut on a different column) is the stored table (the
    previous scheduled run); the refresh aggregates ONLY the rows at
    or after ``cutoff`` and merges them into the stored partials by
    summing the additive columns per key —
    the dbt-incremental materialization the reference's @daily dbt
    run would use instead of full-refresh.

    Scale shape: the refresh never re-reads history — it scans the
    delta (with the event-time predicate pushed into the scan), and
    the merge is a groupBy over (stored partials ∪ delta partials),
    both already reduced to key cardinality. Valid for commutative-
    monoid aggregates only, which is what IncrementalSpec declares.

    Returns the merged table (also written to ``out_dir/<name>``)."""
    import pyspark.sql.functions as F

    model = registry.models[name]
    spec = model.incremental
    assert spec is not None, f"model {name} is not incremental"
    base_filter = f"{spec.event_col} < TIMESTAMP '{cutoff}'"
    delta_filter = f"{spec.event_col} >= TIMESTAMP '{cutoff}'"
    frames = {t: load_table(spark, sf_dir, t) for t in registry.sources({name})}

    stored_path = os.path.join(out_dir, name)
    # 1) the previous scheduled run: full build of the base window
    base = registry.build(spark, name, frames, incremental_filter=base_filter)
    base.write.mode("overwrite").parquet(stored_path)

    # 2) the refresh: delta partials only + monoid merge. Both reads
    # use the schema of the frame that wrote the files, as run_dag does.
    stored = spark.read.schema(base.schema).parquet(stored_path)
    delta = registry.build(spark, name, frames, incremental_filter=delta_filter)
    merged = (
        stored.unionByName(delta)
        .groupBy(*spec.keys)
        .agg(*[F.sum(c).alias(c) for c in spec.additive])
    )
    merged_path = os.path.join(out_dir, f"{name}__merged")
    merged.write.mode("overwrite").parquet(merged_path)
    return spark.read.schema(merged.schema).parquet(merged_path)


def due_run(registry: ModelRegistry, as_of) -> list[tuple]:
    """Schedule EXECUTION: which models are due after ``as_of``, in
    what order — the half of ``ScheduleDefinition`` that
    :func:`schedule_report` (pure metadata) doesn't cover (reference:
    Dagster_Files/definitions.py:17-20, a @daily cron trigger over the
    asset graph).

    Returns [(run_order, model, level, next_fire)]: ``next_fire`` is
    the first cron fire STRICTLY AFTER ``as_of``
    (:func:`uber_data_pipeline_spark.plans.cron.next_fire`); ``level``
    is the model's Kahn depth over REGISTRY-INTERNAL dependency edges
    (deps naming raw tables don't order models against each other);
    ``run_order`` ranks by (level, model) — the deterministic
    materialization order a tick at ``next_fire`` would run.
    Unscheduled models (``schedule is None``, model.py's documented
    "None = unscheduled") are not due and are skipped; their levels
    still count, so a scheduled model downstream of an unscheduled
    one keeps its Kahn depth. Control plane: registry-sized metadata,
    no data rows touched."""
    from uber_data_pipeline_spark.plans.cron import next_fire

    level = _levels(registry)
    ordered = sorted(
        (m for m in registry.models.values() if m.schedule is not None),
        key=lambda m: (level[m.name], m.name),
    )
    return [
        (i + 1, m.name, level[m.name], next_fire(m.schedule, as_of))
        for i, m in enumerate(ordered)
    ]


def _levels(registry: ModelRegistry) -> dict[str, int]:
    """Model name -> its :meth:`ModelRegistry.topo_levels` index (a
    dependency cycle raises topo_order's ValueError)."""
    return {m.name: i for i, lvl in enumerate(registry.topo_levels()) for m in lvl}


def downstream_closure(registry: ModelRegistry, name: str) -> list[str]:
    """Registry models that (transitively) depend on ``name``, sorted
    by (Kahn level, name) — the set a partition backfill must refresh
    after rebuilding ``name``'s partitions (the Dagster
    backfill-with-downstream shape)."""
    names = set(registry.models)
    out = {name}
    changed = True
    while changed:
        changed = False
        for m in registry.models.values():
            if m.name not in out and any(d in out for d in m.deps if d in names):
                out.add(m.name)
                changed = True
    out.discard(name)
    level = _levels(registry)
    return sorted(out, key=lambda n: (level[n], n))


def schedule_report(registry: ModelRegistry) -> list[tuple[str, str, int, bool]]:
    """(model, schedule cron, n_deps, is_incremental) rows — the
    Dagster ScheduleDefinition surface ("what runs when"), exposed as
    plain data so the registry query can value-check it."""
    return [
        (
            m.name,
            m.schedule or "",
            len(m.deps),
            m.incremental is not None,
        )
        for m in sorted(registry.models.values(), key=lambda m: m.name)
    ]
