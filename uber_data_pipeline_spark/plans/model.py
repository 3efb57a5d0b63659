"""Declarative models: name + deps + a SQL string, materialized to
parquet.

Mirrors the reference's dbt project layout (models that ``ref()``
each other plus ``sources.yml`` tables,
/root/reference/src/main/uber_transformations/models/udp_trans/) with
the caller's frames playing the role of the warehouse relations: a
model's SQL refers to its deps and to source tables by plain name, and
:meth:`ModelRegistry.build` binds each name to a frame as a CTE, so no
name is looked up in the session catalog.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class IncrementalSpec:
    """dbt-incremental materialization contract for a model whose SQL
    contains an ``{incremental_filter}`` placeholder: on a full build
    the placeholder becomes ``1=1``; on a refresh it becomes the delta
    predicate and the delta's partial rows are MERGED with the stored
    table by summing the additive columns per key — valid because the
    additive columns are commutative monoids (SUM/COUNT parts), the
    same algebra proven by incremental_agg_maintenance
    (queries/pipeline.py)."""

    keys: tuple[str, ...]
    additive: tuple[str, ...]
    event_col: str  # the high-watermark column the delta filter cuts on


@dataclass(frozen=True)
class Model:
    name: str
    deps: tuple[str, ...]
    sql: str  # refers to deps and source tables by name, dbt-style
    description: str = ""
    # cron string — the Dagster ScheduleDefinition analog (the
    # reference runs its asset graph @daily,
    # /root/reference/Dagster_Files/definitions.py); None = unscheduled
    schedule: str | None = None
    incremental: IncrementalSpec | None = None

    def text(self, incremental_filter: str = "1=1") -> str:
        """The model's SQL; an incremental model's placeholder is
        filled with ``incremental_filter``."""
        if self.incremental is None:
            return self.sql
        return self.sql.format(incremental_filter=incremental_filter)


@dataclass
class ModelRegistry:
    models: dict[str, Model] = field(default_factory=dict)

    def register(self, model: Model) -> Model:
        if model.name in self.models:
            raise ValueError(f"duplicate model {model.name!r}")
        self.models[model.name] = model
        return model

    def sql_model(
        self,
        name: str,
        deps: tuple[str, ...],
        sql: str,
        description: str = "",
        schedule: str | None = None,
        incremental: IncrementalSpec | None = None,
    ) -> Model:
        return self.register(
            Model(
                name=name,
                deps=deps,
                sql=sql,
                description=description,
                schedule=schedule,
                incremental=incremental,
            )
        )

    def sources(self, select: set[str] | None = None) -> list[str]:
        """Source tables (deps that are not models) of the selected
        models and their upstreams, sorted."""
        return sorted(
            {d for m in self.topo_order(select) for d in m.deps if d not in self.models}
        )

    def build(
        self,
        spark: SparkSession,
        name: str,
        frames: dict[str, DataFrame],
        incremental_filter: str = "1=1",
    ) -> DataFrame:
        """Model ``name`` over the caller's ``frames``: the one way a
        model becomes a DataFrame.

        Each dep named in ``frames`` becomes a CTE over that frame; a
        dep that is a model and is not in ``frames`` is inlined as a
        CTE of its own SQL, its deps resolved the same way; a source
        table missing from ``frames`` raises KeyError. The model's SQL
        runs unchanged under that prelude, ``WITH orders AS (SELECT *
        FROM {orders}), ..., stg_pickups AS (<sql>) SELECT * FROM
        (<sql>)``. ``spark.sql`` registers each frame under a
        uuid-named view and drops it once the query is analysed, so the
        session's temp views are the same before and after, and a
        caller's own view named like a dep is never read.
        ``incremental_filter`` fills the placeholder of model ``name``
        only; inlined upstreams are full builds."""
        ctes: dict[str, str] = {}

        def bind(rel: str) -> None:
            if rel in ctes:
                return
            if rel in frames:
                ctes[rel] = f"SELECT * FROM {{{rel}}}"
                return
            model = self.models[rel]
            for d in model.deps:
                bind(d)
            ctes[rel] = model.text()

        for d in self.models[name].deps:
            bind(d)
        prelude = ", ".join(f"{rel} AS ({sql})" for rel, sql in ctes.items())
        return spark.sql(
            f"WITH {prelude} SELECT * FROM ({self.models[name].text(incremental_filter)})",
            **{rel: frames[rel] for rel in ctes if rel in frames},
        )

    def topo_order(self, select: set[str] | None = None) -> list[Model]:
        """Kahn topological order over the selected models and all of
        their upstream deps (dbt-style ``+model`` selection)."""
        wanted: set[str] = set()

        def add(name: str) -> None:
            if name in wanted or name not in self.models:
                return  # names not in the registry are source tables
            wanted.add(name)
            for d in self.models[name].deps:
                add(d)

        for name in select if select is not None else self.models:
            add(name)

        in_deg = {
            n: sum(1 for d in self.models[n].deps if d in wanted) for n in wanted
        }
        ready = sorted(n for n, d in in_deg.items() if d == 0)
        order: list[Model] = []
        while ready:
            n = ready.pop(0)
            order.append(self.models[n])
            for m in sorted(wanted):
                if n in self.models[m].deps:
                    in_deg[m] -= 1
                    if in_deg[m] == 0:
                        ready.append(m)
            ready.sort()
        if len(order) != len(wanted):
            cyclic = wanted - {m.name for m in order}
            raise ValueError(f"dependency cycle among {sorted(cyclic)}")
        return order

    def topo_levels(self) -> list[list[Model]]:
        """Dependency levels: level k holds models whose deps are all
        in levels < k. Models within a level are independent and can
        materialize concurrently (dbt/Dagster run siblings with a
        thread pool; Spark's scheduler interleaves their jobs)."""
        order = self.topo_order()
        depth: dict[str, int] = {}
        for m in order:
            depth[m.name] = 1 + max(
                (depth[d] for d in m.deps if d in depth), default=-1
            )
        levels: list[list[Model]] = [[] for _ in range(max(depth.values(), default=-1) + 1)]
        for m in order:
            levels[depth[m.name]].append(m)
        return levels

