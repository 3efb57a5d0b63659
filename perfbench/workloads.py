"""The three workloads: how each is staged, what one op is, and how its
results are checked against DuckDB.

A workload runs in cycles. A cycle is one fixed permutation of the
workload's op names (three days for ``elt_daily``), rotated to a seeded
start, and a run always finishes the cycle it is in, so every run sees
the same mix of ops whatever the seed or the machine speed. The order
is fixed up to rotation because with concurrent clients it decides
which queries overlap: with a fresh shuffle per seed, the p80 latency
of ``marts_adhoc`` spread by 0.27 of its median over five runs; with
rotations of one order, by 0.10.
"""

from __future__ import annotations

import contextlib
import os
import random
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import duck_connect, frame_hash

OPERATOR_ENTRIES = (
    "ann_ivfpq_topk", "ann_ivfpq_recall", "parts_label_propagation",
    "parts_pagerank_iterated", "copurchase_triangle_census", "dedup_keep_best",
    "dedup_paragraph_twolevel", "bitext_margin_mining", "documents_quality_model_eval",
)
ORDER_SEED = 20240101  # the fixed op order that --seed rotates
MODELS = (
    "stg_pickups", "top_3_bases_by_total_pickups", "pickup_percentile_by_base_per_month",
    "top_3_pickup_dates_per_base", "pickup_count_vs_average_per_base",
    "unter_grun_pickups_in_bronx", "total_pickups_in_may_by_base", "monthly_status_rollup",
)


@dataclass
class Op:
    idx: int
    cycle: int
    name: str
    traced: bool
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    wall: float = 0.0
    construct: float = 0.0
    execute: float = 0.0
    error: str | None = None
    wrong: bool = False
    result: object = None
    spark: dict | None = None
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    cores: int
    data_dir: str
    work_dir: str
    oracles: object
    tracer: object = None
    corrupt: bool = False

    def span(self, name: str, op: Op):
        if self.tracer is None or not op.traced:
            return contextlib.nullcontext()
        return self.tracer.span(name, op.idx)


def _corrupt(df: pd.DataFrame) -> pd.DataFrame:
    """Self-test hook: drop one row (or add one to an empty result)."""
    return df.iloc[1:] if len(df) else pd.concat([df, df.iloc[:0].reindex([0])])


class Workload:
    name = ""
    clients = 1
    python_workers = True  # runs pandas/Arrow UDFs, so set-up warms the Python workers

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def cycle_names(self) -> list[str]:
        raise NotImplementedError

    def cycle(self, k: int) -> list[str]:
        names = list(self.cycle_names())
        random.Random(ORDER_SEED).shuffle(names)
        start = random.Random(self.ctx.seed * 1_000_003 + k).randrange(len(names))
        return names[start:] + names[:start]

    def setup(self) -> None:
        """Staging, timed as part of set-up."""

    def before_op(self, op: Op) -> None:
        """Input for the next op, made before its timer starts."""

    def run_op(self, op: Op) -> None:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> None:
        """Mark ``op.wrong`` on every completed op whose result differs
        from the oracle. Runs after the timed window."""
        raise NotImplementedError


class _QueryWorkload(Workload):
    """Ops are registry entries, taken from the ``QUERIES`` and
    ``ORACLES`` dicts of ``modules``: construct the DataFrame, then
    execute it."""

    modules: tuple[str, ...] = ()

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        import importlib

        mods = [importlib.import_module(f"uber_data_pipeline_spark.queries.{m}") for m in self.modules]
        self.fns = {k: v for m in mods for k, v in m.QUERIES.items()}
        self.sql = {k: v for m in mods for k, v in m.ORACLES.items()}

    def run_op(self, op: Op) -> None:
        fn = self.fns[op.name]
        t0 = time.perf_counter()
        with self.ctx.span("queries.construct", op):
            df = fn(self.ctx.spark, self.ctx.data_dir)
        t1 = time.perf_counter()
        with self.ctx.span("queries.execute", op):
            op.result = self.execute(op, df)
        op.construct, op.execute = t1 - t0, time.perf_counter() - t1

    def execute(self, op: Op, df):
        raise NotImplementedError

    def result_frame(self, op: Op) -> pd.DataFrame:
        return op.result

    def check(self, ops: list[Op]) -> None:
        for op in ops:
            if op.error is not None:
                continue
            got = self.result_frame(op)
            if self.ctx.corrupt and op.idx == 0:
                got = _corrupt(got)
            op.wrong = frame_hash(got) != self.ctx.oracles.expected(op.name, self.sql[op.name])
            op.result = None


class MartsAdhoc(_QueryWorkload):
    """Read-only marts and ad-hoc queries from concurrent clients, each
    collected to the driver."""

    name = "marts_adhoc"
    modules = ("uber", "tpch", "events")

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.clients = min(4, ctx.cores)

    def cycle_names(self) -> list[str]:
        return list(self.fns)

    def execute(self, op: Op, df):
        return df.toPandas()


class OperatorsHeavy(_QueryWorkload):
    """Executor-bound training-data and graph operators, one client,
    each result written to parquet."""

    name = "operators_heavy"
    modules = ("training", "tpch_extra")

    def cycle_names(self) -> list[str]:
        return list(OPERATOR_ENTRIES)

    def execute(self, op: Op, df):
        path = os.path.join(self.ctx.work_dir, "ops", f"{op.idx:04d}_{op.name}")
        df.write.mode("overwrite").parquet(path)
        return path

    def result_frame(self, op: Op) -> pd.DataFrame:
        return self.ctx.spark.read.parquet(op.result).toPandas()


# -- elt_daily ---------------------------------------------------------

PART_COL = "o_year"
PART_EXPR = "CAST(year(o_orderdate) AS INT)"
HELD_BACK = 0.30  # share of orders (latest by o_orderdate) kept out of the lake
DAY_INSERT = 0.005  # inserts per day, as a share of orders
DAY_UPDATE = 0.005  # updates per day, as a share of orders
FILES_PER_DAY = 4
DAYS_PER_CYCLE = 3  # a run measures at least 3 warm days (~6 s each on 4 cores)
_NEXT_STATUS = {"F": "O", "O": "P", "P": "F"}


class EltDaily(Workload):
    """One op is one day: land a seeded change batch, merge it into the
    partitioned orders lake through the streaming sink, then rebuild
    the model DAG from the lake."""

    name = "elt_daily"
    python_workers = False

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        root = os.path.join(ctx.work_dir, "elt")
        self.lake_sf = os.path.join(root, "lake")
        self.lake = os.path.join(self.lake_sf, "orders.parquet")
        self.landing = os.path.join(root, "landing")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.days_dir = os.path.join(root, "days")
        self.base_path = os.path.join(root, "base.parquet")
        for d in (self.lake_sf, self.landing, self.days_dir):
            os.makedirs(d, exist_ok=True)
        orders = pd.read_parquet(os.path.join(ctx.data_dir, "orders.parquet"))
        orders = orders.sort_values(["o_orderdate", "o_orderkey"], ignore_index=True)
        n_base = int(len(orders) * (1 - HELD_BACK))
        self.base = orders.iloc[:n_base].assign(version=np.int32(0))
        self.held = orders.iloc[n_base:]
        self.n_ins = max(1, int(len(orders) * DAY_INSERT))
        self.n_upd = max(1, int(len(orders) * DAY_UPDATE))
        self.state = self.base.set_index("o_orderkey", drop=False)
        self.landed_bytes: dict[int, int] = {}
        self.day = 0

    def cycle_names(self) -> list[str]:
        return ["day"] * DAYS_PER_CYCLE

    def setup(self) -> None:
        for t in os.listdir(self.ctx.data_dir):
            if t.endswith(".parquet") and t != "orders.parquet":
                dst = os.path.join(self.lake_sf, t)
                if not os.path.exists(dst):
                    os.symlink(os.path.join(self.ctx.data_dir, t), dst)
        pq.write_table(pa.Table.from_pandas(self.base, preserve_index=False), self.base_path)
        self.base_df = self.ctx.spark.read.parquet(self.base_path)
        self.delta_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in self.base_df.schema.fields
        )
        # the first call stages the lake from the base and runs an empty
        # stream; day 1 then runs untimed as the warm-up day, so the
        # timed days measure a warm process
        self._merge()
        warm_up = Op(idx=-1, cycle=-1, name="day", traced=False)
        self.before_op(warm_up)
        self.run_op(warm_up)

    def _merge(self) -> None:
        from uber_data_pipeline_spark.streaming.events import merge_sink_stream

        merge_sink_stream(
            self.ctx.spark, self.base_df, self.landing, self.delta_ddl, self.lake,
            self.checkpoint, ["o_orderkey"], PART_EXPR, part_col=PART_COL,
        )

    def land(self, day: int) -> None:
        """Write day ``day``'s change batch as FILES_PER_DAY parquet
        files: the next held-back slice by o_orderdate as inserts plus
        status/price updates to seeded keys already in the lake."""
        rng = np.random.default_rng([self.ctx.seed, day])
        ins = self.held.iloc[(day - 1) * self.n_ins: day * self.n_ins]
        keys = rng.choice(self.state.index.to_numpy(), size=self.n_upd, replace=False)
        upd = self.state.loc[keys].copy()
        upd["o_orderstatus"] = upd["o_orderstatus"].map(_NEXT_STATUS).fillna("O")
        upd["o_totalprice"] = np.round(rng.uniform(1000.0, 500000.0, len(upd)), 2)
        batch = pd.concat([ins.assign(version=np.int32(0)), upd], ignore_index=True)
        batch["version"] = np.int32(day)
        batch = batch.iloc[rng.permutation(len(batch))].reset_index(drop=True)
        self.state = pd.concat([self.state.drop(index=upd.index), batch.set_index("o_orderkey", drop=False)])
        size = 0
        for k, part in enumerate(np.array_split(np.arange(len(batch)), FILES_PER_DAY)):
            path = os.path.join(self.landing, f"day{day:05d}-{k}.parquet")
            pq.write_table(pa.Table.from_pandas(batch.iloc[part], preserve_index=False), path)
            size += os.path.getsize(path)
        self.landed_bytes[day] = size

    def before_op(self, op: Op) -> None:
        self.land(self.day + 1)

    def run_op(self, op: Op) -> None:
        from uber_data_pipeline_spark.plans.dag import run_dag
        from uber_data_pipeline_spark.plans.uber_models import build_registry

        self.day += 1
        op.extra["day"] = day = self.day
        op.extra["landed_bytes"] = self.landed_bytes[day]
        out_dir = os.path.join(self.days_dir, f"d{day:05d}")
        t0 = time.perf_counter()
        with self.ctx.span("streaming.merge_sink_stream", op):
            self._merge()
        t1 = time.perf_counter()
        with self.ctx.span("plans.run_dag", op):
            built = run_dag(self.ctx.spark, build_registry(), self.lake_sf, out_dir)
        op.extra["stream_s"], op.extra["run_dag_s"] = t1 - t0, time.perf_counter() - t1
        op.extra["model_s"] = {r.model: r.seconds for r in built}
        op.result = out_dir

    # -- checks -------------------------------------------------------
    def _state_sql(self, day: int) -> str:
        files = [
            os.path.join(self.landing, f"day{d:05d}-{k}.parquet")
            for d in range(1, day + 1) for k in range(FILES_PER_DAY)
        ]
        union = f"SELECT * FROM read_parquet('{self.base_path}')"
        if files:
            union += f" UNION ALL SELECT * FROM read_parquet({files!r})"
        return f"""
            SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_orderkey ORDER BY version DESC) AS rn
                FROM ({union})
            ) WHERE rn = 1"""

    def _model_sql(self) -> dict[str, str]:
        from uber_data_pipeline_spark.plans.uber_models import build_registry

        out = {}
        for name, m in build_registry().models.items():
            sql = m.sql.format(incremental_filter="1=1") if m.incremental else m.sql
            out[name] = sql.replace("date_format(o_orderdate, 'yyyy-MM')", "strftime(o_orderdate, '%Y-%m')")
        return out

    def check(self, ops: list[Op]) -> None:
        done = [op for op in ops if op.error is None]
        if not done:
            return
        con = duck_connect(self.ctx.data_dir)
        try:
            last = max(op.extra["day"] for op in done)
            want = con.execute(
                f"SELECT *, CAST(year(o_orderdate) AS INTEGER) AS {PART_COL} "
                f"FROM ({self._state_sql(last)})"
            ).df()
            got = con.execute(
                f"SELECT * FROM read_parquet('{self.lake}/*/*.parquet', hive_partitioning = true)"
            ).df()
            if self.ctx.corrupt:
                got = _corrupt(got)
            lake_ok = frame_hash(got) == frame_hash(want)
            models = self._model_sql()
            for op in done:
                op.wrong = not lake_ok and op.extra["day"] == last
                con.execute(f"CREATE OR REPLACE VIEW orders AS {self._state_sql(op.extra['day'])}")
                con.execute(f"CREATE OR REPLACE VIEW stg_pickups AS {models['stg_pickups']}")
                for name in MODELS:
                    want_m = con.execute(models[name]).df()
                    got_m = pq.read_table(os.path.join(op.result, name)).to_pandas()
                    if not frames_close(got_m, want_m):
                        op.wrong = True
                        op.extra.setdefault("wrong_models", []).append(name)
        finally:
            con.close()


def frames_close(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Order-insensitive equality with a 1e-9 relative float tolerance
    (Spark writes DECIMAL sums that DuckDB returns as DOUBLE)."""
    from decimal import Decimal

    from uber_data_pipeline_spark.testing import normalize

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False

    def as_float(df):
        df = df.copy()
        for c in df.columns:
            if df[c].dtype == object and len(df) and isinstance(df[c].dropna().iloc[0], Decimal):
                df[c] = df[c].astype("float64")
        return normalize(df)

    a, b = as_float(a), as_float(b)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) and pd.api.types.is_numeric_dtype(y):
            if not np.allclose(x.to_numpy(), y.to_numpy(dtype="float64"), rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        elif not (x.astype(str).to_numpy() == y.astype(str).to_numpy()).all():
            return False
    return True


WORKLOADS = {w.name: w for w in (EltDaily, MartsAdhoc, OperatorsHeavy)}


def _trace_slots(wl: Workload, names: list[str]) -> list[int]:
    """A fixed slot per op of a cycle: the name's index in
    ``cycle_names()`` plus the number of earlier ops of the same name
    in the cycle. Unlike the shuffled position, it does not depend on
    the cycle's permutation."""
    fixed = wl.cycle_names()
    seen: dict[str, int] = {}
    slots = []
    for name in names:
        slots.append(fixed.index(name) + seen.get(name, 0))
        seen[name] = seen.get(name, 0) + 1
    return slots


def run_window(wl: Workload, seconds: float, min_cycles: int, trace: bool) -> tuple[list[Op], float]:
    """Closed loop: ``wl.clients`` threads take the next op from one
    shared seeded sequence until ``seconds`` have passed and at least
    ``min_cycles`` cycles are complete. In a traced run the op in slot
    s (see ``_trace_slots``) of cycle k is traced when s + k is even.
    A run ends after a multiple of ``min_cycles`` cycles; with 2, each
    op name runs traced and untraced equally often (1 suffices when all
    of a cycle's ops have the same name: their slots alternate)."""
    ctx = wl.ctx
    lock = threading.Lock()
    ops: list[Op] = []
    state = {"cycle": -1, "queue": []}
    t0 = time.perf_counter()

    def take() -> Op | None:
        with lock:
            if not state["queue"]:
                k = state["cycle"] + 1
                if (k >= min_cycles and k % min_cycles == 0
                        and time.perf_counter() - t0 >= seconds):
                    return None
                names = wl.cycle(k)
                state["cycle"], state["queue"] = k, list(zip(_trace_slots(wl, names), names))
            slot, name = state["queue"].pop(0)
            k = state["cycle"]
            op = Op(idx=len(ops), cycle=k, name=name, traced=trace and (slot + k) % 2 == 0)
            ops.append(op)
            return op

    def client() -> None:
        sc = ctx.spark.sparkContext
        while (op := take()) is not None:
            wl.before_op(op)
            sc.setJobGroup(f"op-{op.idx}", op.name)
            tracer = ctx.tracer
            if tracer is not None and op.traced:
                tracer.begin_op(op.idx)
            op.start = time.time()
            p0 = time.perf_counter()
            try:
                wl.run_op(op)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                op.error = f"{type(e).__name__}: {str(e)[:500]}"
            op.wall = time.perf_counter() - p0
            op.end = time.time()
            if tracer is not None:
                if op.traced:
                    tracer.end_op()
                    tracer.add("op", op.start, op.end, op.idx)
                    group = f"op-{op.idx}" if wl.clients > 1 else None
                    op.spark = tracer.collect_jobs(op.idx, group)
                elif wl.clients == 1:
                    tracer.new_job_ids()

    threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return ops, time.perf_counter() - t0
