"""Model-DAG semantics: topological ordering, dbt-style upstream
selection, cycle detection, and — the parity guarantee — the
materialized DAG models produce the same results as the registry's
reference-parity queries, which build the same models over the source
tables."""

from __future__ import annotations

import os
import shutil
import statistics

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from uber_data_pipeline_spark.plans.dag import refresh_incremental, run_dag
from uber_data_pipeline_spark.plans.model import Model, ModelRegistry
from uber_data_pipeline_spark.plans.uber_models import build_registry
from uber_data_pipeline_spark.queries import uber
from uber_data_pipeline_spark.testing import compare

ART = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".artifacts")

# DAG model name -> registry query key with identical output columns
PARITY = {
    "top_3_bases_by_total_pickups": "top3_bases_by_pickups",
    "pickup_percentile_by_base_per_month": "pickup_percentile_by_base_per_month",
    "top_3_pickup_dates_per_base": "top3_pickup_dates_per_base",
    "pickup_count_vs_average_per_base": "pickup_count_vs_average_per_base",
    "unter_grun_pickups_in_bronx": "unter_grun_pickups_in_bronx",
    "total_pickups_in_may_by_base": "total_pickups_in_may_by_base",
}


def test_topo_order_puts_staging_first():
    order = [m.name for m in build_registry().topo_order()]
    # both roots (staging join + the incremental rollup) precede every mart
    assert set(order[:2]) == {"stg_pickups", "monthly_status_rollup"}
    assert len(order) == 8


def test_selection_pulls_upstreams():
    order = [m.name for m in build_registry().topo_order({"total_pickups_in_may_by_base"})]
    assert order == ["stg_pickups", "total_pickups_in_may_by_base"]


def test_cycle_detection():
    r = ModelRegistry()
    r.register(Model(name="a", deps=("b",), sql="SELECT 1"))
    r.register(Model(name="b", deps=("a",), sql="SELECT 1"))
    with pytest.raises(ValueError, match="cycle"):
        r.topo_order()


def test_dag_models_match_reference_queries(spark):
    """Each of the six materialized dbt-style marts == the registry
    entry the driver verifies against DuckDB. The entry builds the
    same model SQL over the source tables with ``stg_pickups``
    inlined; the DAG builds it over the materialized ``stg_pickups``."""
    assert sorted(PARITY.values()) == sorted(uber.QUERIES)
    out_dir = os.path.join(ART, "dag_parity")
    shutil.rmtree(out_dir, ignore_errors=True)
    run_dag(spark, build_registry(), SF_DIR, out_dir)
    queries = entrymod.queries()
    for model_name, query_key in PARITY.items():
        model_df = spark.read.parquet(os.path.join(out_dir, model_name)).toPandas()
        query_df = queries[query_key](spark, SF_DIR).toPandas()
        problems = compare(model_name, model_df, query_df)
        assert not problems, f"{model_name}: " + "; ".join(problems)


def test_run_dag_loads_only_its_deps(spark, tmp_path):
    """run_dag reads only the source tables its models name in deps:
    a directory holding just orders, customer, nation and region
    builds the same 8 outputs as the full table directory."""
    sources = tmp_path / "sources"
    sources.mkdir()
    for t in ("orders", "customer", "nation", "region"):
        os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), sources / f"{t}.parquet")
    only_deps = run_dag(spark, build_registry(), str(sources), str(tmp_path / "a"))
    full = run_dag(spark, build_registry(), SF_DIR, str(tmp_path / "b"))
    assert [r.model for r in only_deps] == [r.model for r in full]
    assert len(full) == 8
    for a, b in zip(only_deps, full):
        assert a.n_rows == b.n_rows, a.model
        problems = compare(
            a.model,
            spark.read.parquet(a.path).toPandas(),
            spark.read.parquet(b.path).toPandas(),
        )
        assert not problems, f"{a.model}: " + "; ".join(problems)


def test_entry_returns_rows(spark):
    assert entrymod.entry(spark).count() > 0


def _temp_views(spark) -> list[str]:
    return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)


@pytest.mark.parametrize(
    "op",
    [
        "run_dag", "refresh_incremental", *uber.QUERIES, "text_udtf_bigrams",
        "snapshot_stream_python_datasource",
    ],
)
def test_session_temp_views_unchanged(spark, tmp_path, op):
    """Models get their inputs as arguments: run_dag, refresh_incremental,
    the six uber entries and the bigram UDTF leave the session's temp
    views as they found them (run_dag used to leave 12). So does the
    python stream source, which drops its memory-sink view."""
    # a view an earlier test left under the same name would hide a
    # re-registration
    for name in _temp_views(spark):
        spark.catalog.dropTempView(name)
    if op == "run_dag":
        run_dag(spark, build_registry(), SF_DIR, str(tmp_path))
    elif op == "refresh_incremental":
        refresh_incremental(
            spark, build_registry(), "monthly_status_rollup", SF_DIR,
            str(tmp_path), "1995-01-01",
        )
    else:
        entrymod.queries()[op](spark, SF_DIR).collect()
    assert _temp_views(spark) == []


def test_callers_orders_view_survives_run_dag(spark, tmp_path):
    """A caller's own ``orders`` view, filtered to one row, is neither
    replaced nor read by run_dag: the DAG's outputs equal those of a run
    without the view."""
    plain = run_dag(spark, build_registry(), SF_DIR, str(tmp_path / "a"))
    spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).limit(1) \
        .createOrReplaceTempView("orders")
    try:
        with_view = run_dag(spark, build_registry(), SF_DIR, str(tmp_path / "b"))
        assert spark.table("orders").count() == 1
    finally:
        spark.catalog.dropTempView("orders")
    assert [(r.model, r.n_rows) for r in with_view] == [(r.model, r.n_rows) for r in plain]
    for a, b in zip(with_view, plain):
        problems = compare(
            a.model,
            spark.read.parquet(a.path).toPandas(),
            spark.read.parquet(b.path).toPandas(),
        )
        assert not problems, f"{a.model}: " + "; ".join(problems)


def test_run_dag_counts_rows_from_the_written_footers(spark, tmp_path, monkeypatch):
    """A materializing run_dag never calls DataFrame.count: n_rows is
    the footers' num_rows sum, equal to a fresh count of what was
    written, for the 8 uber models and for a model with no rows."""
    registry = build_registry()
    registry.sql_model("no_rows", deps=("orders",), sql="SELECT * FROM orders WHERE 1 = 0")

    def no_count(self):
        raise AssertionError("run_dag called DataFrame.count")

    monkeypatch.setattr(type(spark.range(1)), "count", no_count)
    built = run_dag(spark, registry, SF_DIR, str(tmp_path))
    monkeypatch.undo()
    assert len(built) == 9
    for r in built:
        assert r.n_rows == spark.read.parquet(r.path).count(), r.model
    assert {r.model: r.n_rows for r in built}["no_rows"] == 0


def _elt_day_runner(spark, tmp_path):
    """``day(d)``: one elt day on a tmp lake over SF_DIR's orders —
    land 10 changed keys, merge_sink_stream them into the partitioned
    lake, then run_dag over it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from uber_data_pipeline_spark.streaming.events import merge_sink_stream

    lake_sf, landing = tmp_path / "lake", tmp_path / "landing"
    lake_sf.mkdir()
    landing.mkdir()
    for t in ("customer", "nation", "region"):
        os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), lake_sf / f"{t}.parquet")
    orders = pq.read_table(os.path.join(SF_DIR, "orders.parquet"))
    orders = orders.append_column("version", pa.array([0] * len(orders), pa.int32()))
    base_path = str(tmp_path / "base.parquet")
    pq.write_table(orders, base_path)
    base = spark.read.parquet(base_path)
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in base.schema.fields)

    def day(d: int) -> None:
        keys = orders.slice(d * 10, 10)
        pq.write_table(
            keys.set_column(keys.schema.get_field_index("version"), "version",
                            pa.array([d] * len(keys), pa.int32())),
            str(landing / f"day{d}.parquet"),
        )
        merge_sink_stream(
            spark, base, str(landing), ddl, str(lake_sf / "orders.parquet"),
            str(tmp_path / "checkpoint"), ["o_orderkey"],
            "CAST(year(o_orderdate) AS INT)", part_col="o_year",
        )
        run_dag(spark, build_registry(), str(lake_sf), str(tmp_path / f"d{d}"))

    return day


def test_elt_days_add_no_bus_listener(spark, tmp_path):
    """Three elt days (merge_sink_stream, then run_dag over the lake)
    on one session leave the SparkContext's listener bus with the
    number of listeners it had after the first day: nothing on the
    per-day path registers a listener (an Observation or a
    QueryExecutionListener would, once per day)."""
    day = _elt_day_runner(spark, tmp_path)
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def listeners(d: int) -> int:
        day(d)
        bus.waitUntilEmpty(10_000)
        return bus.listeners().size()

    counts = [listeners(d) for d in (1, 2, 3)]
    assert counts == [counts[0]] * 3, counts


def _live_sessions_and_heap(spark) -> tuple[int, float]:
    """(live classic SparkSession instances, live heap MiB) in the
    driver JVM, from a class histogram (which runs a full GC first).
    Read until two readings agree on the session count, so a stream
    thread still exiting with its clone as its active session is not
    counted."""
    import gc
    import re
    import subprocess
    import time

    jcmd = shutil.which("jcmd")
    if jcmd is None:
        pytest.skip("jcmd (JDK) not on PATH")
    pid = str(spark._jvm.java.lang.ProcessHandle.current().pid())
    last = None
    for _ in range(5):
        gc.collect()
        out = subprocess.run(
            [jcmd, pid, "GC.class_histogram"],
            capture_output=True, text=True, check=True, timeout=120,
        ).stdout
        sessions = sum(
            int(m.group(1))
            for m in re.finditer(
                r"^\s*\d+:\s+(\d+)\s+\d+\s+org\.apache\.spark\.sql\.classic\.SparkSession\s*$",
                out, re.M,
            )
        )
        heap = int(re.search(r"^Total\s+\d+\s+(\d+)", out, re.M).group(1)) / 2**20
        if last is not None and last[0] == sessions:
            break
        last = (sessions, heap)
        time.sleep(0.5)
    return sessions, heap


def test_elt_days_hold_no_session_per_day(spark, tmp_path):
    """Five elt days leave the JVM with as many live SparkSessions as
    the first day did, and the live heap grows by less than 2.2 MiB per
    day (least-squares slope over the five days). Before the merge ran
    on the caller's session, every day's streaming clone stayed
    reachable — inherited as the active session by the exchange pool
    threads its merge started — one more session per day, and the live
    heap grew ~2.9 MiB per day."""
    day = _elt_day_runner(spark, tmp_path)
    readings = []
    for d in range(1, 6):
        day(d)
        readings.append(_live_sessions_and_heap(spark))
    sessions = [s for s, _ in readings]
    assert sessions == [sessions[0]] * len(sessions), readings
    heap = [h for _, h in readings]
    assert statistics.linear_regression(range(len(heap)), heap).slope < 2.2, readings


def test_rate_sink_runs_hold_no_session_per_run(spark):
    """Three `streaming_merge_sink_rate` runs leave the JVM with as
    many live SparkSessions as the first run did: every micro-batch
    merges on the caller's session. When each batch merged on its
    stream's clone, the count went 2, 3, 4."""
    from uber_data_pipeline_spark.queries.pipeline import streaming_merge_sink_rate

    sessions = []
    for _ in range(3):
        streaming_merge_sink_rate(spark, SF_DIR)
        sessions.append(_live_sessions_and_heap(spark)[0])
    assert sessions == [sessions[0]] * len(sessions), sessions


def test_warm_elt_days_compile_no_class(spark, tmp_path):
    """Once one elt day has run, the next two compile no generated
    class: the codegen cache (session.CODEGEN_CACHE_ENTRIES) holds a
    day's ~135 classes, where Spark's default of 100 recompiled 100+
    per day."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    day = _elt_day_runner(spark, tmp_path)
    compiles = []
    for d in (1, 2, 3):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        day(d)
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiles[1:] == [0, 0], compiles


def test_cron_next_fire_semantics():
    """5-field cron evaluator: strictly-after boundary, steps, ranges,
    Vixie dom-OR-dow, leap-day termination."""
    import datetime as dt

    from uber_data_pipeline_spark.plans.cron import next_fire

    as_of = dt.datetime(1995, 6, 15, 7, 30)
    assert next_fire("0 0 * * *", as_of) == dt.datetime(1995, 6, 16, 0, 0)
    # strictly after: a fire exactly AT as_of picks the next one
    assert next_fire("30 7 * * *", as_of) == dt.datetime(1995, 6, 16, 7, 30)
    assert next_fire("31 7 * * *", as_of) == dt.datetime(1995, 6, 15, 7, 31)
    assert next_fire("*/15 * * * *", as_of) == dt.datetime(1995, 6, 15, 7, 45)
    # next Monday (1995-06-19)
    assert next_fire("30 6 * * 1", as_of) == dt.datetime(1995, 6, 19, 6, 30)
    assert next_fire("0 12 1 * *", as_of) == dt.datetime(1995, 7, 1, 12, 0)
    # Vixie: dom OR dow when both restricted (1995-06-16 is a Friday)
    assert next_fire("0 0 15 * 5", as_of) == dt.datetime(1995, 6, 16, 0, 0)
    # leap-day spec crosses a year boundary without hanging
    assert next_fire("0 0 29 2 *", dt.datetime(1995, 1, 1)) == dt.datetime(
        1996, 2, 29
    )
    # range + list fields
    assert next_fire("0,30 9-11 * * *", as_of) == dt.datetime(1995, 6, 15, 9, 0)
    with pytest.raises(ValueError):
        next_fire("0 0 * *", as_of)  # 4 fields
    with pytest.raises(ValueError):
        next_fire("61 0 * * *", as_of)  # out of range


def test_cron_century_leap_gap_and_dow7_alias():
    """ADVICE r7: the Feb-29 spec must survive the century non-leap
    boundary (2096-03-01 -> 2104-02-29 is EIGHT years out, 2100 not a
    leap year), and dow 7 must alias to Sunday like every real cron."""
    import datetime as dt

    from uber_data_pipeline_spark.plans.cron import next_fire, parse_cron

    assert next_fire("0 0 29 2 *", dt.datetime(2096, 3, 1)) == dt.datetime(
        2104, 2, 29
    )
    assert parse_cron("0 0 * * 7")[4] == parse_cron("0 0 * * 0")[4]
    # 1995-06-18 is a Sunday
    as_of = dt.datetime(1995, 6, 15, 7, 30)
    assert next_fire("0 9 * * 7", as_of) == dt.datetime(1995, 6, 18, 9, 0)


def test_cron_next_fire_matches_minute_scan_oracle():
    """Property test (VERDICT r7 item 7): next_fire's day-skip +
    hour/minute floor fast-forward must agree with a dumb minute-by-
    minute scan under Vixie dom-OR-dow semantics, over random 5-field
    specs and random instants."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from uber_data_pipeline_spark.plans.cron import next_fire, parse_cron

    def field(lo, hi, star_ok=True):
        explicit = st.sets(
            st.integers(lo, hi), min_size=1, max_size=4
        ).map(lambda s: ",".join(str(v) for v in sorted(s)))
        step = st.tuples(
            st.integers(lo, max(lo, hi - 2)), st.integers(2, 9)
        ).map(lambda t: f"{t[0]}-{hi}/{t[1]}")
        opts = [explicit, step] + ([st.just("*")] if star_ok else [])
        return st.one_of(*opts)

    spec = st.tuples(
        field(0, 59),
        field(0, 23),
        field(1, 28),  # dom <= 28: a fire always exists within a year
        field(1, 12),
        field(0, 6),
    ).map(" ".join)
    instant = st.datetimes(
        min_value=dt.datetime(1994, 1, 1),
        max_value=dt.datetime(1997, 12, 31),
    ).map(lambda t: t.replace(second=0, microsecond=0))

    @settings(max_examples=25, deadline=None)
    @given(spec=spec, after=instant)
    def check(spec, after):
        minutes, hours, doms, months, dows = parse_cron(spec)
        dom_star = doms == frozenset(range(1, 32))
        dow_star = dows == frozenset(range(0, 7))
        t = after + dt.timedelta(minutes=1)
        for _ in range(527040):  # 366 days of minutes
            cron_dow = (t.weekday() + 1) % 7
            day_ok = (
                (t.day in doms)
                if dow_star
                else (cron_dow in dows)
                if dom_star
                else (t.day in doms or cron_dow in dows)
            )
            if (
                day_ok
                and t.month in months
                and t.hour in hours
                and t.minute in minutes
            ):
                assert next_fire(spec, after) == t
                return
            t += dt.timedelta(minutes=1)
        raise AssertionError(f"oracle found no fire in a year: {spec}")

    check()


def test_due_run_skips_unscheduled_models():
    """ADVICE r7: Model.schedule=None is documented as 'unscheduled' —
    due_run must skip those, not crash on next_fire(None), while the
    Kahn level of scheduled models still counts unscheduled upstreams."""
    import datetime as dt

    from uber_data_pipeline_spark.plans.dag import due_run
    from uber_data_pipeline_spark.plans.model import Model, ModelRegistry

    r = ModelRegistry()
    r.register(Model(name="stg", deps=("raw",), sql="SELECT 1"))  # unscheduled
    r.register(
        Model(name="mart", deps=("stg",), sql="SELECT 1", schedule="0 0 * * *")
    )
    rows = due_run(r, dt.datetime(1995, 6, 15))
    assert [r[1] for r in rows] == ["mart"]
    assert rows[0][2] == 1  # level still counts the unscheduled upstream
    assert rows[0][3] == dt.datetime(1995, 6, 16, 0, 0)


def test_due_run_and_closure_raise_on_cycle():
    """ADVICE r7: a cyclic registry must raise the clean 'dependency
    cycle' ValueError (topo_order's contract), not RecursionError."""
    import datetime as dt

    from uber_data_pipeline_spark.plans.dag import (
        downstream_closure,
        due_run,
    )
    from uber_data_pipeline_spark.plans.model import Model, ModelRegistry

    r = ModelRegistry()
    r.register(Model(name="a", deps=("b",), sql="SELECT 1", schedule="0 0 * * *"))
    r.register(Model(name="b", deps=("a",), sql="SELECT 1", schedule="0 0 * * *"))
    with pytest.raises(ValueError, match="cycle"):
        due_run(r, dt.datetime(1995, 6, 15))
    with pytest.raises(ValueError, match="cycle"):
        downstream_closure(r, "a")


def test_due_run_kahn_order():
    """due_run ranks by (registry-internal Kahn level, name): the two
    roots first, the six stg_pickups dependents after."""
    import datetime as dt

    from uber_data_pipeline_spark.plans.dag import due_run

    rows = due_run(build_registry(), dt.datetime(1995, 6, 15, 7, 30))
    assert [r[0] for r in rows] == list(range(1, 9))
    by_name = {r[1]: r for r in rows}
    assert by_name["stg_pickups"][2] == 0
    assert by_name["monthly_status_rollup"][2] == 0
    for m in (
        "pickup_count_vs_average_per_base",
        "unter_grun_pickups_in_bronx",
        "total_pickups_in_may_by_base",
    ):
        assert by_name[m][2] == 1
    assert all(r[3] == dt.datetime(1995, 6, 16, 0, 0) for r in rows)


def test_downstream_closure_transitive_order():
    """Generic closure on a synthetic graph: transitive dependents in
    (level, name) order; raw-table deps never pull models in."""
    from uber_data_pipeline_spark.plans.dag import downstream_closure
    from uber_data_pipeline_spark.plans.model import Model, ModelRegistry

    r = ModelRegistry()
    r.register(Model(name="base", deps=("raw",), sql="SELECT 1"))
    r.register(Model(name="mid", deps=("base",), sql="SELECT 1"))
    r.register(Model(name="leaf_a", deps=("mid", "raw"), sql="SELECT 1"))
    r.register(Model(name="leaf_b", deps=("mid",), sql="SELECT 1"))
    r.register(Model(name="island", deps=("raw",), sql="SELECT 1"))
    assert downstream_closure(r, "base") == ["mid", "leaf_a", "leaf_b"]
    assert downstream_closure(r, "mid") == ["leaf_a", "leaf_b"]
    assert downstream_closure(r, "leaf_a") == []
    assert downstream_closure(r, "island") == []


def test_backfill_plan_pushdown(spark):
    """The backfill month-discovery scan must push the window filter
    to the parquet scan and read only the event column."""
    from uber_data_pipeline_spark.queries.pipeline import dag_backfill_plan

    from tests.conftest import SF_DIR

    plan = dag_backfill_plan(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderdate" in plan.split("PushedFilters: [", 1)[1][:120], plan[:3000]
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "o_totalprice" not in read_schema, read_schema
