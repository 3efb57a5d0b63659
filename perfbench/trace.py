"""Spans for the traced run, recorded from outside the engine.

Three sources, all kept in memory and written out at the end:

- spans the benchmark opens around its own calls into each layer, plus
  wrappers installed at the module attribute of public functions that
  callers bound by name (``catalog.load_table``,
  ``sources.writers.merge_upsert_partitioned``) — traced run only;
- Spark job spans read from the status store after each op;
- micro-batch spans from a ``StreamingQueryListener``.

A span is (name, start, end, op, parent). Parents are assigned by time
containment within an op: the smallest enclosing span of a lower rank
(benchmark spans enclose library spans, which enclose Spark jobs).
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass

_RANK = {
    "op": 0, "plans": 1, "queries": 1, "streaming.merge_sink_stream": 1,
    "streaming.batch": 2, "catalog": 3, "writers": 3, "spark": 4,
}


def _rank(name: str) -> int:
    return _RANK.get(name, _RANK.get(name.split(".")[0], 2))


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    op: int
    parent: int | None = None
    bytes_written: int = 0


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the intervals (empty ones ignored)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                try:
                    out[p] = os.stat(p).st_ino
                except OSError:
                    pass
    return out


class Tracer:
    """Span store plus the op context the wrappers consult. An op is
    traced while ``begin_op(op)`` is in effect on the current thread
    or, for single-client workloads whose library code runs on
    other threads (stream execution, DAG thread pool), process-wide."""

    def __init__(self, spark, single_client: bool):
        self.spark = spark
        self.single_client = single_client
        self.spans: list[Span] = []
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._global_op: int | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._listener = None
        self._next_job = 0

    # -- op context ---------------------------------------------------
    def begin_op(self, op: int) -> None:
        self._tls.op = op
        if self.single_client:
            self._global_op = op

    def end_op(self) -> None:
        self._tls.op = None
        self._global_op = None

    def current_op(self) -> int | None:
        op = getattr(self._tls, "op", None)
        return op if op is not None else self._global_op

    def add(self, name: str, start: float, end: float, op: int, **kw) -> None:
        with self._lock:
            self.spans.append(Span(name, start, end, op, **kw))

    def span(self, name: str, op: int):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.t0 = time.time()

            def __exit__(self, *exc):
                tracer.add(name, self.t0, time.time(), op)

        return _Ctx()

    # -- wrappers at module attributes --------------------------------
    def _wrap(self, fn, name: str, target_arg: int | None = None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            op = tracer.current_op()
            if op is None:
                return fn(*args, **kwargs)
            before = _dir_files(args[target_arg]) if target_arg is not None else None
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                written = 0
                if before is not None:
                    after = _dir_files(args[target_arg])
                    written = sum(
                        os.path.getsize(p) for p, ino in after.items()
                        if before.get(p) != ino and os.path.exists(p)
                    )
                tracer.add(name, t0, t1, op, bytes_written=written)

        return wrapper

    def install(self) -> None:
        """Wrap the named public functions wherever a module of the
        engine bound them (the defining module and every importer)."""
        from uber_data_pipeline_spark import catalog
        from uber_data_pipeline_spark.sources import writers

        targets = [
            (catalog.load_table, "catalog.load_table", None),
            (writers.merge_upsert_partitioned, "writers.merge_upsert_partitioned", 1),
        ]
        for fn, name, target_arg in targets:
            wrapper = self._wrap(fn, name, target_arg)
            for mod in list(sys.modules.values()):
                if not getattr(mod, "__name__", "").startswith("uber_data_pipeline_spark"):
                    continue
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._patched.append((mod, attr, fn))
                        setattr(mod, attr, wrapper)
        self._install_listener()
        self.new_job_ids()  # skip the set-up jobs

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _install_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    tracer.progress.append({
                        "batch": p.batchId,
                        "timestamp": p.timestamp,
                        "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    # -- Spark status store -------------------------------------------
    def _flush_listener_bus(self) -> None:
        bus = self.spark.sparkContext._jsc.sc().listenerBus()
        bus.waitUntilEmpty(10_000)

    def new_job_ids(self) -> list[int]:
        """Ids of the jobs submitted since the last call (ids are dense
        and increasing)."""
        self._flush_listener_bus()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        ids = []
        while True:
            try:
                store.job(self._next_job)
            except Exception:  # noqa: BLE001 - py4j NoSuchElementException: no such job yet
                return ids
            ids.append(self._next_job)
            self._next_job += 1

    def collect_jobs(self, op: int, group: str | None) -> dict:
        """Jobs of one op, from the status store: by job group for
        concurrent clients, else every job submitted since the previous
        op (the stream and the DAG's thread pool run jobs outside the
        caller's group). Adds one ``spark.job`` span per job."""
        sc = self.spark.sparkContext
        self._flush_listener_bus()
        store = sc._jsc.sc().statusStore()
        ids = (
            list(sc.statusTracker().getJobIdsForGroup(group))
            if group is not None else self.new_job_ids()
        )
        agg = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        }
        seen_stages: set[int] = set()
        for jid in ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else sub.get().getTime()
                self.add("spark.job", sub.get().getTime() / 1e3, end / 1e3, op)
            agg["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - skipped stage never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                agg["stages"] += 1
                agg["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                agg["task_run_s"] += st.executorRunTime() / 1e3
                agg["task_cpu_s"] += st.executorCpuTime() / 1e9
                agg["gc_s"] += st.jvmGcTime() / 1e3
                agg["shuffle_read_mb"] += (
                    st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
                ) / 2**20
                agg["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                agg["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return agg

    def batch_spans(self) -> None:
        """One ``streaming.batch`` span per micro-batch progress event."""
        from datetime import datetime

        self._flush_listener_bus()
        time.sleep(0.2)  # the Python listener callback runs after the bus
        ops = [s for s in self.spans if s.name == "op"]
        for p in self.progress:
            if "addBatch" not in p["duration_ms"]:
                continue
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            p["op"] = next((o.op for o in ops if o.start <= start <= o.end), None)
            if p["op"] is not None:
                dur = p["duration_ms"].get("triggerExecution", 0) / 1e3
                self.add("streaming.batch", start, start + dur, p["op"])

    # -- analysis -----------------------------------------------------
    def assign_parents(self) -> None:
        eps = 0.005
        by_op: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            by_op.setdefault(s.op, []).append(i)
        for idx in by_op.values():
            for i in idx:
                s, best, best_len = self.spans[i], None, None
                for j in idx:
                    p = self.spans[j]
                    if j == i or _rank(p.name) >= _rank(s.name):
                        continue
                    if p.start - eps <= s.start and s.end <= p.end + eps:
                        if best is None or p.end - p.start < best_len:
                            best, best_len = j, p.end - p.start
                s.parent = best

    def self_times(self) -> dict[str, float]:
        """Layer -> total self time: each span's duration minus the part
        of its interval covered by its children."""
        kids: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(i)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            cover = [
                (max(self.spans[k].start, s.start), min(self.spans[k].end, s.end))
                for k in kids.get(i, ())
            ]
            own = (s.end - s.start) - union_len(cover)
            layer = s.name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, own)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({
                "spans": [asdict(s) for s in self.spans],
                "stream_progress": self.progress,
            }, f)
