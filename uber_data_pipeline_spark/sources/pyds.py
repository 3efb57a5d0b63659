"""Python DataSource (Spark 4 `pyspark.sql.datasource` API) over the
snapshot-manifest format (sources/snapshots.py) — the extension-point
coverage for lakes whose catalog/commit protocol Spark does not speak
natively: the planner asks THIS class for schema, partitions, and
filter pushdown, and each partition streams Arrow record batches.

Design (the shapes that matter at scale):
- one InputPartition PER DATA FILE from the version's manifest —
  Spark schedules files across executors exactly like a native scan;
- `read()` yields **pyarrow RecordBatches** (zero-copy into Spark's
  columnar pipeline), never Python row tuples;
- `pushFilters()` accepts the comparison filters it can evaluate and
  hands them to pyarrow's parquet reader (row-group statistics
  pruning + batch-level filtering) — returning the rest to Spark, so
  correctness never depends on the pushdown.

The same relation read through the native path (snapshots.read_
snapshot) must be value-identical — that is this source's oracle.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    DataSourceStreamReader,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

from uber_data_pipeline_spark.session import tune_runtime

FORMAT_NAME = "snapshot_manifest"

_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SnapshotManifestReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options["root"]
        self.version = int(options.get("version", -1))
        self.pushed: list[tuple[str, str, object]] = []
        if self.version < 0:
            from uber_data_pipeline_spark.sources.snapshots import latest_version

            self.version = latest_version(self.root)
        with open(
            os.path.join(self.root, "manifests", f"v{self.version}.json")
        ) as fh:
            self.files = json.load(fh)["files"]

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Keep simple single-column comparisons for pyarrow; return
        everything else to Spark unevaluated."""
        for f in filters:
            op = _OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.pushed.append((f.attribute[0], op, f.value))
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        return [_FilePartition(p) for p in self.files]

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        table = pq.read_table(
            partition.path, filters=self.pushed or None
        )
        yield from table.to_batches()


class SnapshotManifestSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        import pyarrow.parquet as pq

        reader = SnapshotManifestReader(dict(self.options))
        if not reader.files:
            raise ValueError(
                f"snapshot v{reader.version} at {reader.root} has no data "
                "files; cannot infer a schema from an empty snapshot"
            )
        schema = pq.read_schema(reader.files[0])
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(schema)

    def reader(self, schema) -> DataSourceReader:
        return SnapshotManifestReader(dict(self.options))


def register(spark) -> None:
    # pushFilters is rejected unless tune_runtime's filterPushdown flag
    # is on when the lazy read's action runs
    tune_runtime(spark)
    spark.dataSource.register(SnapshotManifestSource)


# ---- streaming reader over the commit log -----------------------------

STREAM_FORMAT_NAME = "snapshot_commits"


class _CommitFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SnapshotCommitPartitionedReader(DataSourceStreamReader):
    """Partition-based streaming reader over the commit log: offset =
    {"version": last-consumed-commit}; each micro-batch drains the
    commits published since — the change-feed role of a table
    format's commit stream, on the plain-parquet manifest lake. The
    driver only lists commit versions (`latestOffset`) and plans one
    InputPartition per commit FILE (`partitions`), and `read()` runs
    on EXECUTORS, yielding pyarrow RecordBatches straight into Spark's
    columnar pipeline. No row ever materializes on the driver, so the
    feed is not bounded by driver memory — this is the 100 TB shape of
    a change-feed source. Recovery is deterministic by construction:
    a restarted batch re-plans exactly the same [start+1, end] commit
    range, and commit files are immutable."""

    def __init__(self, options: dict):
        self.root = options["root"]

    def initialOffset(self) -> dict:
        return {"version": -1}

    def latestOffset(self) -> dict:
        from uber_data_pipeline_spark.sources.snapshots import latest_version

        # default=-1: before the first commit the stream reports "no
        # new data" instead of crashing
        return {"version": latest_version(self.root, default=-1)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        parts: list[InputPartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            d = os.path.join(self.root, "data", f"commit-{v}")
            for f in sorted(os.listdir(d)):
                if f.endswith(".parquet"):
                    parts.append(_CommitFilePartition(os.path.join(d, f)))
        return parts

    def read(self, partition: _CommitFilePartition):
        import pyarrow.parquet as pq

        yield from pq.read_table(partition.path).to_batches()

    def commit(self, end: dict) -> None:
        # commits are immutable and retained; nothing to clean up
        pass


class SnapshotCommitStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return STREAM_FORMAT_NAME

    def schema(self) -> str:
        # the commit stream carries the orders projection the
        # pipeline stages (see queries/pipeline.py)
        return "o_orderkey bigint, o_orderstatus string, o_totalprice double"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return SnapshotCommitPartitionedReader(dict(self.options))


def register_stream(spark) -> None:
    spark.dataSource.register(SnapshotCommitStreamSource)
