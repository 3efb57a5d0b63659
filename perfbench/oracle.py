"""Result hashing and the DuckDB oracle, with an on-disk hash cache.

Every checked result is reduced to a value hash over the engine's own
``testing.normalize`` frame (columns sorted by name, dtypes
canonicalised, rows sorted), so a Spark result and its DuckDB oracle
agree exactly when the engine's correctness gate would pass them.

Oracle hashes are keyed by (data fingerprint, entry name, SQL text,
hashing code): the committed ``oracle_hashes.json`` next to this file
seeds the cache and a run adds what it computes to
``<work>/oracle_hashes.json``. The hashing code is the source of
``frame_hash`` and of the engine's ``testing`` module (home of
``normalize``), so a change to either makes every cached hash miss
rather than go stale. Hashes are always computed after the timed
window, never inside it.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import threading

import duckdb
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_COMMITTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_hashes.json")


def frame_hash(df: pd.DataFrame) -> str:
    """Value hash of a result frame: names, dtypes, row count and every
    cell of the normalized frame."""
    from uber_data_pipeline_spark.testing import normalize

    nf = normalize(df)
    h = hashlib.sha256()
    h.update(repr([(c, str(nf[c].dtype)) for c in nf.columns]).encode())
    h.update(str(len(nf)).encode())
    if len(nf):
        h.update(pd.util.hash_pandas_object(nf, index=False).values.tobytes())
    return h.hexdigest()[:32]


def fingerprint(data_dir: str) -> str:
    """Content hash of the ten table files in ``data_dir``."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:32]


def _hashing_code() -> str:
    from uber_data_pipeline_spark import testing

    src = inspect.getsource(frame_hash) + inspect.getsource(testing)
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def duck_connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
        )
    return con


class OracleCache:
    """name -> oracle hash for one dataset, computed on first use."""

    def __init__(self, work_dir: str, data_dir: str):
        self.path = os.path.join(work_dir, "oracle_hashes.json")
        self.data_dir = data_dir
        self.prefix = f"{fingerprint(data_dir)}:{_hashing_code()}"
        self._con: duckdb.DuckDBPyConnection | None = None
        self._lock = threading.Lock()
        self._hashes: dict[str, str] = {}
        for p in (_COMMITTED, self.path):
            if os.path.exists(p):
                with open(p) as f:
                    self._hashes.update(json.load(f))
        self.computed = 0

    def _key(self, name: str, sql: str) -> str:
        sql_h = hashlib.sha256(sql.encode()).hexdigest()[:16]
        return f"{self.prefix}:{name}:{sql_h}"

    def expected(self, name: str, sql: str) -> str:
        key = self._key(name, sql)
        with self._lock:
            if key not in self._hashes:
                if self._con is None:
                    self._con = duck_connect(self.data_dir)
                self._hashes[key] = frame_hash(self._con.execute(sql).df())
                self.computed += 1
            return self._hashes[key]

    def save(self) -> None:
        if not self.computed:
            return
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._hashes, f, indent=0, sort_keys=True)
        os.replace(tmp, self.path)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
