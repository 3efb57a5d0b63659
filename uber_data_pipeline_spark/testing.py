"""Oracle-comparison helpers shared by tests/, tools/ and bench.py.

Replicates the round driver's check: row count, column-name set, and
order-insensitive value equality between a Spark result and the
DuckDB oracle for the same query. This module holds only the oracle
helpers; the measurement harness is :mod:`uber_data_pipeline_spark.harness`.
"""

from __future__ import annotations

import datetime

import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize dtypes, sort rows — the
    order-insensitive frame the hashes are computed over."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            # Spark DATE comes back as object(datetime.date) while
            # DuckDB DATE/TIMESTAMP comes back datetime64 — the driver
            # hashes those equal (r1: orders_daily_gapfill et al were
            # green), so canonicalize temporals to one dtype instead
            # of flagging them.
            non_null = s.dropna()
            if len(non_null) and all(
                isinstance(v, (datetime.date, datetime.datetime))
                for v in non_null
            ):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
            else:
                df[c] = s.astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    """Empty list == match; else human-readable problem descriptions."""
    problems = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return problems
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
    a, b = normalize(spark_df), normalize(oracle_df)
    # The driver's value hash is dtype-sensitive: DuckDB SUM(int) comes
    # back HUGEINT -> float64 while Spark's is int64, values equal but
    # hashes differ (r1's tpch_q12). normalize() maps every numeric to
    # int64-or-float64, so any residual dtype difference here is exactly
    # the class the driver would flag — report it even when every cell
    # compares equal.
    for c in a.columns:
        if a[c].dtype != b[c].dtype:
            problems.append(
                f"dtype mismatch col={c}: spark={a[c].dtype} oracle={b[c].dtype}"
                " (driver hash is type-sensitive — CAST the oracle column)"
            )
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b) & ~(a.isna() & b.isna())
        bad_cols = [c for c in a.columns if neq[c].any()]
        for c in bad_cols[:3]:
            i = neq[c].idxmax()
            problems.append(
                f"value mismatch col={c} row={i}: spark={a[c][i]!r} oracle={b[c][i]!r}"
            )
        if not bad_cols and not any(p.startswith("dtype mismatch") for p in problems):
            problems.append(
                "frames not equal but no differing cells or dtypes found "
                "(index/NaN-layout divergence — inspect manually)"
            )
    return problems

