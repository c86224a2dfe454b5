"""Local correctness harness mirroring the driver's t2 gate.

Runs every `__spark_entry__.queries()` entry on Spark and its
`oracle_sql()` twin on DuckDB over the same parquet tables, then compares
row count, sorted column names, and exact values (order-insensitive).

Usage:  python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from flinkproject_spark.catalog import TABLES  # noqa: E402
from flinkproject_spark.session import get_spark  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    # an in-memory connection has no spill location, so a big oracle
    # (pagerank's unrolled Jacobi at sf1) dies with an allocator OOM
    # instead of going out-of-core; point temp_directory at disk so the
    # harness degrades to spilling, like any real engine would
    con.execute("PRAGMA temp_directory='/tmp/duck_spill'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written table dir (e.g. derived sf1)
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(lambda v: repr(v) if not isinstance(v, str) else v)
        elif pd.api.types.is_float_dtype(s):
            # Driver-strict: compare floats by BIT PATTERN, not value
            # equality. pandas equality treats -0.0 == 0.0 (and is blind
            # to NaN payloads); the driver's value hash is bit-level, so
            # the round-8 `embedding_covariance` -0.0 row passed locally
            # but failed the driver. Viewing the float64 as int64 makes
            # both sorting and comparison bit-exact on both frames.
            import numpy as np

            df[c] = s.astype("float64").to_numpy().view(np.int64)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_family(s: pd.Series) -> str:
    """Coarse dtype family used for driver-strict comparison.

    The driver's value hash distinguishes int from float (e.g. DuckDB
    HUGEINT materializing as float64 vs Spark bigint broke a6 in round 1),
    but not integer widths. Mirror exactly that strictness here.
    """
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str | None:
    if len(spark_df) != len(duck_df):
        return f"row count: spark={len(spark_df)} duck={len(duck_df)}"
    sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
    if sc != dc:
        return f"columns: spark={sc} duck={dc}"
    fam_mismatch = [
        (c, dtype_family(spark_df[c]), dtype_family(duck_df[c]))
        for c in sc
        if dtype_family(spark_df[c]) != dtype_family(duck_df[c])
    ]
    if fam_mismatch:
        return "dtype family: " + ", ".join(
            f"{c}: spark={a} duck={b}" for c, a, b in fam_mismatch
        )
    a, b = canonicalize(spark_df), canonicalize(duck_df)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        detail = str(e).splitlines()[:8]
        # locate first differing row for debugging
        for i in range(min(len(a), 50000)):
            if not a.iloc[i].equals(b.iloc[i]):
                detail.append(f"first diff row {i}: spark={a.iloc[i].to_dict()} duck={b.iloc[i].to_dict()}")
                break
        return "values: " + " | ".join(detail)
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]
    spark = get_spark("verify-local", cpus=16, shuffle_partitions=16)
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passed, rows_only = [], 0, 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            failures.append((name, "SPARK ERROR: " + traceback.format_exc(limit=6)))
            continue
        if name not in oracles:
            rows_only += 1
            print(f"  [rows-only] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception:
            failures.append((name, "DUCK ERROR: " + traceback.format_exc(limit=4)))
            continue
        err = compare(name, sdf, ddf)
        if err:
            failures.append((name, err))
            print(f"  [FAIL] {name}: {err[:300]} ({time.time()-t0:.1f}s)")
        else:
            passed += 1
            print(f"  [ok] {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{passed} passed, {len(failures)} failed, {rows_only} rows-only")
    for name, err in failures:
        print(f"\n=== {name} ===\n{err[:2000]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
