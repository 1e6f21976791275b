"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod  # noqa: E402
from ccl_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> int:
    spark = get_spark("crosscheck")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    res = entry_mod.entry(spark)
    n = res.count()
    print(f"entry(): {n} rows, schema={res.schema.simpleString()}")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.monotonic()
        sdf = fn(spark, SF_DIR).toPandas()
        dt = time.monotonic() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"{name:20s} rows-only: {len(sdf)} rows [{dt:6.2f}s]", flush=True)
            continue
        try:
            ddf = con.execute(sql).df()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:20s} ORACLE SQL ERROR: {exc}", flush=True)
            failures += 1
            continue
        a, b = canon(sdf), canon(ddf)
        if list(a.columns) != list(b.columns):
            print(f"{name:20s} COLUMN MISMATCH spark={list(a.columns)} duck={list(b.columns)}", flush=True)
            failures += 1
            continue
        if len(a) != len(b):
            print(f"{name:20s} ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}", flush=True)
            failures += 1
            continue
        try:
            # dtype-strict: the external gate hashes rendered values, so a
            # long-vs-double divergence (e.g. DuckDB HUGEINT sums) must fail
            # here too, not be masked.
            pd.testing.assert_frame_equal(a, b, check_dtype=True, check_exact=False, rtol=0, atol=1e-9)
            print(f"{name:20s} OK ({len(a)} rows) [{dt:6.2f}s]", flush=True)
        except AssertionError as exc:
            print(f"{name:20s} VALUE MISMATCH: {str(exc)[:300]}", flush=True)
            failures += 1
    print("FAILURES:", failures, flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
