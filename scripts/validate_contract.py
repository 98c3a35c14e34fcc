"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB (views over the
testdata parquet), compare row count + order-insensitive values.
It ends with one ``sha256 <query> <digest>`` line per query: a short
sha256 of the query's canonical Spark result, so two runs (say, before
and after a refactor) compare with
``diff <(grep ^sha256 a.log) <(grep ^sha256 b.log)``.

Usage: python scripts/validate_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from fin_ocr_sdk_spark.session import get_spark

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == bool:
            df[c] = df[c].astype(bool)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    """Short sha256 of a canonical frame's CSV text."""
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("validate-contract")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, digests = [], {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name:28s} SPARK-ERROR {type(e).__name__}: {e}")
            continue
        g = canon(got)
        digests[name] = digest(g)
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(got)} rows "
                  f"({time.time() - t0:.1f}s)")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name:28s} ORACLE-ERROR {type(e).__name__}: {e}")
            continue
        e = canon(exp)
        ok_rows = len(g) == len(e)
        ok_schema = list(g.columns) == list(e.columns)
        ok_vals = ok_rows and ok_schema and g.equals(e)
        status = "OK" if ok_vals else "MISMATCH"
        if not ok_vals:
            failures.append(name)
        print(f"{name:28s} {status}  rows={len(g)}/{len(e)} "
              f"schema={'ok' if ok_schema else (list(g.columns), list(e.columns))} "
              f"({time.time() - t0:.1f}s)")
        if not ok_vals and ok_schema and ok_rows:
            neq = ~(g == e).all(axis=1)
            print("  first diffs (got vs exp):")
            print(pd.concat([g[neq].head(3), e[neq].head(3)], axis=0))
    # entry smoke
    t0 = time.time()
    n = entrymod.entry(spark).count()
    print(f"entry(spark): {n} rows ({time.time() - t0:.1f}s)")
    spark.stop()
    for name, d in digests.items():
        print(f"sha256 {name:28s} {d}")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
