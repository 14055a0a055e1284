"""Local stand-in for the driver's correctness gate: runs every
__spark_entry__ query on Spark and its oracle on DuckDB at sf0.01,
compares row count, column names, and an order-insensitive value hash.

Usage: python tools/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

# the checkout this script sits in, whatever the working directory
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from autoprepad_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("|".join(r).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    # canonicalize float formatting: driver compares values; -0.0 vs 0.0 and
    # float repr need care
    out = df.copy()
    for c in out.columns:
        if out[c].dtype.kind == "f":
            out[c] = out[c].round(9) + 0.0
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check-entry", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex)[:200]}")
            failures += 1
            continue
        problems = []
        if sorted(sdf.columns) != sorted(ddf.columns):
            problems.append(f"columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}")
        if len(sdf) != len(ddf):
            problems.append(f"rows {len(sdf)} vs {len(ddf)}")
        if not problems:
            hs, hd = value_hash(norm(sdf)), value_hash(norm(ddf))
            if hs != hd:
                problems.append(f"value hash {hs} vs {hd}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"OK    {name}: {len(sdf)} rows, value hash {hs}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
