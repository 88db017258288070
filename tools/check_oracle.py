"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at the same sf dir; compare row
count, column names, and an order-insensitive value multiset.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) == "bool":
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    import __spark_entry__ as entrymod
    from tree_code_chunker_spark.plans.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    spark = get_spark("check-oracle")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"[SPARK-ERR] {name}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(sdf)} rows, cols={sorted(sdf.columns)}")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"[DUCK-ERR] {name}: {str(e)[:300]}")
            continue
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"[COLS] {name}: spark={list(a.columns)} duck={list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"[ROWS] {name}: spark={len(a)} duck={len(b)}")
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad = neq.any(axis=1)
            failures.append(name)
            print(f"[VALS] {name}: {int(bad.sum())}/{len(a)} rows differ")
            print("  spark:", a[bad].head(3).to_dict("records"))
            print("  duck: ", b[bad].head(3).to_dict("records"))
            continue
        print(f"[OK] {name}: {len(a)} rows")
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
