"""Local replica of the driver's correctness check: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet
tables, compare row count + order-insensitive value hash (columns sorted
by name, rows sorted, doubles rounded)."""

from __future__ import annotations

import hashlib
import os
import sys

import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].astype(float).round(6)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    return hashlib.sha256(canon(df).to_csv(index=False).encode()).hexdigest()


def main(sf_dir: str, only: list[str] | None = None):
    from obiemachinelearningframework_spark.session import get_spark
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = sorted(set(only or ()) - set(queries))
    if unknown:
        raise SystemExit(f"not registry queries: {', '.join(unknown)}")

    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name}: SPARK ERROR {str(e)[:300]}")
            failures += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {str(e)[:300]}")
            failures += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_rows and ok_cols and value_hash(sdf) == value_hash(odf)
        status = "OK" if ok_hash else "MISMATCH"
        if not ok_hash:
            failures += 1
            print(f"{name}: {status} rows spark={len(sdf)} duck={len(odf)} cols_ok={ok_cols}")
            if ok_cols and ok_rows:
                a, b = canon(sdf), canon(odf)
                neq = (a != b).any(axis=1)
                print("  first diffs:")
                print(pd.concat([a[neq].head(3).add_suffix("_spark"),
                                 b[neq].head(3).add_suffix("_duck")], axis=1).to_string())
        else:
            print(f"{name}: OK ({len(sdf)} rows, {time.perf_counter() - t0:.2f}s spark+duck)")
    print(f"\n{failures} failures")
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    raise SystemExit(1 if main(sf, only) else 0)
