"""Local emulation of the driver's correctness gate: run every
``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()`` twin on
DuckDB over the same parquet, compare row count + column names +
order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
Runs on local[$SPARK_GRAFT_CPUS] (default: the host's CPU count) with a
4g driver.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            # Spark toPandas gives datetime64[ns], duckdb fetchdf
            # datetime64[us]; identical instants must compare equal
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import __spark_entry__ as E

    t0 = time.time()
    entry_df = E.entry(spark)
    n = entry_df.count()
    print(f"entry(): {n} rows, schema={entry_df.columns} [{time.time()-t0:.1f}s]")
    assert n > 0

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        took = time.time() - t0
        odf = con.execute(oracles[name]).fetchdf()
        status = []
        if len(sdf) != len(odf):
            status.append(f"ROWS {len(sdf)} != {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            status.append(f"COLS {sorted(sdf.columns)} != {sorted(odf.columns)}")
        if not status:
            a, b = canon(sdf), canon(odf)
            if not a.equals(b):
                neq = (a != b).any(axis=1)
                status.append(f"VALUES differ on {int(neq.sum())}/{len(a)} rows")
                ex = a[neq].head(2), b[neq].head(2)
                status.append(f"\n    spark:\n{ex[0]}\n    duckdb:\n{ex[1]}")
        if status:
            failures.append(name)
            print(f"  {name:24s} MISMATCH: {'; '.join(status)} [{took:.1f}s]")
        else:
            print(f"  {name:24s} rows={len(sdf):7d} OK (values match) [{took:.1f}s]")

    print()
    if failures:
        print(f"FAILED: {failures}")
        sys.exit(1)
    print(f"{n_checked - len(failures)}/{n_checked} checked OK "
          f"({len(qs)} registered; the grading driver records the "
          f"first 50 in registry order — tests/test_registry.py pins "
          f"that every entry past the cap is an oracle-shared plan "
          f"variant)")
    print("all queries consistent with DuckDB oracle")


if __name__ == "__main__":
    main()
