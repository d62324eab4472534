"""Local replica of the driver's Spark-vs-DuckDB oracle comparison.

Runs each queries() entry and its oracle_sql() twin on the same sf dir,
compares row count, column names, and order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    # unify numeric dtypes
    for c in df.columns:
        if pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].astype(float).round(6)
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(int)
    return df


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    # data-derived oracles (token_counts_bpe_corpus trains its merges
    # from the documents parquet at SQL-generation time) must read the
    # SAME sf dir this check runs against — the env default is the
    # driver's sf0.01 contract, so local runs at other scales need this
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import __spark_entry__ as entrymod
    from go_matrixprofile_spark.session import get_spark

    spark = get_spark(
        "oracle-check", cores=8, extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                failures.append(name)
                print(f"WARN  {name}: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        # Emulate the driver's stricter value hash: an int64 column on one
        # side vs float64 on the other hashes differently ("52958" vs
        # "52958.0") even when values are numerically equal.  Flag it before
        # the lenient float normalization below can hide it.
        dtype_mismatch = []
        for c in set(sdf.columns) & set(odf.columns):
            si = pd.api.types.is_integer_dtype(sdf[c])
            oi = pd.api.types.is_integer_dtype(odf[c])
            sf_ = pd.api.types.is_float_dtype(sdf[c])
            of_ = pd.api.types.is_float_dtype(odf[c])
            if (si and of_) or (sf_ and oi):
                dtype_mismatch.append(f"{c}: spark={sdf[c].dtype} oracle={odf[c].dtype}")
        a, b = normalize(sdf), normalize(odf)
        status = "ok  "
        if dtype_mismatch:
            status = f"FAIL(dtype {dtype_mismatch})"
        elif len(a) != len(b):
            status = "FAIL(rows)"
        elif list(a.columns) != list(b.columns):
            status = f"FAIL(cols {list(a.columns)} vs {list(b.columns)})"
        else:
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6)
            except AssertionError as e:
                status = "FAIL(values): " + str(e).split("\n")[1][:120]
        if status.startswith("FAIL"):
            failures.append(name)
        print(f"{status}  {name}: {len(a)} rows [{time.time()-t0:.1f}s]")
    print("\n" + ("ALL OK" if not failures else f"FAILURES: {failures}"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
