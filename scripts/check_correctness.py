"""Local replica of the driver's correctness gate: run every registry query
in Spark and its oracle SQL in DuckDB at sf0.01, compare row count, column
names, and order-insensitive values.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype("string")
    return df.sort_values(list(df.columns), kind="stable", na_position="first").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"schema: spark={sorted(got.columns)} oracle={sorted(want.columns)}")
        return problems
    if len(got) != len(want):
        problems.append(f"rowcount: spark={len(got)} oracle={len(want)}")
        return problems
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            gv, wv = g[c].to_numpy(float), w[c].to_numpy(float)
            if not np.allclose(gv, wv, rtol=1e-9, atol=1e-9, equal_nan=True):
                bad = np.where(~np.isclose(gv, wv, rtol=1e-9, atol=1e-9, equal_nan=True))[0][:3]
                problems.append(f"values[{c}]: e.g. rows {bad.tolist()} spark={gv[bad]} oracle={wv[bad]}")
        else:
            eq = (g[c].fillna("\x00NULL") == w[c].fillna("\x00NULL"))
            if not eq.all():
                bad = np.where(~eq.to_numpy())[0][:3]
                problems.append(
                    f"values[{c}]: e.g. rows {bad.tolist()} "
                    f"spark={g[c].iloc[bad].tolist()} oracle={w[c].iloc[bad].tolist()}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from feature_store_spark.registry import REGISTRY
    from feature_store_spark.session import get_spark

    spark = get_spark("correctness", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'")

    from feature_store_spark.operators.caches import release_caches

    failures = 0
    for name, (fn, sql) in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark raised {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        finally:
            # operator-internal persists (LSH buckets, CC labels) are
            # per-query; 51 queries in one session must not accumulate
            release_caches()
        if sql is None:
            print(f"ok   {name}: rows-only ({len(got)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle raised {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = compare(name, got, want)
        if problems:
            failures += 1
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            print(f"ok   {name}: {len(got)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
