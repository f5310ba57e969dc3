"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir, compare row count, column names, and order-insensitive values.

Usage: python scripts/check_correctness.py [sf_dir] [query_prefix...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("float", "Float")):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith(("int", "Int", "uint")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("decimal") or df[c].dtype.name == "object":
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:]) or ("",)

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry_mod
    from batch_geocode_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    spark = get_spark(master=f"local[{cpus}]", app_name="correctness")
    con = duckdb.connect()
    for t in [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if not any(name.startswith(p) for p in prefixes):
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"PASS {name}: rows={len(got)} (no oracle — rows-only)")
            continue
        try:
            want = con.execute(oracles[name]).df()
        except Exception as ex:  # noqa: BLE001
            failures.append((name, f"duckdb error: {ex}"))
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            continue
        problems = []
        if len(got) != len(want):
            problems.append(f"rows {len(got)} != {len(want)}")
        if sorted(got.columns) != sorted(want.columns):
            problems.append(f"cols {sorted(got.columns)} != {sorted(want.columns)}")
        if not problems:
            g, w = normalize(got), normalize(want)
            try:
                pd.testing.assert_frame_equal(
                    g, w, check_dtype=False, check_exact=False, rtol=0, atol=0
                )
            except AssertionError as ex:
                problems.append(f"values differ: {str(ex)[:400]}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"PASS {name}: rows={len(got)}")
    spark.stop()
    n_run = len([n for n in qs if any(n.startswith(p) for p in prefixes)])
    print(f"\n{n_run - len(failures)}/{n_run} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
