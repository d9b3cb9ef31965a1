"""Emulate the driver's correctness gate locally: run every queries() entry
on Spark AND its oracle_sql() on DuckDB over the same sf dir; compare
row-count, schema (column names), and order-insensitive values.

Usage: python tools/check_oracles.py [--plain-session] [sf_dir] [query ...]

``--plain-session`` builds the session as a plain
``SparkSession.builder.master("local[8]").getOrCreate()`` — no engine
confs — instead of ``get_spark``, to check that results do not depend on
the confs the engine's own session sets.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype) == "object":
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main() -> int:
    plain = "--plain-session" in sys.argv
    if plain:
        sys.argv.remove("--plain-session")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    if plain:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from event_driven_etl_msc_research_spark.session import get_spark

        spark = get_spark(
            "oracle-check",
            master="local[8]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append((name, f"SPARK ERROR {ex}"))
            print(f"FAIL  {name}: spark error {str(ex)[:200]}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(got)} rows (no oracle)")
            if len(got) == 0:
                failures.append((name, "0 rows (rows-only check)"))
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR {ex}"))
            print(f"FAIL  {name}: duckdb error {str(ex)[:200]}")
            continue
        if sorted(got.columns) != sorted(exp.columns):
            failures.append((name, f"schema {sorted(got.columns)} vs {sorted(exp.columns)}"))
            print(f"FAIL  {name}: schema mismatch {sorted(got.columns)} vs {sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            failures.append((name, f"rows {len(got)} vs {len(exp)}"))
            print(f"FAIL  {name}: rowcount {len(got)} vs {len(exp)}")
            continue
        g, x = normalize(got), normalize(exp)
        try:
            pd.testing.assert_frame_equal(g, x, check_dtype=False)
            print(f"OK    {name}: {len(got)} rows")
        except AssertionError as ex:
            failures.append((name, "values"))
            print(f"FAIL  {name}: value mismatch\n{str(ex)[:400]}")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:", [n for n, _ in failures])
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
