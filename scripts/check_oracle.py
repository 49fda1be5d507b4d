"""Local stand-in for the driver's t2 correctness gate.

Runs every REGISTRY query on Spark at sf0.01 AND its DuckDB oracle,
then compares row count + column names + order-insensitive values
(columns sorted by name, rows sorted, floats compared exactly after
both engines' own rounding). Prints one line per query.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from kaggle_ecommerce_etl_spark.queries import REGISTRY
from kaggle_ecommerce_etl_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table in ``TABLES``.

    Testdata ships single parquet FILES; derived dirs (the sf1 replica
    harness) are Spark-written DIRECTORIES of part files — glob those
    so the same gate runs at any scale."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def normalize(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)].copy()

    def canon(v):
        if hasattr(v, "tolist") and not hasattr(v, "isoformat"):
            v = v.tolist()  # numpy array/scalar → python list/scalar
        if isinstance(v, (list, tuple)):
            return "l:[" + ",".join(canon(x) for x in v) + "]"
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if pd.isna(v):
            return "<NULL>"
        if isinstance(v, float):
            return f"f:{v!r}"
        if hasattr(v, "isoformat"):
            return f"t:{v.isoformat()}"
        return f"{type(v).__name__}:{v}"

    rows = [tuple(canon(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    spark = get_spark("oracle-check")
    con = oracle_connection(sf_dir)

    failures = []
    for name, (fn, oracle) in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if oracle is None:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracle).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            s_rows, o_rows = normalize(sdf), normalize(odf)
            if s_rows != o_rows:
                n_bad = sum(1 for a, b in zip(s_rows, o_rows) if a != b)
                problems.append(f"values differ ({n_bad} mismatched rows)")
                for a, b in zip(s_rows, o_rows):
                    if a != b:
                        problems.append(f"  spark={a}")
                        problems.append(f"  duck ={b}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]) + f" [{time.time()-t0:.1f}s]")
            for p in problems[1:4]:
                print(f"      {p}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
