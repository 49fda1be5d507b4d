"""Dress rehearsal of the DRIVER's comparator over the current window.

The local gate (scripts/check_oracle.py) canonicalizes every cell to a
string before sorting, so it is robust to shapes the driver's
pandas-based canonicalizer is NOT: the r5 round lost a slot because
embedding_quantize's raw array<int> column was locally green but
unhashable/unsortable inside the driver's row sort. This script runs
the STRICT path instead — raw pandas frames, `sort_values` over all
columns, element-wise equality — so any window query whose output
would crash or diverge in the driver's comparator fails HERE first.

Strictly a superset check on comparator SHAPE, not on values (values
are already hash-checked by check_oracle): a query passing check_oracle
but failing here has a driver-comparability bug, exactly the class the
registry-wide no-complex-types test (tests/test_entry.py) guards.

Usage: python scripts/driver_rehearsal.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd

from kaggle_ecommerce_etl_spark.queries import DRIVER_WINDOW, REGISTRY
from scripts.check_oracle import oracle_connection


def strict_sorted(df: pd.DataFrame) -> pd.DataFrame:
    """The driver-style canonicalization: columns sorted by name, rows
    sorted by every column's RAW values (no stringification). Raises on
    unsortable/unhashable cells — that raise IS the finding."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            fa, fb = float(a), float(b)
            if math.isnan(fa) and math.isnan(fb):
                return True
            return fa == fb
    except (TypeError, ValueError):
        pass
    if pd.isna(a) is True and pd.isna(b) is True:
        return True
    return str(a) == str(b)


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="Strict driver-style comparator over registry queries"
    )
    ap.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01",
        help="parquet table directory (default sf0.01)",
    )
    ap.add_argument(
        "--all", action="store_true",
        help="run the whole registry, not just DRIVER_WINDOW",
    )
    ap.add_argument(
        "names", nargs="*",
        help="specific query names (default: DRIVER_WINDOW)",
    )
    args = ap.parse_args()
    sf_dir = args.sf_dir
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        ap.error(
            f"unknown queries {unknown}; valid names are REGISTRY keys "
            f"(e.g. {list(REGISTRY)[:5]} ... {len(REGISTRY)} total)"
        )
    if args.all:
        only = list(REGISTRY)  # whole registry, tail included
    else:
        only = args.names or list(DRIVER_WINDOW)

    from kaggle_ecommerce_etl_spark.session import get_spark

    spark = get_spark("driver-rehearsal")
    con = oracle_connection(sf_dir)

    failures = []
    for name in only:
        fn, oracle = REGISTRY[name]
        t0 = time.time()
        try:
            sdf = strict_sorted(fn(spark, sf_dir).toPandas())
            if oracle is None:
                print(f"ROWS  {name}: {len(sdf)} rows sortable "
                      f"[{time.time()-t0:.1f}s]")
                continue
            odf = strict_sorted(con.execute(oracle).fetchdf())
        except Exception as e:  # the crash class the driver would hit
            print(f"FAIL  {name}: comparator-shape error: {e!r}")
            failures.append(name)
            continue
        problems = []
        if list(sdf.columns) != list(odf.columns):
            problems.append(f"columns {list(sdf.columns)} != {list(odf.columns)}")
        elif len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        else:
            for c in sdf.columns:
                sv, ov = sdf[c].tolist(), odf[c].tolist()
                bad = next(
                    (i for i, (a, b) in enumerate(zip(sv, ov))
                     if not cells_equal(a, b)),
                    None,
                )
                if bad is not None:
                    problems.append(
                        f"col {c} row {bad}: {sv[bad]!r} != {ov[bad]!r}"
                    )
                    break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(sdf)} rows strict-equal "
                  f"[{time.time()-t0:.1f}s]")
    print()
    print(f"{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
