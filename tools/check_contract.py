"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares it to
its ``oracle_sql()`` twin executed by DuckDB on the same parquet tables:
row count, column-name schema, and an order-insensitive value hash (columns
sorted by name, rows sorted, floats rounded to 9 significant-ish decimals).

Usage: python tools/check_contract.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_df(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(lambda v: _norm_val(v))
        elif s.dtype.kind == "f":
            df[c] = s.map(lambda v: "" if v is None or (isinstance(v, float) and math.isnan(v)) else f"{v:.9g}")
        elif s.dtype.kind in "iu":
            df[c] = s.map(lambda v: str(int(v)))
        elif s.dtype.kind == "b":
            df[c] = s.map(lambda v: str(bool(v)))
        else:
            df[c] = s.map(lambda v: _norm_val(v))
    rows = ["\x01".join(r) for r in df.itertuples(index=False)]
    rows.sort()
    return rows


def _norm_val(v):
    if v is None:
        return ""
    if isinstance(v, float):
        return "" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    try:
        if pd.isna(v):
            return ""
    except (TypeError, ValueError):
        pass
    return str(v)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from angola_erp_ocr_spark.session import get_spark

    spark = get_spark("check_contract", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        dt = time.monotonic() - t0
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows, {dt:.1f}s (rows-only)")
            if len(sdf) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            failures.append(name)
            continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"FAIL  {name}: schema {scols} vs {ocols}")
            failures.append(name)
            continue
        if len(sdf) != len(odf):
            print(f"FAIL  {name}: rows {len(sdf)} vs {len(odf)}")
            failures.append(name)
            continue
        srows, orows = norm_df(sdf), norm_df(odf)
        if srows != orows:
            bad = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
            print(f"FAIL  {name}: value mismatch ({len([1 for a,b in zip(srows,orows) if a!=b])}/{len(srows)} rows); first diffs:")
            for a, b in bad:
                print(f"   spark : {a[:220]}")
                print(f"   oracle: {b[:220]}")
            failures.append(name)
            continue
        print(f"PASS  {name}: {len(sdf)} rows, {dt:.1f}s")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
