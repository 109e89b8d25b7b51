"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf_dir, runs the
matching oracle_sql() in DuckDB over the same parquet files, and
compares row count, column names, and order-insensitive values.

Usage: python tools/verify_entry.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "␀"
    if isinstance(v, float):
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        # Keep int-vs-float distinct: the driver hashes exact reprs, so a
        # DuckDB HUGEINT sum (-> float64 44.0) must NOT canonicalize equal
        # to Spark's bigint 44.  Tag floats with 'f' so type drift fails here
        # before it fails at the driver.
        # 12 significant digits, not 6: %.6g collapsed real mirror drift
        # (a 12-cent divergence on a 1.2M revenue sum normalized equal
        # locally and only failed at the driver). The repo's rounding
        # conventions (round to 2/4/6 dp before compare) make mirrored
        # values EXACTLY equal, so 12 digits catches every real drift
        # while still absorbing sub-ulp repr noise.
        return f"{v:.12g}f"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy arrays
        return norm_cell(v.tolist())
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry

    from stop_sync_osm_atlas_spark.session import get_spark

    spark = get_spark(master="local[8]")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"create or replace view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_fail = 0
    if only:
        # a typo'd name would otherwise filter out EVERYTHING and print
        # a false-green 'FAILURES: 0' having verified nothing
        unknown = [n for n in only if n not in qs]
        if unknown:
            raise SystemExit(
                f"unknown query name(s) {unknown}; valid: {sorted(qs)}"
            )
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            # this repo's contract is ALL 50 queries carry SQL oracles:
            # a missing oracle_sql() entry is exactly the drift this
            # gate exists to catch, so it must fail, not degrade to a
            # rows-only note that still prints FAILURES: 0
            print(
                f"FAIL {name}: ROWS-ONLY ({len(sdf)} rows) — no "
                f"oracle_sql() entry"
            )
            n_fail += 1
            continue
        try:
            ddf = con.sql(oracles[name]).to_df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if sorted(sdf.columns) != sorted(ddf.columns):
            print(f"FAIL {name}: columns spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}")
            n_fail += 1
            continue
        if len(sdf) != len(ddf):
            print(f"FAIL {name}: rowcount spark={len(sdf)} duck={len(ddf)}")
            n_fail += 1
            continue
        cs, cd = canon(sdf), canon(ddf)
        if cs != cd:
            diffs = [i for i, (a, b) in enumerate(zip(cs, cd)) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows of {len(cs)}")
            for i in diffs[:3]:
                print(f"  spark: {cs[i]}")
                print(f"  duck : {cd[i]}")
            n_fail += 1
            continue
        print(f"OK   {name}: {len(sdf)} rows")
    print("FAILURES:", n_fail)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
