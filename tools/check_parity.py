"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet tables, compare row count, column names, and order-insensitive
values.

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from cadastral_map_ocr_system_spark.session import get_spark
from cadastral_map_ocr_system_spark.sources.tables import TPCH_TABLES


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}")
        return 1
    spark = get_spark(master="local[8]", app_name="parity")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            if len(srows) == 0:
                failures.append((name, "0 rows (rows-only check wants >0)"))
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [c for c in rel.columns]
            drows = rel.fetchall()
        except Exception as ex:
            failures.append((name, f"duckdb error: {ex}"))
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        if sc != dc:
            failures.append((name, f"columns differ: {sc} vs {dc}"))
            print(f"FAIL {name}: columns {sc} vs {dc}")
        elif len(sr) != len(dr):
            failures.append((name, f"rowcount {len(sr)} vs {len(dr)}"))
            print(f"FAIL {name}: rowcount {len(sr)} vs {len(dr)}")
        elif sr != dr:
            diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            failures.append((name, f"values differ, e.g. {diff}"))
            print(f"FAIL {name}: values differ; first diffs: {diff}")
        else:
            print(f"ok   {name}: {len(sr)} rows match")
    spark.stop()
    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
