"""Local replica of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB at sf0.01, compare row count, column
names/order-insensitive sorted values.  Exits nonzero on any mismatch.

Usage: python tools/validate_entry.py [sf_dir] [query_name ...]
(query names optional: validate only those queries)
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from sbustreamspot_core_spark.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def normalize(rows, cols):
    """Sort columns by name, then rows; canonicalize floats."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("validate", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(sys.argv[2:])
    if only:
        queries = {k: v for k, v in queries.items() if k in only}
    failures = []
    for name, fn in queries.items():
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(srows)} rows)")
            if len(srows) == 0:
                failures.append((name, "0 rows"))
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = [tuple(r) for r in res.fetchall()]
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"schema: spark={scols} duckdb={dcols}"))
            print(f"FAIL  {name}: schema mismatch spark={scols} duckdb={dcols}")
            continue
        if len(srows) != len(drows):
            failures.append((name, f"rows: spark={len(srows)} duckdb={len(drows)}"))
            print(f"FAIL  {name}: row count spark={len(srows)} duckdb={len(drows)}")
            continue
        _, ns = normalize(srows, scols)
        _, nd = normalize(drows, dcols)
        if ns != nd:
            bad = next((i for i, (a, b) in enumerate(zip(ns, nd)) if a != b), -1)
            failures.append((name, f"values differ at sorted row {bad}: "
                                   f"spark={ns[bad]} duckdb={nd[bad]}"))
            print(f"FAIL  {name}: first diff row {bad}:\n"
                  f"      spark  = {ns[bad]}\n      duckdb = {nd[bad]}")
            continue
        print(f"ok    {name}: {len(srows)} rows match")

    print(f"\n{len(queries) - len(failures)}/{len(queries)} queries pass")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
