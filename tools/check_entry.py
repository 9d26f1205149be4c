"""Local replica of the driver's correctness gate: run every queries()
entry at a given sf dir, run its oracle_sql() in DuckDB over the same
parquet tables, and compare row count + column names + order-insensitive
values. Usage: python tools/check_entry.py [sf_dir] [name ...]"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from elasticsearch_analysis_combo_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(val):
    import math

    if val is None:
        return "NULL"
    if isinstance(val, float):
        if math.isnan(val):
            return "nan"
        if val == 0:
            val = 0.0
        return f"{val:.9g}"
    if isinstance(val, (list, tuple)):
        return "[" + ",".join(canon(v) for v in val) + "]"
    if isinstance(val, bytes):
        return val.hex()
    return str(val)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        "|".join(canon(r[i]) for i in order) for r in rows
    )
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("check_entry", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            failures += 1
            continue
        spark_t = time.time() - t0
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{spark_t:.1f}s]")
            continue
        try:
            res = con.execute(sql)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            failures += 1
            continue
        ok = True
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: columns {sorted(scols)} != {sorted(ocols)}")
            ok = False
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rows {len(srows)} != {len(orows)}")
            ok = False
        else:
            s = rowset(scols, srows)
            o = rowset(ocols, orows)
            if s != o:
                diff = [(a, b) for a, b in zip(s, o) if a != b][:3]
                print(f"FAIL  {name}: value mismatch, first diffs:")
                for a, b in diff:
                    print(f"   spark: {a[:180]}")
                    print(f"   duck : {b[:180]}")
                ok = False
        if ok:
            print(f"OK    {name}: {len(srows)} rows match [{spark_t:.1f}s]")
        else:
            failures += 1
    print("FAILURES:", failures)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
