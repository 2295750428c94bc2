"""Driver-mimic: run queries() vs oracle_sql() side-by-side and diff.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from mmgraphrag_spark.session import build_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(cols), sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = build_session("oracle_check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"[FAIL] {name}: spark error {ex}")
            continue
        if name not in oracles:
            print(f"[rows-only] {name}: {len(srows)} rows")
            if len(srows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = [tuple(r) for r in res.fetchall()]
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"[FAIL] {name}: duckdb error {ex}")
            continue
        sc, sr = norm_rows(scols, srows)
        dc, dr = norm_rows(dcols, drows)
        if sc != dc:
            failures.append((name, f"schema mismatch: spark={sc} duck={dc}"))
            print(f"[FAIL] {name}: schema spark={sc} duck={dc}")
            continue
        if len(sr) != len(dr):
            failures.append((name, f"rowcount spark={len(sr)} duck={len(dr)}"))
            print(f"[FAIL] {name}: rowcount spark={len(sr)} duck={len(dr)}")
            so, do = [r for r in sr if r not in set(dr)], [r for r in dr if r not in set(sr)]
            print("  spark-only:", so[:3])
            print("  duck-only:", do[:3])
            continue
        if sr != dr:
            diff = [
                (a, b) for a, b in zip(sr, dr) if a != b
            ][:3]
            failures.append((name, f"value mismatch e.g. {diff[:1]}"))
            print(f"[FAIL] {name}: values differ, first diffs: {diff}")
            continue
        print(f"[ok] {name}: {len(sr)} rows match")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, m in failures:
            print(" -", n, ":", m[:200])
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
