"""Local mirror of the driver's correctness gate: run every ``queries()``
entry on Spark and its ``oracle_sql()`` on DuckDB over the same parquet
tables; compare row count, column names, and order-insensitive values.

Usage: python tools/check_correctness.py [--skip n1,n2,...] [sf_dir] [query ...]

``--skip`` names queries to EXCLUDE (with the reason logged) — used for
the sf1 decade mirror, where a handful of DuckDB ORACLE legs (not the
Spark plans) exceed the single node: the point of the engine.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mit_6_5840_mapreduce_with_go_spark.session import get_spark
from mit_6_5840_mapreduce_with_go_spark.sources import TABLE_NAMES

import __spark_entry__ as entrymod


def normalize(rows: list[tuple], ndigits: int = 6) -> list[tuple]:
    out = []
    for row in rows:
        norm = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    norm.append("NaN")
                else:
                    norm.append(round(v, ndigits))
            elif isinstance(v, bool):
                norm.append(bool(v))
            else:
                norm.append(str(v) if v is not None else None)
        out.append(tuple(norm))
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def main() -> int:
    args = sys.argv[1:]
    skip: set[str] = set()
    if args and args[0] == "--skip":
        skip = set(args[1].split(","))
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("check_correctness")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"SKIP  {name}: excluded by --skip", flush=True)
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = sorted(df.columns)
            spark_rows = [tuple(r[c] for c in cols) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(spark_rows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows_raw = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
            continue
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        orows = [tuple(r[i] for i in oorder) for r in orows_raw]
        if sorted(ocols) != cols:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={cols} oracle={sorted(ocols)}")
            continue
        s, o = normalize(spark_rows), normalize(orows)
        if len(s) != len(o):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(s)} oracle={len(o)}")
            continue
        if s != o:
            failures.append(name)
            bad = next(i for i in range(len(s)) if s[i] != o[i])
            print(f"FAIL  {name}: value mismatch at row {bad}:")
            print(f"      spark : {s[bad]}")
            print(f"      oracle: {o[bad]}")
            continue
        print(f"OK    {name}: {len(s)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
