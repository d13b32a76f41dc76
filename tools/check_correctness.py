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


def _by_name(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return [tuple(r[i] for i in order) for r in rows]


def compare(scols, srows, ocols, orows, ndigits: int = 6) -> str | None:
    """The driver's gate on collected rows: the same column names, then
    the same row count, then the same values in any row order (columns
    matched by name).  ``None`` when Spark's rows match the oracle's,
    else what differs."""
    if sorted(scols) != sorted(ocols):
        return f"columns spark={sorted(scols)} oracle={sorted(ocols)}"
    s = normalize(_by_name(list(scols), srows), ndigits)
    o = normalize(_by_name(list(ocols), orows), ndigits)
    if len(s) != len(o):
        return f"rowcount spark={len(s)} oracle={len(o)}"
    if s != o:
        bad = next(i for i in range(len(s)) if s[i] != o[i])
        return f"value mismatch at row {bad}:\n      spark : {s[bad]}\n      oracle: {o[bad]}"
    return None


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
            scols, srows = df.columns, df.collect()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
            continue
        why = compare(scols, srows, ocols, orows)
        if why is not None:
            failures.append(name)
            print(f"FAIL  {name}: {why}")
            continue
        print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
