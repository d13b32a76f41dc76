"""Local mirror of the driver's correctness gate: run every ``queries()``
entry on Spark and its ``oracle_sql()`` on DuckDB over the same parquet
tables; compare row count, column names, and order-insensitive values,
and check the oracle's declared result types against the Spark schema
(``audit_oracle_types.type_hazards``; each hazard counts as a failure).

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

    # imported here, not at the top: perfbench/bench.py loads this file
    # for ``normalize`` without tools/ on sys.path
    from audit_oracle_types import type_hazards

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    n_hazards = 0
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
        try:
            rel = con.sql(oracles[name])
            ocols, orows = rel.columns, rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
            continue
        hazards = type_hazards(name, df, rel)
        n_hazards += len(hazards)
        why = compare(scols, srows, ocols, orows)
        if hazards or why is not None:
            failures.append(name)
            for h in hazards:
                print(f"TYPE  {h}")
            if why is not None:
                print(f"FAIL  {name}: {why}")
            continue
        print(f"OK    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
    print(f"\n{len(failures)} failures, {n_hazards} type hazard(s)"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
