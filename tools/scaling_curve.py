"""Measured scaling curve: run the bench headline set at every testdata
SF and report per-query sf0.01 -> sf0.1 time ratios (data grows 10x).

A ratio well under 10 at these sizes means fixed per-query overhead
(planning, task launch) still dominates; what matters for the 100 TB
argument is that NO query grows super-linearly (ratio > ~10 would flag a
quadratic pair-explosion or a driver-side bottleneck).

With ``--with-sf1`` the curve gains a fourth decade: the most expensive
queries also run against the synthetic sf1 stretch (tools/stretch_sf.py,
10x sf0.1 with natural workload shape) and the report records the
sf0.1->sf1 growth exponent log10(t_1/t_0.1) per query — ~1.0 is linear,
>1 flags super-linear growth at the decade where per-query fixed
overhead no longer masks it.

Usage: python tools/scaling_curve.py [out.json] [--with-sf1]
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mit_6_5840_mapreduce_with_go_spark.session import get_spark

import __spark_entry__ as entrymod
from bench import HEADLINE, run_query

SFS = ["0.001", "0.01", "0.1"]

# FULL-registry sf1 decade (round 10 SLA).  Derived from the registry at
# import time so a newly registered query can never silently fall out of
# sf1 coverage (the round-10 list was a 318-name literal).
SF1_QUERIES = list(entrymod.queries())


def _min_of_2(spark, fn, sf_dir: str, name: str) -> float:
    """Faster of two ``bench.run_query`` runs, build plus execute."""
    return round(min(sum(run_query(spark, fn, sf_dir, name)) for _ in range(2)), 3)


def _sf1_dir() -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(root, ".sf1_stretch")
    if not os.path.exists(os.path.join(out, "lineitem.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(root, "tools", "stretch_sf.py"), out],
            check=True,
        )
    return out


def measure_sf1(spark, queries) -> dict:
    """Times for SF1_QUERIES at sf0.01 / sf0.1 / sf1 plus per-query
    growth exponents for the last decade."""
    dirs = {
        "0.01": "/root/testdata/sf0.01",
        "0.1": "/root/testdata/sf0.1",
        "1": _sf1_dir(),
    }
    times: dict[str, dict[str, float]] = {q: {} for q in SF1_QUERIES}
    for sf, d in dirs.items():
        run_query(spark, queries["q1_pricing_summary"], d, "warmup")
        for name in SF1_QUERIES:
            times[name][sf] = _min_of_2(spark, queries[name], d, name)
    exponents = {
        q: round(math.log10(t["1"] / t["0.1"]), 2) for q, t in times.items()
    }
    return {
        "queries": times,
        "growth_exponent_01_to_1": exponents,
        "superlinear_queries": [q for q, e in exponents.items() if e > 1.0],
    }


def main() -> None:
    spark = get_spark("scaling_curve")
    queries = entrymod.queries()
    results: dict[str, dict[str, float]] = {q: {} for q in HEADLINE}
    for sf in SFS:
        sf_dir = f"/root/testdata/sf{sf}"
        # JVM/codegen warm-up, excluded from timings
        run_query(spark, queries["q1_pricing_summary"], sf_dir, "warmup")
        for name in HEADLINE:
            results[name][sf] = _min_of_2(spark, queries[name], sf_dir, name)

    report = {
        "sfs": SFS,
        "queries": results,
        "ratio_01_to_1": {
            q: round(r["0.1"] / r["0.01"], 2) if r.get("0.01") else None
            for q, r in results.items()
        },
    }
    superlinear = [q for q, v in report["ratio_01_to_1"].items() if v and v > 10]
    report["superlinear_queries"] = superlinear
    if "--with-sf1" in sys.argv:
        report["sf1"] = measure_sf1(spark, queries)
    out = json.dumps(report, indent=1)
    paths = [a for a in sys.argv[1:] if not a.startswith("--")]
    if paths:
        with open(paths[0], "w") as f:
            f.write(out + "\n")
    print(out)


if __name__ == "__main__":
    main()
