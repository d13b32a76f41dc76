"""Queries leave nothing in the session's cache.  An operator that reads
an intermediate more than once materialises it with ``localCheckpoint``
(the policy note in ``session.py``), never ``persist``/``cache``: a
persisted plan stays in the session's CacheManager after the query, so
every later build of the same query reads the first run's data and
skips that work, and a min-of-N timing keeps the short run."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from bench import run_query
from mit_6_5840_mapreduce_with_go_spark.registry import QUERIES, load_all

load_all()

PACKAGE = Path(__file__).resolve().parents[1] / "mit_6_5840_mapreduce_with_go_spark"

# queries whose operators read one intermediate several times
_MULTI_CONSUMER = [
    "dedup_minhash_lsh",
    "dedup_minhash_xengine",
    "dedup_simhash_xengine",
    "graph_triangle_census",
    "stats_key_skew_profile",
]


@pytest.mark.parametrize("name", _MULTI_CONSUMER)
def test_query_runs_the_same_jobs_twice_and_caches_nothing(spark, sf_dir, name):
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for i in range(2):
        group = f"session_cache.{name}.{i}"
        run_query(spark, QUERIES[name], sf_dir, group)
        jobs.append(
            [len(tracker.getJobIdsForGroup(f"{group}.{p}")) for p in ("build", "exec")]
        )
        assert cache.isEmpty(), f"run {i} left a cached plan"
    assert jobs[0] == jobs[1], f"jobs (build, exec) per run: {jobs}"


def _cache_calls(source: str, name: str) -> list[str]:
    return [
        f"{name}:{node.lineno} .{node.func.attr}("
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache")
    ]


def test_package_never_persists_or_caches():
    sample = "def q(df):\n    a = df.persist()\n    return a.join(df.cache(), 'k')\n"
    assert [c.split()[1] for c in _cache_calls(sample, "sample")] == [
        ".persist(",
        ".cache(",
    ]
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        offenders += _cache_calls(path.read_text(encoding="utf-8"), path.name)
    assert offenders == [], "use localCheckpoint() instead: " + ", ".join(offenders)
