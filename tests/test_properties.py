"""Property-based tests (hypothesis): invariants that hold for ALL
inputs, not just the fixtures — coverage the reference's example-based
Go tests lack (SURVEY.md §5 notes there is no QuickCheck-style corpus).

Each property draws a BATCH per example and runs one Spark job over it
(per-row jobs would make hypothesis unusably slow on a JVM engine), with
small max_examples budgets: these run in the default suite, not a
nightly."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.functions.hashing import (
    NSHARDS,
    fnv32a_col,
    fnv32a_py,
    key2shard_col,
    key2shard_py,
)
from mit_6_5840_mapreduce_with_go_spark.operators.dedup2 import cc_two_phase

# ASCII-printable sans space: fnv32a_col's char fold assumes 1-byte chars,
# and the engine only routes numeric-ish ids — but the property should
# hold for any single-byte key.
ascii_keys = st.text(
    alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=0, max_size=24
)

# function_scoped_fixture: the spark fixture is getOrCreate-idempotent
# (same session every example), so reusing it across examples is fine.
SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@SLOW
@given(st.lists(ascii_keys, min_size=1, max_size=40, unique=True))
def test_fnv32a_column_matches_python(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {
        r["key"]: (r["h"], r["s"])
        for r in df.select(
            "key",
            fnv32a_col(F.col("key")).alias("h"),
            key2shard_col(F.col("key")).alias("s"),
        ).collect()
    }
    for k in keys:
        assert got[k] == (fnv32a_py(k), key2shard_py(k)), k
        assert 0 <= got[k][1] < NSHARDS


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference implementation: smallest-reachable-id labeling."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then relabel every component by its minimum member
    roots = {x: find(x) for x in parent}
    comp_min: dict[int, int] = {}
    for x, r in roots.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[r] for x, r in roots.items()}


@settings(parent=SLOW, max_examples=5)  # iterative: several Spark rounds/example
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    expected = _union_find(edges)
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r["doc_id"]: r["cluster_id"] for r in cc_two_phase(pairs).collect()}
    assert got == expected


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(1, 1000)),
        min_size=1,
        max_size=60,
    )
)
def test_salted_aggregation_equals_plain(spark, rows):
    # two-phase salted counting/summing must be exactly the plain groupBy
    # whatever the key skew — the invariant that makes salting safe to
    # apply blindly to hot keys.
    df = spark.createDataFrame(rows, "user_id int, value int")
    plain = {
        r["user_id"]: (r["n"], r["s"])
        for r in df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    salted = (
        df.withColumn("salt", F.pmod(F.xxhash64("value"), F.lit(8)))
        .groupBy("user_id", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("ps"))
        .groupBy("user_id")
        .agg(F.sum("pn").alias("n"), F.sum("ps").alias("s"))
    )
    got = {r["user_id"]: (r["n"], r["s"]) for r in salted.collect()}
    assert got == plain
