"""PPJoin prefix-filtering set-similarity join (operators/dedup2.py):
completeness is driver-oracle-gated; here we pin the PRUNING claim
(candidates strictly fewer than share-any-shingle pairs) and the
prefix theorem on adversarial small sets."""

from __future__ import annotations

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.operators import dedup2 as D
from mit_6_5840_mapreduce_with_go_spark.operators.dedup import _shingles
from mit_6_5840_mapreduce_with_go_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def test_prefix_candidates_prune(spark):
    """The candidate pair count must be well under the
    share-any-shingle pair count — otherwise the prefix is not doing
    its job and the 'no all-pairs' scale claim is false."""
    docs = load_table(spark, SF, "documents")
    sh = _shingles(docs).select(
        "doc_id", "n_shingles", F.explode("shingles").alias("s")
    )
    all_sharing = (
        sh.alias("x")
        .join(sh.alias("y"), "s")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select("x.doc_id", "y.doc_id")
        .distinct()
        .count()
    )
    df_tbl = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window as W

    ranked = sh.join(df_tbl, "s").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
        ),
    )
    prefix_len = (
        F.col("n_shingles")
        - (
            (F.col("n_shingles") * D._T_NUM + D._T_DEN - 1) / D._T_DEN
        ).cast("long")
        + 1
    )
    prefix = ranked.filter(F.col("rn") <= prefix_len).select("doc_id", "s")
    cands = (
        prefix.alias("x")
        .join(prefix.alias("y"), "s")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select("x.doc_id", "y.doc_id")
        .distinct()
        .count()
    )
    result = D.dedup_ppjoin_shingles(spark, SF).count()
    assert result <= cands <= all_sharing
    assert cands < all_sharing / 4, (cands, all_sharing)


def test_prefix_theorem_tiny_adversarial():
    """Pure-Python check of the completeness bound on hand-built sets:
    for every pair with J >= 1/2 the prefixes intersect, under any
    consistent global order."""
    sets = {
        "a": {1, 2, 3, 4},
        "b": {1, 2, 3, 9},     # J(a,b) = 3/5 >= 1/2
        "c": {4, 5, 6, 7, 8},  # J(a,c) = 1/8 < 1/2
        "d": {1, 2},           # J(a,d) = 2/4 >= 1/2
    }
    # global order: by ascending frequency then value
    from collections import Counter

    freq = Counter(v for s in sets.values() for v in s)
    order = lambda v: (freq[v], v)  # noqa: E731

    def prefix(s):
        n = len(s)
        p = n - (n * 1 + 2 - 1) // 2 + 1  # t = 1/2 for the tiny sets
        return set(sorted(s, key=order)[:p])

    def jacc(x, y):
        return len(x & y) / len(x | y)

    names = sorted(sets)
    for i, x in enumerate(names):
        for y in names[i + 1 :]:
            if jacc(sets[x], sets[y]) >= 0.5:
                assert prefix(sets[x]) & prefix(sets[y]), (x, y)


def test_cc_two_phase_chain_and_star(spark):
    """Star contraction lands on the component minimum for chain,
    star, and two-component shapes — including the adversarial long
    chain where one-hop label propagation needs O(n) rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 20)]       # chain 10..20
        + [(30, 31), (30, 32), (30, 33)]          # star rooted at 30
        + [(40, 41)],                              # separate pair
        "a long, b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.cc_two_phase(pairs).collect()
    }
    for n in range(10, 21):
        assert got[n] == 10, (n, got[n])
    for n in (30, 31, 32, 33):
        assert got[n] == 30
    assert got[40] == 40 and got[41] == 40


def test_cc_two_phase_raises_without_convergence(spark):
    """Exhausting max_rounds without a CONFIRMED fixpoint raises
    instead of silently emitting unconverged labels."""
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="no confirmed fixpoint"):
        D.cc_two_phase(pairs, max_rounds=1)
    # and with enough rounds the same graph converges to the minimum
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.cc_two_phase(pairs).collect()
    }
    assert set(got.values()) == {0}


def test_capped_ppjoin_subset_and_overflow(spark):
    """The capped variant reports a SUBSET of the exact pairs, every
    missing pair is explainable by overflowed witnesses, and the
    overflow census matches the prefix-frequency rule."""
    docs = load_table(spark, SF, "documents")
    sh = _shingles(docs).select(
        "doc_id", "n_shingles", F.explode("shingles").alias("s")
    )
    pairs, overflow = D.ppjoin_pairs_capped(sh, D._PPJOIN_CAP)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    full = {
        (r["a"], r["b"]) for r in D.ppjoin_pairs(sh).collect()
    }
    assert got <= full
    over = {r["s"]: r["pf"] for r in overflow.collect()}
    assert over, "driver corpus should exercise the overflow path"
    assert all(pf > D._PPJOIN_CAP for pf in over.values())
    # with an effectively-unbounded budget the kill-switch is a no-op
    pairs_all, overflow_all = D.ppjoin_pairs_capped(sh, 10**9)
    assert {(r["a"], r["b"]) for r in pairs_all.collect()} == full
    assert overflow_all.count() == 0


def _count_rounds(monkeypatch) -> list[int]:
    """Count ``cc_two_phase``'s rounds: one ``_small_star`` call each."""
    calls = [0]
    small_star = D._small_star

    def counting(edges):
        calls[0] += 1
        return small_star(edges)

    monkeypatch.setattr(D, "_small_star", counting)
    return calls


def test_is_star_forest(spark):
    """Accepts stars and the empty set; rejects a chain and a node with
    two out-edges (edges point from the larger id to the smaller)."""

    def edges(rows):
        return spark.createDataFrame(rows, "u long, v long")

    assert D._is_star_forest(edges([(2, 1), (3, 1)]))
    assert D._is_star_forest(edges([]))
    assert not D._is_star_forest(edges([(3, 2), (2, 1)]))
    assert not D._is_star_forest(edges([(3, 1), (3, 2)]))


def test_cc_two_phase_stops_at_first_star_forest(spark, monkeypatch):
    """Two stars are final after one round: no second round only to see
    that nothing changed."""
    rounds = _count_rounds(monkeypatch)
    pairs = spark.createDataFrame([(1, 2), (1, 3), (5, 6)], "a long, b long")
    got = {r["doc_id"]: r["cluster_id"] for r in D.cc_two_phase(pairs).collect()}
    assert rounds[0] == 1
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_cc_chain_converges_in_log_rounds(spark, monkeypatch):
    """100 TB evidence for star contraction: a pure CHAIN is label
    propagation's worst case (O(diameter) rounds); large-star/small-star
    must converge in O(log n) rounds.  Counts ``cc_two_phase``'s own
    rounds on chains of increasing length and asserts logarithmic
    growth — the registry corpus cannot exercise this (its dup graph is
    tiny star-shaped clusters)."""
    import math

    rounds = _count_rounds(monkeypatch)

    def rounds_to_converge(n: int) -> int:
        pairs = spark.range(n - 1).select(
            F.col("id").alias("a"), (F.col("id") + 1).alias("b")
        )
        rounds[0] = 0
        labels = D.cc_two_phase(pairs, max_rounds=64).collect()
        assert sorted(labels) == [(i, 0) for i in range(n)]
        return rounds[0]

    got = {n: rounds_to_converge(n) for n in (64, 512, 4096)}
    for n, r in got.items():
        # O(log n) with a small constant; a propagation-style algorithm
        # would need ~n/2 rounds (32 / 256 / 2048)
        assert r <= 2 * math.ceil(math.log2(n)) + 4, got
    # growth is logarithmic, not linear: 64x more nodes may cost only
    # a few more rounds
    assert got[4096] - got[64] <= 8, got


def test_window_star_operators_match_groupby_join_reference(spark):
    """r14: _large_star/_small_star were rewritten from groupBy+join to
    a window min per node — pin exact output equality against the old
    formulation on a randomized edge set (plus the chain/star shapes the
    other tests cover implicitly)."""
    import random

    from pyspark.sql import functions as F

    from mit_6_5840_mapreduce_with_go_spark.operators.dedup2 import (
        _large_star,
        _small_star,
    )

    def large_ref(edges):
        m = edges.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("u", "mv").alias("m")
        )
        return (
            edges.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_ref(edges):
        down = edges.filter(F.col("v") <= F.col("u"))
        m = down.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("u", "mv").alias("m")
        )
        pairs = down.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        own = m.select(F.col("u"), F.col("m").alias("v"))
        return pairs.union(own).filter(F.col("u") != F.col("v")).distinct()

    rng = random.Random(20260818)
    raw = {(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(120)}
    rows = [(u, v) for u, v in raw] + [(u, v) for v, u in raw]
    edges = spark.createDataFrame(rows, "u long, v long").distinct().localCheckpoint()

    def rset(df):
        return sorted((r.u, r.v) for r in df.collect())

    assert rset(_large_star(edges)) == rset(large_ref(edges))
    assert rset(_small_star(edges)) == rset(small_ref(edges))
