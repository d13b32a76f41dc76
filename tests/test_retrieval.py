"""BM25 retrieval, SemDeDup, and containment dedup: semantic invariants
(oracle parity is test_oracles.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.operators import retrieval as R
from mit_6_5840_mapreduce_with_go_spark.sources import load_table


def test_bm25_invariants(spark, sf_dir):
    rows = R.sim_bm25_topk(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) <= set(range(R._BM25_NQ))
    for q, rs in by_q.items():
        # contiguous ranks, descending rounded score, no self-match
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
        scores = [r["bm25"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        assert all(r["doc_id"] != q for r in rs)
        assert all(r["bm25"] > 0 for r in rs)  # "+1" idf form never negative


def test_bm25_single_doc_reference_score(spark):
    """Hand-computed BM25 on a 3-doc corpus (exercise the formula
    end-to-end against an independent Python evaluation)."""
    docs = spark.createDataFrame(
        [
            (0, "apple banana"),
            (25, "apple apple cherry"),
            (26, "banana cherry cherry durian"),
        ],
        "doc_id long, text string",
    )
    terms = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    tf = {(r["doc_id"], r["word"]): r["tf"] for r in terms}
    dl = {d: sum(v for (dd, _), v in tf.items() if dd == d) for d in (0, 25, 26)}
    avgdl = sum(dl.values()) / 3
    df = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    k1, b = R._BM25_K1, R._BM25_B

    def score(q, d):
        s = 0.0
        qws = {w for (dd, w) in tf if dd == q}
        for w in qws:
            if (d, w) not in tf:
                continue
            idf = math.log(1.0 + (3 - df[w] + 0.5) / (df[w] + 0.5))
            t = tf[(d, w)]
            s += idf * t * (k1 + 1) / (t + k1 * (1 - b + b * dl[d] / avgdl))
        return s

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        for t in ["documents"]:
            docs.withColumn("lang", F.lit("en")).withColumn(
                "source", F.lit("s")
            ).withColumn("n_chars", F.length("text")).write.parquet(f"{tmp}/{t}.parquet")
        out = {
            (r["query_id"], r["doc_id"]): r["bm25"]
            for r in R.sim_bm25_topk(spark, tmp).collect()
        }
    assert abs(out[(0, 25)] - round(score(0, 25), 4)) < 1e-6
    assert abs(out[(0, 26)] - round(score(0, 26), 4)) < 1e-6


def test_semdedup_census_conserves_members(spark, sf_dir):
    rows = R.dedup_semdedup(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n_vecs
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_members"]
        assert r["n_kept"] >= 1  # the lowest-id member of a cluster survives


def test_containment_directed_bounds(spark, sf_dir):
    rows = R.dedup_containment(spark, sf_dir).collect()
    for r in rows:
        assert R._CONT_THRESH <= r["containment"] <= 1.0
        assert r["contained_doc"] != r["container_doc"]
    # directionality: a full-containment pair scores 1.0 on the smaller side
    pairs = {(r["contained_doc"], r["container_doc"]): r["containment"] for r in rows}
    for (a, c), v in pairs.items():
        if v == 1.0 and (c, a) in pairs:
            assert pairs[(c, a)] <= 1.0


def test_mmr_greedy_reference(spark, sf_dir):
    """Replay the greedy MMR selection in plain Python from the raw
    embeddings and demand identical selections + scores."""
    import numpy as np

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    lam = R._MMR_LAMBDA
    want = {}
    for q in range(R._MMR_NQ):
        rel = {c: cos(emb[q], v) for c, v in emb.items() if c != q}
        cands = sorted(rel, key=lambda c: (-rel[c], c))[: R._MMR_CANDS]
        sel = []
        for rank in range(1, 4):
            def score(c):
                pen = max((cos(emb[c], emb[s]) for s, _ in sel), default=0.0)
                return lam * rel[c] - (1 - lam) * pen
            pick = min((c for c in cands if c not in [s for s, _ in sel]),
                       key=lambda c: (-score(c), c))
            sc = round(score(pick), 4)  # BEFORE appending (self-sim is 1.0)
            sel.append((pick, sc))
            want[(q, rank)] = (pick, sc)
    got = {
        (r["query_id"], r["sel_rank"]): (r["vec_id"], r["mmr_score"])
        for r in R.sim_mmr_rerank(spark, sf_dir).collect()
    }
    assert len(got) == R._MMR_NQ * 3
    for k, (vid, sc) in want.items():
        assert got[k][0] == vid, (k, got[k], (vid, sc))
        assert abs(got[k][1] - sc) < 2e-4


def test_prf_expansion_properties(spark, sf_dir):
    """PRF output: k rows per query, ranks 1..k, and the expansion
    genuinely reorders — across the query set some final top-k docs were
    NOT in the first pass."""
    from mit_6_5840_mapreduce_with_go_spark.operators.retrieval import (
        _BM25_NQ,
        _BM25_TOPK,
        sim_bm25_prf_expansion,
    )

    rows = sim_bm25_prf_expansion(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == _BM25_NQ
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, _BM25_TOPK + 1))
        assert all(r["doc_id"] != q for r in rs)
    assert any(not r["in_first_pass"] for r in rows), (
        "expansion changed nothing — feedback loop is inert"
    )
    assert any(r["in_first_pass"] for r in rows)
