"""JL projection + epoch shuffle: numpy cross-check of the projection
and permutation invariants of the shuffle (oracle parity is
test_oracles.py)."""

from __future__ import annotations

import numpy as np

from mit_6_5840_mapreduce_with_go_spark.operators import projection as PJ
from mit_6_5840_mapreduce_with_go_spark.sources import load_table


def test_jl_matches_numpy(spark, sf_dir):
    """Independent replay: build the ±1 sign matrix and integer-micro
    vectors in numpy; projected coordinates must match exactly."""
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    signs = np.array(
        [
            [
                1 - 2 * (((PJ._JL_A * i + PJ._JL_B * j) % PJ._JL_P) % 2)
                for j in range(PJ._JL_IN)
            ]
            for i in range(PJ._JL_OUT)
        ],
        dtype=np.int64,
    )
    rows = PJ.mm_jl_projection(spark, sf_dir).collect()
    assert len(rows) == len(emb)
    for r in rows[:50]:
        x = np.floor(emb[r["vec_id"]] * 1_000_000.0).astype(np.int64)
        y = signs @ x
        assert r["y0"] == y[0] and r["y1"] == y[1]
        assert r["x_norm2"] == int((x * x).sum())
        assert r["y_norm2"] == int((y * y).sum())


def test_jl_distortion_concentrates(spark, sf_dir):
    """JL guarantee sanity: distortion ratios concentrate around 1."""
    d = [r["distortion"] for r in PJ.mm_jl_projection(spark, sf_dir).collect()]
    mean = sum(d) / len(d)
    assert 0.7 < mean < 1.3
    # d'=16 keeps per-vector variance high (~1/sqrt(16)); demand the
    # bulk, not a tight band
    assert sum(1 for v in d if 0.4 < v < 1.8) / len(d) > 0.8
    assert all(0.1 < v < 3.0 for v in d)


def test_epoch_shuffle_is_permutation(spark, sf_dir):
    rows = PJ.pipeline_epoch_shuffle(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert len({r["shard"] for r in rows}) == len(rows)
    for r in rows:
        assert 0 <= r["shard"] < PJ._EP_SHARDS
        assert 0 <= r["min_key"] <= r["max_key"] < PJ._EP_P
        assert 0 <= r["order_checksum"] < PJ._EP_CHK


def test_padding_bucketing_beats_global_pad(spark, sf_dir):
    """Bucketed padding must waste strictly fewer tokens than padding
    everything to the global max (unless all docs are equal length)."""
    rows = PJ.pipeline_padding_waste(spark, sf_dir).collect()
    n = sum(r["n_docs"] for r in rows)
    total = sum(r["sum_len"] for r in rows)
    gmax = max(r["max_len"] for r in rows)
    bucketed_waste = sum(r["pad_tokens"] for r in rows)
    global_waste = n * gmax - total
    assert bucketed_waste < global_waste
    for r in rows:
        assert r["pad_tokens"] == r["n_docs"] * r["max_len"] - r["sum_len"]
        assert 0.0 <= r["pad_frac"] < 1.0
        assert r["max_len"] // PJ._PW_BUCKET == r["bucket"]
