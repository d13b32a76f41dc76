"""Invariant tests for curation tranche 4 (curation4.py) and the LSH
range search (similarity.py). Cross-engine value parity is covered by
the oracle mirror; these assert the semantic invariants and non-vacuity
(a 0-row result would pass the mirror while testing nothing)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.operators.curation4 import (
    _WS_DEN,
    pipeline_group_split,
    pipeline_weighted_sample,
    text_unigram_logprob,
    text_zipf_fit,
)
from mit_6_5840_mapreduce_with_go_spark.operators.similarity import (
    RANGE_TAU,
    sim_range_search_lsh,
)
from mit_6_5840_mapreduce_with_go_spark.sources import load_table


def test_group_split_is_leakage_safe_and_total(spark, sf_dir):
    """Split totals must account for every document, and no source may
    appear in two splits (the defining property of a grouped split)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_sources = docs.select("source").distinct().count()
    rows = pipeline_group_split(spark, sf_dir).collect()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["n_sources"] for r in rows) == n_sources
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    # train must dominate for an 80/10/10 split over enough groups
    by = {r["split"]: r for r in rows}
    assert by["train"]["n_docs"] > n_docs // 2


def test_group_split_deterministic(spark, sf_dir):
    a = sorted(map(tuple, pipeline_group_split(spark, sf_dir).collect()))
    b = sorted(map(tuple, pipeline_group_split(spark, sf_dir).collect()))
    assert a == b


def test_weighted_sample_rate_tracks_weight(spark, sf_dir):
    """Acceptance must be sandwiched: never more than 100%, and overall
    keep-rate must be positive and below 100% when short docs exist."""
    rows = pipeline_weighted_sample(spark, sf_dir).collect()
    total = sum(r["n_docs"] for r in rows)
    kept = sum(r["n_kept"] for r in rows)
    assert 0 < kept <= total
    for r in rows:
        assert 0 <= r["n_kept"] <= r["n_docs"]
    # documents at/above the saturation length are always kept
    docs = load_table(spark, sf_dir, "documents")
    n_long = docs.filter(F.col("n_chars") >= _WS_DEN).count()
    assert kept >= n_long


def test_unigram_logprob_bounds(spark, sf_dir):
    """Mean NLL is positive (probabilities < 1) and bounded by the
    rarest word's NLL: -ln(1/total_tokens)."""
    rows = text_unigram_logprob(spark, sf_dir).collect()
    assert len(rows) > 0
    docs = load_table(spark, sf_dir, "documents")
    total_tokens = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .count()
    )
    cap = -math.log(1.0 / total_tokens) + 1e-9
    for r in rows:
        assert 0.0 < r["avg_neg_logprob"] <= cap


def test_zipf_fit_shape(spark, sf_dir):
    """Frequency must fall with rank (negative slope) and the fit must
    explain most variance on a Zipf-ish synthetic corpus."""
    row = text_zipf_fit(spark, sf_dir).collect()[0]
    assert row["n_vocab"] > 1
    assert row["zipf_slope"] < 0
    assert 0.0 <= row["zipf_r2"] <= 1.0


def test_range_search_threshold_and_symmetry(spark, sf_dir):
    """Every reported pair clears the threshold, is canonical (a < b),
    and appears at most once."""
    rows = sim_range_search_lsh(spark, sf_dir).collect()
    pairs = [(r["vec_a"], r["vec_b"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert r["cos_sim"] >= round(RANGE_TAU, 4)


def test_range_search_no_false_positives_vs_bruteforce(spark, sf_dir):
    """LSH candidates are a SUBSET of the brute-force range result
    (bucket pruning can miss pairs, never invent them)."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = {
        (r["vec_a"], r["vec_b"]) for r in sim_range_search_lsh(spark, sf_dir).collect()
    }
    a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    dotv = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    normc = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
    )
    brute = {
        (r["va"], r["vb"])
        for r in (
            a.crossJoin(b)
            .filter(F.col("va") < F.col("vb"))
            .withColumn("cos", dotv / (normc(F.col("ea")) * normc(F.col("eb"))))
            .filter(F.col("cos") >= RANGE_TAU)
            .select("va", "vb")
        ).collect()
    }
    assert rows <= brute


def test_mixture_weights_shares_sum_to_one(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.curation4 import (
        _MIX_BUDGET,
        pipeline_mixture_weights,
    )

    rows = pipeline_mixture_weights(spark, sf_dir).collect()
    assert len(rows) > 1
    assert abs(sum(r["target_share"] for r in rows) - 1.0) < 1e-2
    assert abs(sum(r["natural_share"] for r in rows) - 1.0) < 1e-2
    # clipping only ever moves share from big sources to small ones
    for r in rows:
        if r["natural_share"] <= min(x["natural_share"] for x in rows):
            assert r["target_share"] >= r["natural_share"] - 1e-9
    assert sum(r["planned_docs"] for r in rows) <= _MIX_BUDGET


def test_langid_confusion_rows_partition_corpus(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.text import (
        text_langid_confusion,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = text_langid_confusion(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n"] for r in rows) == n_docs
    # per-language fractions sum to 1
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], 0.0)
        by_lang[r["lang"]] += r["frac_of_lang"]
    for lang, tot in by_lang.items():
        assert abs(tot - 1.0) < 1e-2, (lang, tot)


def test_heaps_law_structure(spark, sf_dir):
    """Synthetic corpus: saturating 31-word vocabulary -> beta ~ 0 with
    exact totals; replica checks tokens/vocab counts."""
    from mit_6_5840_mapreduce_with_go_spark.operators.curation4 import text_heaps_law
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    r = text_heaps_law(spark, sf_dir).collect()[0]
    rows = load_table(spark, sf_dir, "documents").select("text").collect()
    toks = [w for row in rows for w in row["text"].split(" ") if w != ""]
    assert r["n_tokens"] == len(toks)
    assert r["n_vocab"] == len(set(toks))
    assert r["n_points"] >= 5
    assert 0.0 <= r["heaps_beta"] <= 1.0


def test_heaps_law_gutenberg_signature(spark, text_corpus, tmp_path):
    """The reference's books show the textbook sub-linear growth: beta
    in the classic 0.4-0.8 band with a tight log-log fit.  On their
    generated stand-in every figure is checked exactly against a
    plain-Python fit of the generator's own token counts."""
    import os

    from mit_6_5840_mapreduce_with_go_spark.operators.curation4 import (
        text_heaps_law_gutenberg,
    )
    from mit_6_5840_mapreduce_with_go_spark.textcorpus import (
        _BOOKS_GLOB,
        write_text_corpus,
    )

    r = text_heaps_law_gutenberg(spark, "unused").collect()[0]
    assert r["n_points"] == 8
    if text_corpus == _BOOKS_GLOB:
        assert 0.4 <= r["heaps_beta"] <= 0.8
        assert r["heaps_r2"] >= 0.95
        # cross-check against the known corpus word count (22,107
        # distinct words — the mr_wordcount_gutenberg output size)
        assert r["n_vocab"] == 22107
        return

    counts = write_text_corpus(str(tmp_path))
    for name in counts:  # the replica's counts describe the query's input
        with open(os.path.join(os.path.dirname(text_corpus), name), "rb") as fh:
            assert fh.read() == (tmp_path / name).read_bytes(), name
    # one point per file in name order: tokens so far, distinct words so far
    seen: set[str] = set()
    n_tokens, xs, ys = 0, [], []
    for name in sorted(counts):
        n_tokens += sum(counts[name].values())
        seen |= counts[name].keys()
        xs.append(math.log(n_tokens))
        ys.append(math.log(len(seen)))
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    beta = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert (r["n_tokens"], r["n_vocab"]) == (n_tokens, len(seen))
    assert r["heaps_beta"] == round(beta, 4)


def test_mixture_weights_exact_fixpoint(spark, sf_dir):
    """Exact cap: clipped sources sit at EXACTLY 0.25, targets sum to 1,
    and the result is the water-filling fixed point (python replica)."""
    from fractions import Fraction

    from mit_6_5840_mapreduce_with_go_spark.operators.curation4 import (
        pipeline_mixture_weights_exact,
    )

    rows = pipeline_mixture_weights_exact(spark, sf_dir).collect()
    cap = Fraction(1, 4)
    counts = {r["lang"]: r["n_docs"] for r in rows}
    # replica: iterate clip-renormalize to fixed point on exact rationals
    clipped: set[str] = set()
    while True:
        u = sum(n for l, n in counts.items() if l not in clipped)
        lam_num = 1 - cap * len(clipped)
        new = {
            l
            for l, n in counts.items()
            if l not in clipped and Fraction(n, u) * lam_num >= cap
        }
        if not new:
            break
        clipped |= new
    u = sum(n for l, n in counts.items() if l not in clipped)
    for r in rows:
        want = (
            cap
            if r["lang"] in clipped
            else Fraction(counts[r["lang"]], u) * (1 - cap * len(clipped))
        )
        assert r["is_clipped"] == (r["lang"] in clipped)
        assert abs(r["target_share"] - float(want)) < 1e-3, r
    assert abs(sum(r["target_share"] for r in rows) - 1.0) < 1e-3
    assert any(r["is_clipped"] for r in rows), "cap never bound — vacuous"
    assert sum(r["planned_docs"] for r in rows) <= 1000


def test_cluster_safe_split_no_straddle(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.curation4 import (
        pipeline_cluster_safe_split,
    )

    rows = pipeline_cluster_safe_split(spark, sf_dir).collect()
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert all(r["straddling_cluster_policy"] == 0 for r in rows)
    # the naive doc-hash policy must show the leakage this op prevents
    # (data-dependent; non-zero on every shipped SF)
    assert all(r["straddling_doc_policy"] >= 1 for r in rows)
    assert sum(r["n_docs"] for r in rows) == 200


def test_mixture_weights_exact_boundary_corpus(spark, tmp_path):
    """Regression: a corpus whose shares sit exactly at the cap (four
    equal languages) must yield the identity mixture, not an empty
    result (the strict < consistency condition rejected every k)."""
    import duckdb

    from mit_6_5840_mapreduce_with_go_spark.operators.curation4 import (
        pipeline_mixture_weights_exact,
    )
    from mit_6_5840_mapreduce_with_go_spark.registry import ORACLES

    rows = []
    did = 0
    for lang, n in [("en", 25), ("de", 25), ("fr", 25), ("es", 25)]:
        for _ in range(n):
            rows.append((did, f"text {did}", lang, "src0", 10))
            did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = sorted(
        pipeline_mixture_weights_exact(spark, str(tmp_path)).collect(),
        key=lambda r: r["lang"],
    )
    assert len(got) == 4, "boundary corpus produced an empty/partial mixture"
    for r in got:
        assert r["target_share"] == 0.25
        assert r["planned_docs"] == 250
    # oracle agrees on the same data
    con = duckdb.connect()
    # Spark writes a directory of part files; glob them for DuckDB
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    orows = con.execute(ORACLES["pipeline_mixture_weights_exact"]).fetchall()
    assert len(orows) == 4
