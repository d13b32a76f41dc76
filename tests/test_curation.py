"""Invariant tests for the curation operators (curation.py): repetition
signals, contamination scan, sequence packing, domain caps.  Cross-engine
value parity is covered by the oracle mirror; these assert the semantic
invariants and non-vacuity (a 0-row result would pass the mirror while
testing nothing)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.operators.curation import (
    _CONTAM_N,
    _DOMAIN_CAP,
    _PACK_BIN,
    pipeline_contamination_check,
    pipeline_domain_cap,
    pipeline_pack_sequences,
    text_repetition_quality,
)
from mit_6_5840_mapreduce_with_go_spark.sources import load_table


def test_repetition_signals_bounded(spark, sf_dir):
    rows = text_repetition_quality(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        assert 0.0 <= r["dup_bigram_frac"] <= 1.0
        assert 0.0 < r["top_word_frac"] <= 1.0
        assert r["repetitive"] == (
            r["dup_bigram_frac"] > 0.2 or r["top_word_frac"] > 0.2
        )
    # non-vacuity: the synthetic corpus has both repetitive and clean docs
    flags = {r["repetitive"] for r in rows}
    dup_positive = any(r["dup_bigram_frac"] > 0 for r in rows)
    assert dup_positive and False in flags


def test_contamination_scan_non_vacuous_and_consistent(spark, sf_dir):
    rows = pipeline_contamination_check(spark, sf_dir).collect()
    assert len(rows) > 0, "pseudo-benchmark must hit at least one corpus doc"
    for r in rows:
        # benchmark docs themselves are never reported
        assert r["doc_id"] % 101 != 0
        assert 1 <= r["n_shared_ngrams"] <= r["n_ngrams"]
        assert 0.0 < r["contaminated_frac"] <= 1.0


def test_contamination_shared_ngrams_really_shared(spark, sf_dir):
    """Spot-check: a reported doc really shares a word n-gram with some
    benchmark doc (recompute in plain Python)."""
    rows = pipeline_contamination_check(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def ngrams(toks):
        return {
            " ".join(toks[i : i + _CONTAM_N])
            for i in range(len(toks) - _CONTAM_N + 1)
        }

    bench = set()
    for did, toks in docs.items():
        if did % 101 == 0:
            bench |= ngrams(toks)
    reported = {r["doc_id"]: r["n_shared_ngrams"] for r in rows}
    for did, toks in docs.items():
        if did % 101 == 0:
            continue
        shared = len(ngrams(toks) & bench)
        assert reported.get(did, 0) == shared


def test_pack_sequences_conserves_docs_and_tokens(spark, sf_dir):
    bins = pipeline_pack_sequences(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).alias("n")
    )
    totals = {
        r["lang"]: (r["d"], r["t"])
        for r in docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("d"), F.sum("n").alias("t"))
        .collect()
    }
    got = {
        r["lang"]: (r["d"], r["t"])
        for r in bins.groupBy("lang")
        .agg(F.sum("n_docs").alias("d"), F.sum("bin_tokens").alias("t"))
        .collect()
    }
    assert got == totals  # packing loses nothing
    for r in bins.collect():
        assert r["bin_id"] >= 0 and r["n_docs"] >= 1
    # bins are contiguous from 0 within each lang (offset-based assignment
    # can skip a bin only if a doc longer than BIN straddles several bins)
    per_lang = {}
    for r in bins.collect():
        per_lang.setdefault(r["lang"], []).append(r["bin_id"])
    for lang, ids in per_lang.items():
        assert min(ids) == 0
        assert len(ids) == len(set(ids))


def test_domain_cap_accounting(spark, sf_dir):
    rows = pipeline_domain_cap(spark, sf_dir).collect()
    per_source = {
        r["source"]: r["c"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert {r["source"] for r in rows} == set(per_source)
    assert any(r["n_dropped"] > 0 for r in rows), "cap must bind somewhere"
    for r in rows:
        assert r["n_total"] == per_source[r["source"]]
        assert r["n_kept"] + r["n_dropped"] == r["n_total"]
        assert r["n_kept"] <= _DOMAIN_CAP
        assert r["n_kept"] == min(_DOMAIN_CAP, r["n_total"])
        assert 0 < r["kept_chars"]


def test_pretrain_corpus_pipeline_accounting(spark, sf_dir):
    """Capstone pipeline: outputs respect the stage contracts — every
    (split, lang) row positive, per-source cap implies bounded totals,
    deterministic across runs, and the kept corpus is a subset of the
    repetition-clean uncontaminated docs."""
    from mit_6_5840_mapreduce_with_go_spark.operators.curation import (
        _PP_CAP,
        pipeline_pretrain_corpus,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = pipeline_pretrain_corpus(spark, sf_dir).collect()
    assert len(rows) > 0
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    total_docs = sum(r["n_docs"] for r in rows)
    n_sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    assert 0 < total_docs <= n_sources * _PP_CAP
    for r in rows:
        assert r["n_docs"] > 0 and r["total_tokens"] > 0
    # determinism: a second run produces identical rows
    again = pipeline_pretrain_corpus(spark, sf_dir).collect()
    key = lambda r: (r["split"], r["lang"])
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_gate_expressions_match_reference_forms(spark):
    """r14: the cheap gate forms (_dup_bigram_frac's struct-pair
    bigrams, _top_word_frac's sorted-run max) must equal the original
    string-bigram / per-distinct-word-rescan formulations on randomized
    token arrays — including duplicates-heavy, single-token, and
    empty-ish edge shapes."""
    import random

    from mit_6_5840_mapreduce_with_go_spark.operators.curation import (
        _dup_bigram_frac,
        _top_word_frac,
        _word_ngrams,
    )

    rng = random.Random(20260818)
    # tokens never contain ' ' in production (they come from split(' ')),
    # the invariant the struct-pair rewrite relies on
    vocab = ["a", "bb", "ccc", "dd", "e", "ff", "g"]
    cases = [[rng.choice(vocab) for _ in range(rng.randint(1, 40))] for _ in range(60)]
    cases += [["x"], ["x", "x"], ["x", "y"], ["x"] * 30]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "i long, l array<string>")

    bg = _word_ngrams(F.col("l"), 2)
    dup_ref = F.when(F.size(bg) == 0, F.lit(0.0)).otherwise(
        1 - F.size(F.array_distinct(bg)) / F.size(bg)
    )
    top_ref = F.array_max(
        F.transform(
            F.array_distinct(F.col("l")),
            lambda w: F.size(F.filter(F.col("l"), lambda x: x == w)),
        )
    ) / F.size("l")
    bad = df.select(
        _dup_bigram_frac(F.col("l")).alias("dn"),
        dup_ref.alias("dr"),
        _top_word_frac("l").alias("tn"),
        top_ref.alias("tr"),
    ).filter(
        ~F.col("dn").eqNullSafe(F.col("dr")) | ~F.col("tn").eqNullSafe(F.col("tr"))
    )
    assert bad.count() == 0
