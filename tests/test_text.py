"""Text-analysis operators: structural sanity (oracle equivalence is the
driver's sweep; these pin invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mit_6_5840_mapreduce_with_go_spark.operators import text as T


def test_token_stats_invariants(spark, sf_dir):
    rows = T.text_token_stats(spark, sf_dir).collect()
    for r in rows:
        assert r["n_distinct"] <= r["n_tokens"]
        assert 0 < r["ttr"] <= 1.0
        assert r["n_letter_chars"] <= r["n_chars"]


def test_quality_score_range(spark, sf_dir):
    rows = T.text_quality_score(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["stop_ratio"] <= 1.0


def test_fingerprint_is_stable_and_distinct(spark, sf_dir):
    a = {r["doc_id"]: r["fp_md5"] for r in T.text_fingerprint(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["fp_md5"] for r in T.text_fingerprint(spark, sf_dir).collect()}
    assert a == b
    assert all(len(v) == 32 for v in a.values())


def test_bpe_count_at_least_wordcount(spark, sf_dir):
    bpe = T.text_bpe_token_count(spark, sf_dir)
    ws = T.text_token_stats(spark, sf_dir).select("doc_id", "n_tokens")
    joined = bpe.join(ws, "doc_id").collect()
    for r in joined:
        assert r["n_bpe_tokens"] >= r["n_tokens"] - 1


def test_keywords_tfidf_shape(spark):
    from mit_6_5840_mapreduce_with_go_spark.operators.text import (
        text_keywords_tfidf,
    )
    import math

    rows = text_keywords_tfidf(spark, "/root/testdata/sf0.001").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    n_docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("doc_id < 100")
        .count()
    )
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            # idf upper bound: a unique word in the slice
            assert r["score"] <= r["tf"] * math.log((n_docs + 1) / 2.0) + 1e-6


def test_collocations_pmi_math(spark):
    import math

    from mit_6_5840_mapreduce_with_go_spark.operators.text import (
        _PMI_BOUND,
        _PMI_MIN_CO,
        text_collocations_pmi,
    )
    import pyspark.sql.functions as F

    rows = text_collocations_pmi(spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 20
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < _PMI_BOUND)
        .collect()
    )
    word_docs: dict[str, set] = {}
    for d in docs:
        for w in set(x for x in d["text"].split(" ") if x):
            word_docs.setdefault(w, set()).add(d["doc_id"])
    nd = len(docs)
    for r in rows:
        s1, s2 = word_docs[r["w1"]], word_docs[r["w2"]]
        co = len(s1 & s2)
        assert co == r["cofreq"] >= _PMI_MIN_CO
        assert (len(s1), len(s2)) == (r["df1"], r["df2"])
        assert abs(r["pmi"] - round(math.log(co * nd / (len(s1) * len(s2))), 4)) < 1e-9


def test_phrase_search_python_replay(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators import text as TX
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    want = {}
    for name, phrase in TX._PHRASES:
        ws = phrase.split()
        per_doc = {}
        for d, toks in docs.items():
            n = sum(
                1
                for i in range(len(toks) - 2)
                if toks[i : i + 3] == ws
            )
            if n:
                per_doc[d] = n
        if per_doc:
            want[name] = (
                len(per_doc), sum(per_doc.values()), min(per_doc)
            )
    got = {
        r["phrase"]: (r["n_docs"], r["n_occurrences"], r["first_doc_id"])
        for r in TX.text_phrase_search(spark, sf_dir).collect()
    }
    assert got == want
