"""End-to-end curation pipeline: full write-out with near-dup pruning
(the core queries' oracle compares are test_oracles.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from mit_6_5840_mapreduce_with_go_spark.operators.pipelines import (
    curate_and_write,
    pipeline_curated_documents,
)
from mit_6_5840_mapreduce_with_go_spark.sources import load_table


def test_pipeline_invariants(spark, sf_dir):
    out = pipeline_curated_documents(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) <= docs
    for r in rows[:50]:
        assert r["n_tokens"] >= 40 and r["stop_ratio"] <= 0.3
    # canonical docs are unique per fingerprint
    assert out.select("fp_md5").distinct().count() == len(rows)


def test_curate_and_write_partitioned(spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "curated")
    survivors = curate_and_write(spark, sf_dir, out_dir, near_dup=True)
    n = survivors.count()
    back = spark.read.parquet(out_dir)
    assert back.count() == n
    # lang partitioning materialized (hive dirs) and near-dup pruning only
    # ever removes docs, never adds
    langs = {r["lang"] for r in back.select("lang").distinct().collect()}
    assert langs <= {"en", "es", "de", "fr"} and len(langs) >= 1
    base = pipeline_curated_documents(spark, sf_dir).count()
    assert n <= base


def test_split_is_deterministic_and_complete(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.registry import QUERIES
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = {
        r["split"]: r["n_docs"]
        for r in QUERIES["pipeline_train_val_test_split"](spark, sf_dir).collect()
    }
    again = {
        r["split"]: r["n_docs"]
        for r in QUERIES["pipeline_train_val_test_split"](spark, sf_dir).collect()
    }
    assert rows == again  # no RNG anywhere
    total = load_table(spark, sf_dir, "documents").count()
    assert sum(rows.values()) == total  # partition of the corpus
    assert rows["train"] > rows.get("val", 0) >= 0  # 80/10/10-ish shape


def test_stratified_sample_balanced_and_deterministic(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.registry import QUERIES

    df = QUERIES["pipeline_stratified_sample_by_lang"](spark, sf_dir)
    rows = df.collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    for lang, ids in per_lang.items():
        assert len(ids) <= 20, lang  # exact cap per stratum
    # rerun picks the identical documents (no RNG, no partitioning dependence)
    again = {(r["lang"], r["doc_id"]) for r in
             QUERIES["pipeline_stratified_sample_by_lang"](spark, sf_dir).collect()}
    assert {(r["lang"], r["doc_id"]) for r in rows} == again


def test_drop_reasons_partition_consistent_with_pipeline(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.pipelines import (
        pipeline_curated_documents,
        pipeline_drop_reasons,
    )

    verdicts = {r["doc_id"]: r for r in pipeline_drop_reasons(spark, sf_dir).collect()}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(verdicts) == n_docs
    kept_ids = {r["doc_id"] for r in pipeline_curated_documents(spark, sf_dir).collect()}
    # 'kept' verdicts are EXACTLY the pipeline's survivors
    assert {d for d, r in verdicts.items() if r["verdict"] == "kept"} == kept_ids
    for d, r in verdicts.items():
        if r["verdict"] == "exact_dup":
            assert r["canonical_doc"] in kept_ids and r["canonical_doc"] < d
        else:
            assert r["canonical_doc"] is None


def test_silhouette_bounds_and_membership(spark, sf_dir):
    from mit_6_5840_mapreduce_with_go_spark.operators.clusters import (
        cluster_silhouette_simplified,
    )
    from mit_6_5840_mapreduce_with_go_spark.sources import load_table

    rows = cluster_silhouette_simplified(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n
    for r in rows:
        assert -1.0 <= r["mean_silhouette"] <= 1.0


def test_asof_features_leakage_safe(spark, sf_dir):
    """Truncating the table at the cutoff must not change ANY feature
    column — proof that no feature reads post-cutoff data."""
    import tempfile

    from pyspark.sql import functions as F

    from mit_6_5840_mapreduce_with_go_spark.operators import pipelines as P
    from mit_6_5840_mapreduce_with_go_spark.sources import TABLE_NAMES, load_table

    full = {
        r["user_id"]: r
        for r in P.pipeline_labels_asof_features(spark, sf_dir).collect()
    }
    with tempfile.TemporaryDirectory() as tmp:
        load_table(spark, sf_dir, "events").filter(
            F.col("ts") < F.lit(P._FL_CUTOFF).cast("timestamp")
        ).write.parquet(f"{tmp}/events.parquet")
        trunc = {
            r["user_id"]: r
            for r in P.pipeline_labels_asof_features(spark, tmp).collect()
        }
    assert set(full) == set(trunc)
    feat_cols = [
        "n_events_fw", "n_types_fw", "value_cents_fw", "days_active_fw",
        "last_seen_gap_h",
    ]
    for u, r in full.items():
        for c in feat_cols:
            assert r[c] == trunc[u][c], (u, c)
        assert trunc[u]["label_active"] == 0  # no post-cutoff data left
