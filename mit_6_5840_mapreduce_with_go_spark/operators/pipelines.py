"""End-to-end training-data curation pipeline: the north-star operators
composed the way a real 100 TB corpus pass runs —

    quality filter → language gate → exact dedup (keep canonical)
    → token accounting → (optionally) MinHash near-dup pruning

Everything up to MinHash is one deterministic relational pipeline, so the
whole composition is oracle-checked end-to-end; the near-dup stage reuses
dedup_minhash_lsh / dedup_clusters (rows-only, engine-hash based).

Scale notes: the pipeline is ONE Catalyst plan — quality/lang filters are
per-row predicates that reach the parquet scan; the dedup groupBy on the
16-byte content hash is the only shuffle; token stats ride along in the
same projection. A 100 TB run writes the survivors as partitioned parquet
(sources/sinks.py) and feeds the MinHash stage from that materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table

MIN_TOKENS = 40
STOP_RATIO_MAX = 0.30


@query(
    "pipeline_curated_documents",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('the','a','and','of','to','in'))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio,
             md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents),
    kept AS (
      SELECT * FROM scored
      WHERE n_tokens >= {MIN_TOKENS} AND stop_ratio <= {STOP_RATIO_MAX}
        AND lang IN ('en', 'es', 'de', 'fr')),
    canonical AS (
      SELECT fp, min(doc_id) AS doc_id, count(*) AS n_copies
      FROM kept GROUP BY fp)
    SELECT k.doc_id, k.lang, k.n_tokens, round(k.stop_ratio, 4) AS stop_ratio,
           c.n_copies, k.fp AS fp_md5
    FROM canonical c JOIN kept k ON k.doc_id = c.doc_id
    """,
)
def pipeline_curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic curation core, end-to-end oracle-checked:
    quality gate (length + stopword ratio) → language allowlist → exact
    near-dup collapse on the normalized fingerprint (keep lowest doc_id,
    count copies) → per-survivor token accounting."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = F.split("text", " ")
    stop_ratio = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "and", "of", "to", "in"))
    ) / F.size(toks)
    fp = F.md5(F.trim(F.lower(F.regexp_replace("text", r"\s+", " "))))
    kept = (
        docs.withColumn("n_tokens", F.size(toks))
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("fp_md5", fp)
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("stop_ratio") <= STOP_RATIO_MAX)
            & F.col("lang").isin("en", "es", "de", "fr")
        )
    )
    canonical = kept.groupBy("fp_md5").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return kept.join(canonical, ["fp_md5", "doc_id"]).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round("stop_ratio", 4).alias("stop_ratio"),
        "n_copies",
        "fp_md5",
    )


def curate_and_write(
    spark: SparkSession, sf_dir: str, out_dir: str, near_dup: bool = True
) -> DataFrame:
    """Full pipeline including the MinHash near-dup stage: curated
    survivors minus any doc that clusters with a lower-id near-duplicate,
    written as lang-partitioned parquet. Returns the survivors frame."""
    survivors = pipeline_curated_documents(spark, sf_dir)
    if near_dup:
        from .dedup import dedup_minhash_lsh
        from .dedup2 import cc_two_phase

        pairs = dedup_minhash_lsh(spark, sf_dir).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
        labels = cc_two_phase(pairs)
        losers = labels.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        survivors = survivors.join(losers, "doc_id", "left_anti")
    survivors.write.mode("overwrite").partitionBy("lang").parquet(out_dir)
    return survivors


# --------------------------------------------------------------------------
# Deterministic train/val/test split: the last step of a curation
# pipeline.  Assignment is a pure integer universal hash of the document
# id — no RNG, no driver state — so it is reproducible across runs,
# engines, and cluster sizes, and any future re-run routes a given doc to
# the same split (the property that prevents train/test contamination
# when the corpus is regenerated incrementally).
# --------------------------------------------------------------------------
_SPLIT_A = 2654435761  # Knuth multiplicative constant
_SPLIT_B = 40503
_SPLIT_P = 1000003
# Reduced multiplier: (A*x + B) mod p == ((A mod p)*(x mod p) + B) mod p, and
# the reduced form keeps every intermediate below ~4.3e11 — safe in int64 for
# any doc_id (the raw A*doc_id product overflows int64 past doc_id ~3.5e9,
# where Spark wraps silently but DuckDB raises).
_SPLIT_A_RED = _SPLIT_A % _SPLIT_P


@query(
    "pipeline_train_val_test_split",
    oracle=f"""
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs
    FROM (
      SELECT lang, n_chars,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang, n_chars,
                   (({_SPLIT_A_RED} * (doc_id % {_SPLIT_P}) + {_SPLIT_B})
                    % {_SPLIT_P}) % 100 AS b
            FROM documents))
    GROUP BY split
    """,
)
def pipeline_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split by hash-bucketing doc_id with a fixed universal
    hash ((a*id + b) mod p mod 100) — integer-exact in any engine.
    Scale: the split column is a narrow map-side expression (no shuffle,
    no sampling pass, no driver-held permutation); the per-split summary
    here is the audit artifact, while a real pipeline would write
    partitionBy('split') directly from the same expression.  Reference
    parity: the reference routes records to reduce buckets by hashing the
    key (src/mr/worker.go:28-34); this is the same idea pointed at corpus
    partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    b = (
        (F.lit(_SPLIT_A_RED) * (F.col("doc_id") % _SPLIT_P) + F.lit(_SPLIT_B))
        % _SPLIT_P
    ) % 100
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "n_chars", "lang")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@query(
    "pipeline_stratified_sample_by_lang",
    oracle=f"""
    SELECT lang, doc_id, n_chars
    FROM (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ({_SPLIT_A_RED} * (doc_id % {_SPLIT_P}) + {_SPLIT_B})
                        % {_SPLIT_P}, doc_id
             ) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def pipeline_stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced eval-set builder: exactly n docs per language, chosen by
    ranking each stratum on the same universal hash as the split operator
    — deterministic (re-runs pick the same docs), unbiased within the
    hash family, and contamination-safe alongside
    ``pipeline_train_val_test_split`` (different use of the same hash,
    so membership is still decided per doc, not per sample batch).

    Scale: one shuffle on the stratum key; the per-stratum top-n is a
    rank-truncated window — with heavy strata this is the windowed
    equivalent of TakeOrdered per group (state = n rows per stratum in
    the sort buffer, not the stratum).  No driver-side sampling state,
    no ``sample()`` RNG (which is seed- AND partitioning-dependent, so
    not reproducible across cluster sizes — the reason it is avoided
    here)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    hkey = (
        F.lit(_SPLIT_A_RED) * (F.col("doc_id") % _SPLIT_P) + F.lit(_SPLIT_B)
    ) % _SPLIT_P
    w = W.partitionBy("lang").orderBy(hkey.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("lang", "doc_id", "n_chars")
    )


# --------------------------------------------------------------------------
# Per-document drop-reason diagnostics (the pipeline's debugging view)
# --------------------------------------------------------------------------
@query(
    "pipeline_drop_reasons",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('the','a','and','of','to','in'))) * 1.0
               / len(string_split(text, ' ')) AS stop_ratio,
             md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM documents),
    kept AS (
      SELECT * FROM scored
      WHERE n_tokens >= {{MIN_TOKENS}} AND stop_ratio <= {{STOP_RATIO_MAX}}
        AND lang IN ('en', 'es', 'de', 'fr')),
    canon AS (SELECT fp, min(doc_id) AS cdoc FROM kept GROUP BY fp)
    SELECT s.doc_id,
           CASE
             WHEN s.n_tokens < {{MIN_TOKENS}} THEN 'too_short'
             WHEN s.stop_ratio > {{STOP_RATIO_MAX}} THEN 'low_quality'
             WHEN s.lang NOT IN ('en','es','de','fr') THEN 'lang_filtered'
             WHEN c.cdoc <> s.doc_id THEN 'exact_dup'
             ELSE 'kept'
           END AS verdict,
           CASE WHEN c.cdoc <> s.doc_id THEN c.cdoc END AS canonical_doc
    FROM scored s LEFT JOIN canon c ON c.fp = s.fp
    """.format(MIN_TOKENS=MIN_TOKENS, STOP_RATIO_MAX=STOP_RATIO_MAX),
)
def pipeline_drop_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document verdict table for the curation pipeline — the
    debugging view every data engineer asks for first ("WHY did doc X
    disappear?"): first failing gate in pipeline order (length →
    quality → language → exact-dup) or 'kept', with the canonical
    winner attached for dup losses. Gate expressions are shared with
    pipeline_curated_documents, so the two can never drift apart.

    Scale: the same single scan + fingerprint groupBy as the pipeline
    itself; the verdict is a CASE over already-computed columns. At
    100 TB this table IS the curation audit log, partitioned like the
    corpus."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    toks = F.split("text", " ")
    stop_ratio = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "and", "of", "to", "in"))
    ) / F.size(toks)
    fp = F.md5(F.trim(F.lower(F.regexp_replace("text", r"\s+", " "))))
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        fp.alias("fp"),
    )
    kept = scored.filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("stop_ratio") <= STOP_RATIO_MAX)
        & F.col("lang").isin("en", "es", "de", "fr")
    )
    canon = kept.groupBy("fp").agg(F.min("doc_id").alias("cdoc"))
    is_dup = F.col("cdoc").isNotNull() & (F.col("cdoc") != F.col("doc_id"))
    verdict = (
        F.when(F.col("n_tokens") < MIN_TOKENS, "too_short")
        .when(F.col("stop_ratio") > STOP_RATIO_MAX, "low_quality")
        .when(~F.col("lang").isin("en", "es", "de", "fr"), "lang_filtered")
        .when(is_dup, "exact_dup")
        .otherwise("kept")
    )
    return scored.join(canon, "fp", "left").select(
        "doc_id",
        verdict.alias("verdict"),
        F.when(is_dup, F.col("cdoc")).alias("canonical_doc"),
    )


# --------------------------------------------------------------------------
# Leakage-safe as-of feature/label assembly — the supervised-training
# data contract: features strictly BEFORE the cutoff, label strictly
# AFTER, from one events scan.
# --------------------------------------------------------------------------
_FL_CUTOFF = "2024-01-24 00:00:00"
_FL_FEAT_DAYS = 14


@query(
    "pipeline_labels_asof_features",
    oracle=f"""
    WITH fw AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events_fw,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types_fw,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents_fw,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS days_active_fw,
             CAST(floor(date_diff('second', max(ts),
                                  TIMESTAMP '{_FL_CUTOFF}') / 3600.0)
                  AS BIGINT) AS last_seen_gap_h
      FROM events
      WHERE ts < TIMESTAMP '{_FL_CUTOFF}'
        AND ts >= TIMESTAMP '{_FL_CUTOFF}' - INTERVAL {_FL_FEAT_DAYS} DAY
      GROUP BY user_id),
    lw AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts > TIMESTAMP '{_FL_CUTOFF}')
    SELECT fw.user_id, n_events_fw, n_types_fw, value_cents_fw,
           days_active_fw, last_seen_gap_h,
           CASE WHEN lw.user_id IS NULL THEN 0 ELSE 1 END AS label_active
    FROM fw LEFT JOIN lw ON lw.user_id = fw.user_id
    """,
)
def pipeline_labels_asof_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-training example assembly with a hard leakage
    boundary: features aggregate ONLY events in [cutoff-{d}d, cutoff);
    the churn/activity label looks ONLY at events after the cutoff.
    Emits per-user behavioral features (counts, distinct types,
    integer-cent value sum, active days, hours-since-last-seen) and the
    binary label.  The test suite proves leakage-safety by recomputing
    features on a post-cutoff-truncated table and demanding equality —
    the check a feature-store backfill runs before training.

    Scale: two time-pruned scans (the ts predicates reach the parquet
    scan; on date-partitioned data this is partition pruning) + one
    map-side-combinable per-user aggregate + a semi-join-shaped label
    lookup.  All features integer-exact.
    """.format(d=_FL_FEAT_DAYS)
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_FL_CUTOFF).cast("timestamp")
    fw = (
        ev.filter(
            (F.col("ts") < cutoff)
            & (F.col("ts") >= F.lit(_FL_CUTOFF).cast("timestamp") - F.expr(f"INTERVAL {_FL_FEAT_DAYS} DAY"))
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events_fw"),
            F.countDistinct("event_type").alias("n_types_fw"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "value_cents_fw"
            ),
            F.countDistinct(F.col("ts").cast("date")).alias("days_active_fw"),
            F.floor(
                (F.unix_timestamp(cutoff) - F.unix_timestamp(F.max("ts")))
                / 3600.0
            )
            .cast("long")
            .alias("last_seen_gap_h"),
        )
    )
    lw = (
        ev.filter(F.col("ts") > cutoff)
        .select("user_id")
        .distinct()
        .withColumn("post", F.lit(1))
    )
    return fw.join(lw, "user_id", "left").select(
        "user_id",
        "n_events_fw",
        "n_types_fw",
        "value_cents_fw",
        "days_active_fw",
        "last_seen_gap_h",
        F.when(F.col("post").isNull(), F.lit(0)).otherwise(F.lit(1)).alias(
            "label_active"
        ),
    )
