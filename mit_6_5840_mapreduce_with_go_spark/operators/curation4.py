"""Curation tranche 4: leakage-safe grouped splits, quality-weighted
sampling, unigram language-model scoring, and a Zipf-law corpus fit.

These extend the training-data curation surface (curation.py, curation2.py,
curation3.py, pipelines.py) with four more stages a 100 TB corpus pass
needs:

- **grouped train/val/test split** — the leakage-safe variant of
  ``pipeline_train_val_test_split``: the split decision is made per
  SOURCE (all documents of one source land in the same split), so
  near-duplicate documents within a source can never straddle the
  train/eval boundary.  The group key is ``min(doc_id)`` per source —
  deterministic, engine-independent, and computed with one map-side-
  combinable aggregation.
- **quality-weighted sampling** — per-document acceptance with
  probability proportional to a quality weight, decided by the same
  universal hash as the split/sample family (deterministic across runs
  and cluster sizes — no RNG state, no seed drift between executors).
- **unigram LM scoring** — the classic cheap quality signal: fit a
  unigram language model on the corpus itself, score each document by
  its mean negative log-likelihood.  Surprising documents (rare-word
  soup) score high, repetitive common-word documents score low.
- **Zipf fit** — corpus-level sanity diagnostic: regress log(freq) on
  log(rank) over the vocabulary; natural corpora give slopes near -1,
  so a drifting slope is a data-quality alarm for a corpus snapshot.

No reference counterpart (the reference's only text op is wc's
tokenizer, src/mrapps/wc.go:19-24); north-star LLM-pipeline additions
per the driver's BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..mapreduce.apps import GUTENBERG_GLOB
from ..plans.stitch import stitched_order
from ..registry import query
from ..sources import load_table
from .pipelines import _SPLIT_A_RED, _SPLIT_B, _SPLIT_P


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents", fan_out=True)


# --------------------------------------------------------------------------
# Leakage-safe grouped split: one split decision per source
# --------------------------------------------------------------------------
# Same universal hash as pipeline_train_val_test_split (pipelines.py),
# applied to the group key instead of the row key. 80/10/10.
_GS_HASH = (
    f"(({_SPLIT_A_RED} * (gk % {_SPLIT_P}) + {_SPLIT_B}) % {_SPLIT_P}) % 100"
)


@query(
    "pipeline_group_split",
    oracle=f"""
    WITH g AS (
      SELECT source, min(doc_id) AS gk, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source),
    s AS (
      SELECT CASE WHEN {_GS_HASH} < 80 THEN 'train'
                  WHEN {_GS_HASH} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             n_docs, chars
      FROM g)
    SELECT split, count(*) AS n_sources,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS total_chars
    FROM s GROUP BY split
    """,
)
def pipeline_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split decided per SOURCE group (80/10/10): every
    document of a source follows its group, so intra-source near-dups
    can never leak across the train/eval boundary.

    Scale: one map-side-combinable groupBy(source) produces one row per
    group; the split decision is a pure expression on the group key
    (min doc_id — stable under re-partitioning and engine choice); the
    final rollup is 3 rows. No windows, no joins, two shuffles total,
    both tiny after partial aggregation."""
    g = _docs(spark, sf_dir).groupBy("source").agg(
        F.min("doc_id").alias("gk"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )
    b = (
        (F.lit(_SPLIT_A_RED) * (F.col("gk") % _SPLIT_P) + F.lit(_SPLIT_B))
        % _SPLIT_P
    ) % 100
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return g.select(split.alias("split"), "n_docs", "chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# Quality-weighted deterministic sampling
# --------------------------------------------------------------------------
# weight(doc) = min(1, n_chars / 400): longer documents are kept with
# higher probability (a standard resampling lever — swap in any [0,1]
# quality score).  Acceptance: uniform01(doc_id) < weight, where
# uniform01 is the universal hash mapped to [0,1) — identical integer
# arithmetic in both engines, then ONE exact double division.
_WS_DEN = 400.0


@query(
    "pipeline_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT lang, n_chars,
             CAST((({_SPLIT_A_RED} * (doc_id % {_SPLIT_P}) + {_SPLIT_B})
                   % {_SPLIT_P}) AS DOUBLE) / {_SPLIT_P} AS u,
             CASE WHEN n_chars / {_WS_DEN} < 1.0
                  THEN n_chars / {_WS_DEN} ELSE 1.0 END AS w
      FROM documents)
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN u < w THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN u < w THEN n_chars ELSE 0 END) AS BIGINT)
             AS kept_chars
    FROM d GROUP BY lang
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling: keep each document with
    probability ``min(1, n_chars/400)`` using the universal-hash uniform
    (no RNG — the decision is a pure function of doc_id, so it is
    reproducible across runs, re-partitions, and engines).

    Scale: a narrow per-row expression followed by one map-side-
    combinable groupBy(lang) — the same shape at any corpus size.  At
    100 TB the weight column would come from an upstream quality score;
    the acceptance arithmetic is unchanged."""
    docs = _docs(spark, sf_dir)
    u = (
        (
            (F.lit(_SPLIT_A_RED) * (F.col("doc_id") % _SPLIT_P) + F.lit(_SPLIT_B))
            % _SPLIT_P
        ).cast("double")
        / _SPLIT_P
    )
    w = F.least(F.col("n_chars") / _WS_DEN, F.lit(1.0))
    kept = u < w
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


# --------------------------------------------------------------------------
# Unigram language-model document scoring
# --------------------------------------------------------------------------
_LM_N_OUT = 50  # score the query slice doc_id < 50 (bounded output)


@query(
    "text_unigram_logprob",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''),
    wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
    tot AS (SELECT sum(cnt) AS n FROM wc),
    scored AS (
      SELECT doc_id, -avg(ln(cnt / n)) AS nll
      FROM words, wc, tot WHERE words.w = wc.w
      GROUP BY doc_id)
    SELECT doc_id, round(nll, 4) AS avg_neg_logprob
    FROM scored WHERE doc_id < {_LM_N_OUT}
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality signal: fit word probabilities on the corpus
    itself, score each document by mean negative log-likelihood
    (documents of rare words score high; common-word boilerplate scores
    low).

    Scale: the vocabulary aggregate is map-side combinable; the fitted
    model (word → probability) is one row per vocab word and broadcasts
    (a df-capped web vocabulary is ≲100 MB — the same broadcast budget
    as the tf-idf idf table); the per-document average is a partial
    aggregation on the already doc_id-clustered explode output. One
    wide shuffle total (the vocab count)."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    total = wc.agg(F.sum("cnt").alias("n"))
    probs = wc.crossJoin(F.broadcast(total)).select(
        "w", (F.col("cnt") / F.col("n")).alias("p")
    )
    return (
        words.join(F.broadcast(probs), "w")
        .groupBy("doc_id")
        .agg(F.round(-F.avg(F.log("p")), 4).alias("avg_neg_logprob"))
        .filter(F.col("doc_id") < _LM_N_OUT)
    )


# --------------------------------------------------------------------------
# Zipf-law fit over the vocabulary
# --------------------------------------------------------------------------
@query(
    "text_zipf_fit",
    oracle="""
    WITH wc AS (
      SELECT w, count(*) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rnk FROM wc)
    SELECT count(*) AS n_vocab,
           round(regr_slope(ln(cnt), ln(rnk)), 4) AS zipf_slope,
           round(regr_r2(ln(cnt), ln(rnk)), 4) AS zipf_r2
    FROM ranked
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law diagnostic: regress log(frequency) on log(rank) over the
    vocabulary. Natural-language corpora give slopes near -1 with high
    r²; a drifting slope across corpus snapshots flags contamination by
    templated/generated text.

    Scale: the word count is the only wide shuffle (map-side
    combinable). The global rank runs as the STITCHED two-pass ordering
    (plans/stitch.py) — per-bucket row_number partitioned by the sampled
    range-bucket id plus a P-row offset stitch — never a single-
    partition sort of the vocabulary: word types grow with the corpus
    (Heaps beta 0.56 → ~3x10^8 types at 100 TB, multi-GB on one task
    under the naive global window; GWIN-checked). The regression itself
    is a one-pass distributive aggregate (regr_slope/regr_r2)."""
    docs = _docs(spark, sf_dir)
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    key = F.struct((-F.col("cnt")).alias("_nc"), F.col("w").alias("_w"))
    ranked = stitched_order(wc, key, rank_col="rnk")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.round(F.regr_slope(F.log("cnt"), F.log("rnk")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("cnt"), F.log("rnk")), 4).alias("zipf_r2"),
    )


# --------------------------------------------------------------------------
# Corpus mixture weights: capped-share rebalance plan per source
# --------------------------------------------------------------------------
# The mixture-design step of corpus assembly: no source may exceed
# MIX_CAP of the training mix; capped shares renormalize in one pass
# (c_i = min(share_i, CAP); target_i = c_i / sum(c)). planned_docs uses
# integer floor arithmetic against a fixed budget so the hash-compared
# column is engine-exact.
_MIX_CAP = 0.25
_MIX_BUDGET = 1000


@query(
    "pipeline_mixture_weights",
    oracle=f"""
    WITH g AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    s AS (
      SELECT source, n_docs,
             n_docs * 1.0 / sum(n_docs) OVER () AS nat_share,
             CASE WHEN n_docs * 1.0 / sum(n_docs) OVER () < {_MIX_CAP}
                  THEN n_docs * 1.0 / sum(n_docs) OVER ()
                  ELSE {_MIX_CAP} END AS capped
      FROM g)
    SELECT source, n_docs,
           round(nat_share, 4) AS natural_share,
           round(capped / sum(capped) OVER (), 4) AS target_share,
           CAST(floor(capped / sum(capped) OVER () * {_MIX_BUDGET}) AS BIGINT)
             AS planned_docs
    FROM s
    """,
)
def pipeline_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-design plan: clip any source's share at {25}% of the
    corpus mix, renormalize the clipped shares (single pass — a SOFT
    cap: renormalization can push a clipped source back above 25% when
    most of the corpus is clipped; exact caps would iterate the same
    two-window step to a fixed point), and emit each source's target
    share plus its integer document allocation for a fixed sampling
    budget — the anti-domination planning step that precedes a
    weighted-sample pass (pipeline_weighted_sample executes such
    plans).

    Scale: one map-side-combinable groupBy(source) reduces the corpus to
    one row per source; the share arithmetic is two windows over that
    tiny source table (≤ thousands of rows at web scale), never the
    corpus."""
    g = _docs(spark, sf_dir).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wall = W.partitionBy()
    nat = F.col("n_docs") / F.sum("n_docs").over(wall)
    capped = F.least(nat, F.lit(_MIX_CAP))
    s = g.select("source", "n_docs", nat.alias("nat_share"), capped.alias("capped"))
    tgt = F.col("capped") / F.sum("capped").over(wall)
    return s.select(
        "source",
        "n_docs",
        F.round("nat_share", 4).alias("natural_share"),
        F.round(tgt, 4).alias("target_share"),
        F.floor(tgt * _MIX_BUDGET).cast("long").alias("planned_docs"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility: BPE-ish tokens per whitespace word, by language
# --------------------------------------------------------------------------
# The standard multilingual-tokenizer health metric: how many subword
# tokens the pre-tokenizer spends per natural word. Languages the
# tokenizer serves poorly show high fertility — the signal used to
# rebalance vocab budgets. Reuses text.py's BPE pre-segmentation regex.
_BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


@query(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH d AS (
      SELECT lang,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS nw,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
               AS nb
      FROM documents)
    SELECT lang,
           CAST(sum(nw) AS BIGINT) AS n_words,
           CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
           round(CAST(sum(nb) AS DOUBLE) / sum(nw), 4) AS fertility
    FROM d GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens-per-word fertility by language: BPE-ish pre-tokenizer count
    over whitespace word count, aggregated per lang. High fertility =
    the tokenizer fragments that language's words — the metric that
    drives vocabulary rebalancing for multilingual corpora.

    Scale: two narrow regex/size expressions per row, then one map-side-
    combinable groupBy(lang) — integer partials, one tiny shuffle."""
    docs = _docs(spark, sf_dir)
    nw = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    nb = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0))
    return (
        docs.select("lang", nw.alias("nw"), nb.alias("nb"))
        .groupBy("lang")
        .agg(
            F.sum("nw").alias("n_words"),
            F.sum("nb").alias("n_bpe_tokens"),
            F.round(F.sum("nb").cast("double") / F.sum("nw"), 4).alias(
                "fertility"
            ),
        )
    )


# --------------------------------------------------------------------------
# Heaps-law fit: vocabulary growth V(T) ~ K * T^beta across the corpus —
# the companion diagnostic to text_zipf_fit (Zipf describes the frequency
# distribution at a point in time; Heaps describes how vocabulary GROWS
# as the corpus grows, the curve that predicts tokenizer OOV rates and
# vocab-size needs at 100x the data).
# --------------------------------------------------------------------------
_HEAPS_SAMPLES = 10  # decile sample points along the doc_id growth order


@query(
    "text_heaps_law",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''),
    dl AS (
      SELECT d.doc_id, coalesce(t.ntok, 0) AS ntok
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok
                 FROM toks GROUP BY doc_id) t ON t.doc_id = d.doc_id),
    nw AS (
      SELECT fdoc AS doc_id, CAST(count(*) AS BIGINT) AS new_words
      FROM (SELECT w, min(doc_id) AS fdoc FROM toks GROUP BY w)
      GROUP BY fdoc),
    cum AS (
      SELECT dl.doc_id,
             row_number() OVER (ORDER BY dl.doc_id) AS r,
             CAST(sum(dl.ntok) OVER (ORDER BY dl.doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             CAST(sum(coalesce(nw.new_words, 0)) OVER (ORDER BY dl.doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
      FROM dl LEFT JOIN nw ON nw.doc_id = dl.doc_id),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS d FROM dl),
    samples AS (
      SELECT * FROM cum, tot
      WHERE (r * {_HEAPS_SAMPLES}) // tot.d
            > ((r - 1) * {_HEAPS_SAMPLES}) // tot.d
        AND cum_tokens > 0 AND cum_vocab > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(ln(cum_vocab), ln(cum_tokens)), 4) AS heaps_beta,
           round(regr_intercept(ln(cum_vocab), ln(cum_tokens)), 4)
             AS heaps_intercept,
           round(regr_r2(ln(cum_vocab), ln(cum_tokens)), 4) AS heaps_r2,
           max(cum_tokens) AS n_tokens, max(cum_vocab) AS n_vocab
    FROM samples
    """,
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law fit: regress ln(cumulative vocabulary) on ln(cumulative
    tokens) at {s} decile sample points along the deterministic doc_id
    growth order.  beta near 0.5 is the natural-language signature; beta
    drifting toward 0 flags a corpus going repetitive (templated or
    deduplicatable), toward 1 random noise.

    Plan shape: word counts and first-occurrence docs are map-side
    combinable aggregates; the cumulative pass is the STITCHED two-pass
    ordering (plans/stitch.py) over the per-doc table joined EQUI
    (first-occurrence counts per doc — no inequality join against the
    sample points) — per-doc_id-bucket windows plus a P-row offset
    stitch, never a single-partition sort of the doc table (docs grow
    with the corpus; GWIN-checked); the regression runs over {s} rows.
    The only corpus-sized work is the token explode.
    """.format(s=_HEAPS_SAMPLES)
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    dl = (
        docs.select("doc_id")
        .join(
            toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ntok")),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("ntok", F.lit(0)).alias("ntok"))
    )
    nw = (
        toks.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    cum = stitched_order(
        dl.join(nw, "doc_id", "left").select(
            "doc_id", "ntok", F.coalesce("new_words", F.lit(0)).alias("_nws")
        ),
        F.col("doc_id"),
        rank_col="r",
        sum_cols={"ntok": "cum_tokens", "_nws": "cum_vocab"},
    ).select("doc_id", "r", "cum_tokens", "cum_vocab")
    tot = dl.agg(F.count(F.lit(1)).alias("d"))
    samples = (
        cum.crossJoin(F.broadcast(tot))
        .filter(
            (
                F.floor(F.col("r") * _HEAPS_SAMPLES / F.col("d"))
                > F.floor((F.col("r") - 1) * _HEAPS_SAMPLES / F.col("d"))
            )
            & (F.col("cum_tokens") > 0)
            & (F.col("cum_vocab") > 0)
        )
    )
    x = F.log("cum_tokens")
    y = F.log("cum_vocab")
    return samples.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.regr_slope(y, x), 4).alias("heaps_beta"),
        F.round(F.regr_intercept(y, x), 4).alias("heaps_intercept"),
        F.round(F.regr_r2(y, x), 4).alias("heaps_r2"),
        F.max("cum_tokens").alias("n_tokens"),
        F.max("cum_vocab").alias("n_vocab"),
    )


@query(
    "text_heaps_law_gutenberg",
    oracle=rf"""
    WITH toks AS (
      SELECT filename AS f, w FROM (
        SELECT filename, unnest(string_split_regex(content, '[^\pL]+')) AS w
        FROM read_text('{GUTENBERG_GLOB}'))
      WHERE w <> ''),
    dl AS (SELECT f, CAST(count(*) AS BIGINT) AS ntok FROM toks GROUP BY f),
    nw AS (
      SELECT ff AS f, CAST(count(*) AS BIGINT) AS new_words
      FROM (SELECT w, min(f) AS ff FROM toks GROUP BY w)
      GROUP BY ff),
    cum AS (
      SELECT row_number() OVER (ORDER BY dl.f) AS r,
             CAST(sum(dl.ntok) OVER (ORDER BY dl.f
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             CAST(sum(coalesce(nw.new_words, 0)) OVER (ORDER BY dl.f
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
      FROM dl LEFT JOIN nw ON nw.f = dl.f)
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(ln(cum_vocab), ln(cum_tokens)), 4) AS heaps_beta,
           round(regr_intercept(ln(cum_vocab), ln(cum_tokens)), 4)
             AS heaps_intercept,
           round(regr_r2(ln(cum_vocab), ln(cum_tokens)), 4) AS heaps_r2,
           max(cum_tokens) AS n_tokens, max(cum_vocab) AS n_vocab
    FROM cum
    """,
)
def text_heaps_law_gutenberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law fit over the reference's REAL 8-book Gutenberg corpus
    (every book a sample point, growth order = filename): natural text
    shows the textbook sub-linear vocabulary growth the synthetic
    31-word corpus cannot (text_heaps_law there measures saturation —
    beta 0 — correctly but degenerately).  Tokenizer matches the wc
    parity queries (split on non-letters, case-sensitive); input streams
    through the wholetext data source, the oracle re-reads the same
    files via read_text.  Without the books it fits their generated
    stand-in (``textcorpus.corpus_glob``).  ``sf_dir`` unused — the
    corpus is fixed."""
    from ..sources.textfiles import read_whole_text_source

    toks = (
        read_whole_text_source(spark, GUTENBERG_GLOB)
        .select(
            F.col("file").alias("f"),
            F.explode(F.split("content", r"[^\p{L}]+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    dl = toks.groupBy("f").agg(F.count(F.lit(1)).alias("ntok"))
    nw = (
        toks.groupBy("w")
        .agg(F.min("f").alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    wp = W.partitionBy(F.lit(0)).orderBy("f")
    cum = (
        dl.join(nw, "f", "left")
        .select(
            F.sum("ntok").over(wp.rowsBetween(W.unboundedPreceding, 0)).alias(
                "cum_tokens"
            ),
            F.sum(F.coalesce("new_words", F.lit(0)))
            .over(wp.rowsBetween(W.unboundedPreceding, 0))
            .alias("cum_vocab"),
        )
    )
    x = F.log("cum_tokens")
    y = F.log("cum_vocab")
    return cum.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.regr_slope(y, x), 4).alias("heaps_beta"),
        F.round(F.regr_intercept(y, x), 4).alias("heaps_intercept"),
        F.round(F.regr_r2(y, x), 4).alias("heaps_r2"),
        F.max("cum_tokens").alias("n_tokens"),
        F.max("cum_vocab").alias("n_vocab"),
    )


# --------------------------------------------------------------------------
# EXACT capped mixture weights — the fixed point the soft-cap op
# (pipeline_mixture_weights) documents as "would iterate": clipped
# sources sit at EXACTLY the cap and the remainder redistributes
# proportionally among the unclipped (water-filling).  Closed form, no
# iteration: sort by share, the unique consistent clip count k falls out
# of integer prefix-sum conditions.  Cap = 1/4 as an exact rational so
# every clip decision is an INTEGER comparison — no float boundary.
# --------------------------------------------------------------------------
_MIXX_CAP_NUM = 1
_MIXX_CAP_DEN = 4
_MIXX_BUDGET = 1000


@query(
    "pipeline_mixture_weights_exact",
    oracle=f"""
    WITH g AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(count(*) AS BIGINT) AS m FROM g),
    ranked AS (
      SELECT lang, n,
             row_number() OVER (ORDER BY n DESC, lang) AS r,
             CAST(sum(n) OVER (ORDER BY n DESC, lang
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
      FROM g),
    -- candidate clip counts 0..m with the unclipped mass U_k = nn - pre_k;
    -- k is consistent iff the k-th source deserves the cap and the
    -- (k+1)-th does not EXCEED it: n_k*(CD-k) >= U_k and
    -- n_(k+1)*(CD-k) <= U_k (equality = exactly at cap, valid as
    -- unclipped; smallest consistent k wins)
    cand AS (
      SELECT 0 AS k, tot.nn AS u, NULL AS nk,
             (SELECT n FROM ranked WHERE r = 1) AS nk1
      FROM tot
      UNION ALL
      SELECT r AS k, tot.nn - pre AS u, n AS nk,
             lead(n) OVER (ORDER BY r) AS nk1
      FROM ranked, tot),
    chosen AS (
      SELECT k, u FROM cand, tot
      WHERE k < {_MIXX_CAP_DEN}
        AND (k = 0 OR nk * ({_MIXX_CAP_DEN} - k) >= u)
        AND (nk1 IS NULL OR nk1 * ({_MIXX_CAP_DEN} - k) <= u)
      ORDER BY k LIMIT 1)
    SELECT ranked.lang, ranked.n AS n_docs,
           round(ranked.n * 1.0 / tot.nn, 4) AS natural_share,
           ranked.r <= chosen.k AS is_clipped,
           round(CASE WHEN ranked.r <= chosen.k
                      THEN {_MIXX_CAP_NUM} * 1.0 / {_MIXX_CAP_DEN}
                      ELSE ranked.n * ({_MIXX_CAP_DEN} - chosen.k) * 1.0
                           / ({_MIXX_CAP_DEN} * chosen.u) END, 4)
             AS target_share,
           CASE WHEN ranked.r <= chosen.k
                THEN {_MIXX_BUDGET} * {_MIXX_CAP_NUM} // {_MIXX_CAP_DEN}
                ELSE ({_MIXX_BUDGET} * ranked.n * ({_MIXX_CAP_DEN} - chosen.k))
                     // ({_MIXX_CAP_DEN} * chosen.u) END AS planned_docs
    FROM ranked, chosen, tot
    """,
)
def pipeline_mixture_weights_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 25%-capped mixture over languages: clipped languages receive
    EXACTLY the cap, the rest share the remaining mass proportionally —
    the water-filling fixed point, found in closed form: sort shares
    descending, the chosen clip count k satisfies the integer conditions
    n_k*(4-k) >= U_k >= n_(k+1)*(4-k) (U_k = unclipped doc mass), so no
    clip decision ever compares floats.  Integer-floor document
    allocations against a {b}-doc budget ride along.

    Scale: one groupBy(lang) reduces the corpus to one row per language;
    everything after runs on that tiny table (two windows + a LIMIT-1
    candidate pick).  The en-heavy corpus genuinely clips (en at ~44%
    natural share -> pinned at exactly 0.25).
    """.format(b=_MIXX_BUDGET)
    g = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = g.agg(F.sum("n").alias("nn"), F.count(F.lit(1)).alias("m"))
    wr = W.partitionBy(F.lit(0)).orderBy(F.col("n").desc(), F.col("lang"))
    ranked = g.select(
        "lang",
        "n",
        F.row_number().over(wr).alias("r"),
        F.sum("n").over(wr.rowsBetween(W.unboundedPreceding, 0)).alias("pre"),
    )
    CD = _MIXX_CAP_DEN
    first_n = ranked.filter(F.col("r") == 1).select(F.col("n").alias("nk1"))
    cand0 = (
        tot.crossJoin(F.broadcast(first_n))
        .select(
            F.lit(0).alias("k"),
            F.col("nn").alias("u"),
            F.lit(None).cast("long").alias("nk"),
            "nk1",
        )
    )
    wl = W.partitionBy(F.lit(0)).orderBy("r")
    candk = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.col("r").alias("k"),
            (F.col("nn") - F.col("pre")).alias("u"),
            F.col("n").alias("nk"),
            F.lead("n").over(wl).alias("nk1"),
        )
    )
    chosen = (
        cand0.unionByName(candk)
        .filter(
            (F.col("k") < CD)
            & ((F.col("k") == 0) | (F.col("nk") * (CD - F.col("k")) >= F.col("u")))
            # <= not <: a source sitting EXACTLY at the cap is valid as
            # unclipped (its proportional weight equals the cap); the
            # strict form rejected every candidate k on such corpora
            # (e.g. four equal shares) and returned an EMPTY mixture.
            # At exact boundaries two adjacent k are both consistent
            # with identical weights; ORDER BY k LIMIT 1 picks the
            # smallest deterministically.
            & (
                F.col("nk1").isNull()
                | (F.col("nk1") * (CD - F.col("k")) <= F.col("u"))
            )
        )
        .orderBy("k")
        .limit(1)
        .select("k", "u")
    )
    clipped = F.col("r") <= F.col("k")
    return (
        ranked.crossJoin(F.broadcast(chosen))
        .crossJoin(F.broadcast(tot.select("nn")))
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.round(F.col("n") * 1.0 / F.col("nn"), 4).alias("natural_share"),
            clipped.alias("is_clipped"),
            F.round(
                F.when(clipped, F.lit(_MIXX_CAP_NUM / _MIXX_CAP_DEN)).otherwise(
                    F.col("n") * (CD - F.col("k")) * 1.0 / (CD * F.col("u"))
                ),
                4,
            ).alias("target_share"),
            F.when(
                clipped, F.lit(_MIXX_BUDGET * _MIXX_CAP_NUM // _MIXX_CAP_DEN)
            )
            .otherwise(
                F.floor(
                    (_MIXX_BUDGET * F.col("n") * (CD - F.col("k")))
                    / (CD * F.col("u"))
                )
            )
            .cast("long")
            .alias("planned_docs"),
        )
    )


# --------------------------------------------------------------------------
# Cluster-safe train/val/test split: the split decision rides the NEAR-DUP
# CLUSTER (connected components of the n-gram-Jaccard pair graph), so a
# document can never land in train while its near-duplicate sits in test
# — the leakage mode a doc-level OR source-level split misses (near-dups
# cross sources).  The output contrasts the two policies: the doc-level
# hash split on the same population straddles a measurable number of
# clusters; the cluster-keyed split straddles zero by construction (both
# counted from the data, not asserted).
# --------------------------------------------------------------------------


def _csplit_hash(col: str) -> str:
    return f"(({_SPLIT_A_RED} * ({col} % {_SPLIT_P}) + {_SPLIT_B}) % {_SPLIT_P}) % 100"


@query(
    "pipeline_cluster_safe_split",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(len(string_split(text, ' ')) - 2),
               i -> string_split(text, ' ')[i+1] || ' ' ||
                    string_split(text, ' ')[i+2] || ' ' ||
                    string_split(text, ' ')[i+3])) AS shingles
      FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.05
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc_id, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst
    ),
    labels AS (
      SELECT d.doc_id,
             coalesce(m.cluster_id, d.doc_id) AS cluster_id
      FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
      LEFT JOIN (SELECT doc_id, min(lbl) AS cluster_id
                 FROM reach GROUP BY doc_id) m ON m.doc_id = d.doc_id),
    assigned AS (
      SELECT doc_id, cluster_id,
             CASE WHEN {_csplit_hash('cluster_id')} < 80 THEN 'train'
                  WHEN {_csplit_hash('cluster_id')} < 90 THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN {_csplit_hash('doc_id')} < 80 THEN 'train'
                  WHEN {_csplit_hash('doc_id')} < 90 THEN 'val'
                  ELSE 'test' END AS naive_split
      FROM labels),
    straddle AS (
      SELECT
        CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS straddling_cluster_policy,
        CAST(sum(CASE WHEN n_naive > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS straddling_doc_policy
      FROM (SELECT cluster_id,
                   count(DISTINCT split) AS n_splits,
                   count(DISTINCT naive_split) AS n_naive
            FROM assigned GROUP BY cluster_id
            HAVING count(*) > 1))
    SELECT a.split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT a.cluster_id) AS BIGINT) AS n_clusters,
           s.straddling_cluster_policy, s.straddling_doc_policy
    FROM assigned a, straddle s
    GROUP BY a.split, s.straddling_cluster_policy, s.straddling_doc_policy
    """,
)
def pipeline_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split keyed on the NEAR-DUP CLUSTER id (connected
    components of the n-gram-Jaccard graph, doc_id < 200; singletons are
    their own cluster): per-split membership plus, measured from the
    data, how many multi-doc clusters straddle a split boundary under
    this policy (zero by construction) versus under the naive doc-hash
    policy (the leakage a per-doc split silently ships to eval).

    Scale: cluster labels come from the star-contraction CC
    (``dedup2.cc_two_phase`` — O(log n) checkpointed rounds);
    the split decision is a pure integer hash of the cluster id, and
    the straddle audit is one groupBy over cluster-sized rows."""
    from .dedup import dedup_ngram_jaccard
    from .dedup2 import cc_two_phase

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select("doc_id")
    pairs = dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    labels = cc_two_phase(pairs)
    assigned = docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )

    def split_of(col: str) -> F.Column:
        b = (
            F.lit(_SPLIT_A_RED) * (F.col(col) % _SPLIT_P) + F.lit(_SPLIT_B)
        ) % _SPLIT_P % 100
        return F.when(b < 80, "train").when(b < 90, "val").otherwise("test")

    assigned = assigned.select(
        "doc_id",
        "cluster_id",
        split_of("cluster_id").alias("split"),
        split_of("doc_id").alias("naive_split"),
    )
    straddle = (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.countDistinct("split").alias("n_splits"),
            F.countDistinct("naive_split").alias("n_naive"),
        )
        .filter(F.col("sz") > 1)
        .agg(
            F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
            .cast("long")
            .alias("straddling_cluster_policy"),
            F.sum(F.when(F.col("n_naive") > 1, 1).otherwise(0))
            .cast("long")
            .alias("straddling_doc_policy"),
        )
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(straddle))
    )
