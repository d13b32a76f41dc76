"""Deduplication operators for training-data pipelines over ``documents``
and ``embeddings``: exact (hash groupBy), normalized-exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

No reference counterpart — north-star LLM-pipeline additions
(BASELINE.json). Scale design:

- exact dedup is ONE shuffle keyed on a 128-bit content hash — the only
  formulation that survives 100 TB (never compare full texts pairwise);
- n-gram Jaccard avoids the O(n^2) cross join by exploding shingles and
  self-joining on the shingle (candidate pairs only materialize for docs
  that share >= 1 shingle), then computes |A∩B| / |A∪B| from group counts;
- MinHash+LSH replaces the shingle join with a banded-signature bucket
  join: candidates only for docs agreeing on one full band — the standard
  sub-quadratic near-dup pipeline (Broder '97 / MMDS ch.3);
- SimHash is a 64-bit per-doc fingerprint (Charikar '02): near-dup
  candidates share prefix buckets; here computed entirely with native
  expressions.

Token hashing is the engine-portable char-fold polynomial (h = (h*m + c)
mod 2^32) in BOTH engines, so the full MinHash-LSH and SimHash pipelines
are oracle-checked end to end (signature build, banding, candidate
generation, estimated Jaccard / fingerprint assembly).  In production the
fold swaps for `xxhash64` (JVM-intrinsic, ~2× faster token hashing) with
an identical plan shape — the swap is one line in `_shingle_hashes` /
`dedup_simhash` and changes no operator structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_PRIME, minhash_perm_params
from ..registry import query
from ..sources import load_table

N_PERM = 32
BAND_SIZE = 4  # 8 bands x 4 rows
_M32 = 4294967296  # 2^32 — the char-fold / shingle-mix modulus


def charfold_spark(var: str = "t", seed: int = 7, mult: int = 31) -> str:
    """Spark SQL expression: char-fold polynomial hash of string ``var``
    (h = (h*mult + codepoint) mod 2^32).  Deterministic and identical in
    DuckDB (see :func:`charfold_duck`) — the portable token hash that
    makes the whole dedup family oracle-checkable."""
    # split(s, '') walks chars in one pass (split('') == [''], whose
    # ascii is 0 — same as the substring walk's greatest(len,1) clamp);
    # an index-based substring(s, i, 1) walk is O(len²) per token and
    # measured ~20% slower over the corpus, with identical values.
    return (
        f"aggregate(transform(split({var}, ''),"
        f" ch -> CAST(ascii(ch) AS BIGINT)),"
        f" CAST({seed} AS BIGINT), (h, c) -> (h * {mult} + c) % {_M32})"
    )


def charfold_duck(var: str = "t", seed: int = 7, mult: int = 31) -> str:
    """DuckDB twin of :func:`charfold_spark` (list_reduce over codepoints)."""
    return (
        f"list_reduce(list_prepend(CAST({seed} AS BIGINT),"
        f" list_transform(range(1, greatest(length({var}), 1) + 1),"
        f" i -> CAST(ascii(substr({var}, i, 1)) AS BIGINT))),"
        f" (h, c) -> (h * {mult} + c) % {_M32})"
    )


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id + distinct word n-gram shingles (array<string>).

    Tokens are materialized as a column FIRST — inlining split() into the
    transform lambda would re-split the text once per shingle (quadratic
    per document)."""
    return (
        df.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.array_distinct(
                # docs shorter than n tokens have NO shingles (a bare
                # greatest(...) floor would emit one PARTIAL shingle the
                # SQL oracles' generate_series(1, len - n + 1) never
                # produces — latent cross-engine divergence on short docs)
                F.expr(
                    f"CASE WHEN size(toks) < {n}"
                    f" THEN CAST(array() AS ARRAY<STRING>)"
                    f" ELSE transform(sequence(0, size(toks) - {n}),"
                    f" i -> concat_ws(' ', slice(toks, i + 1, {n}))) END"
                )
            ).alias("shingles"),
        )
        .withColumn("n_shingles", F.size("shingles"))
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content hash, keep lowest doc_id as
    canonical. One shuffle on a 16-byte key regardless of document size."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return docs.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS norm_hash,
           min(doc_id) AS canonical_doc_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    normalized = F.trim(F.lower(F.regexp_replace("text", r"\s+", " ")))
    return docs.groupBy(F.md5(normalized).alias("norm_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
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
    )
    SELECT doc_a, doc_b,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard for candidate pairs, via shingle
    self-join (NOT a cross join): pairs only materialize for docs sharing
    a shingle, and |A∪B| = |A| + |B| - |A∩B| comes from group counts.
    Restricted to doc_id < 200 to bound the oracle's work; the plan shape
    is the scale path (shingle join ≈ inverted index join)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("doc_id") < 200
    )
    sh = _shingles(docs)
    sizes = sh.select("doc_id", F.col("n_shingles").alias("n"))
    exploded = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_common") / (F.col("sa.n") + F.col("sb.n") - F.col("n_common"))
    return (
        common.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= 0.05)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


_SPAN_MIN_TOKENS = 8
# 1000 covers the whole doc table at sf<=0.01 and the first fifth at
# sf0.1 — where the planted near-dup pairs live (non-vacuous at all SFs)
_SPAN_MAX_DOC = 1000


@query(
    "dedup_repeated_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < {_SPAN_MAX_DOC}),
    pos AS (
      SELECT doc_id, p,
             toks[p + 1] || ' ' || toks[p + 2] || ' ' || toks[p + 3] AS s
      FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS p
            FROM toks WHERE len(toks) >= 3)),
    matched AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.p AS pa, a.p - b.p AS diag
      FROM pos a JOIN pos b
        ON a.s = b.s AND a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS grp
      FROM matched),
    islands AS (
      SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS run_len
      FROM runs GROUP BY doc_a, doc_b, diag, grp),
    spans AS (
      SELECT doc_a, doc_b,
             CAST(max(run_len) + 2 AS BIGINT) AS longest_span_tokens
      FROM islands GROUP BY doc_a, doc_b),
    shared AS (
      SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_shared_positions
      FROM matched GROUP BY doc_a, doc_b)
    SELECT s.doc_a, s.doc_b, s.longest_span_tokens, h.n_shared_positions
    FROM spans s JOIN shared h
      ON h.doc_a = s.doc_a AND h.doc_b = s.doc_b
    WHERE s.longest_span_tokens >= {_SPAN_MIN_TOKENS}
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring duplication between documents — the repeated-span
    metric behind exact-substring dedup (Lee et al. '21, "Deduplicating
    Training Data Makes Language Models Better"), relationally: longest
    shared TOKEN span per candidate pair, no suffix array needed.

    Positioned word-3-grams self-join on the shingle STRING (candidate
    pairs only materialize for docs sharing a trigram — the inverted
    index join, never all pairs), then matched positions group by the
    alignment DIAGONAL (pa - pb) and consecutive-run islands are found
    with the classic gaps-and-islands trick (pa - row_number); a run of
    k consecutive matching trigram starts = a shared span of k+2 tokens.
    Emits pairs whose longest span >= {m} tokens.

    Scale: the shingle join is the same bucketed candidate generation as
    dedup_ngram_jaccard; the island window runs per (pair, diagonal) —
    bounded by document length, never corpus size.  At 100 TB the
    shingle index would be salted on hot (boilerplate) shingles; doc_id
    < {d} bounds the oracle's work here.
    """.format(m=_SPAN_MIN_TOKENS, d=_SPAN_MAX_DOC)
    docs = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("doc_id") < _SPAN_MAX_DOC
    )
    pos = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> struct(CAST(i AS BIGINT) AS p,"
                    " concat_ws(' ', slice(toks, i + 1, 3)) AS s))"
                )
            ).alias("x"),
        )
        .select("doc_id", "x.p", "x.s")
    )
    a, b = pos.alias("a"), pos.alias("b")
    matched = a.join(
        b,
        (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.p").alias("pa"),
        (F.col("a.p") - F.col("b.p")).alias("diag"),
    )
    w = W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = matched.withColumn("grp", F.col("pa") - F.row_number().over(w))
    islands = runs.groupBy("doc_a", "doc_b", "diag", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    spans = islands.groupBy("doc_a", "doc_b").agg(
        (F.max("run_len") + F.lit(2)).cast("long").alias("longest_span_tokens")
    )
    shared = matched.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_positions")
    )
    return (
        spans.join(shared, ["doc_a", "doc_b"])
        .filter(F.col("longest_span_tokens") >= _SPAN_MIN_TOKENS)
        .select("doc_a", "doc_b", "longest_span_tokens", "n_shared_positions")
    )


def _shingle_hashes(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id + distinct 32-bit hashes of word n-gram shingles, computed
    WITHOUT ever materializing shingle strings: hash each token once
    (portable char fold → 32-bit), then mix n consecutive token hashes
    with integer arithmetic. Saves the per-shingle slice+concat string
    allocations and hashes each token once instead of n times, and the
    only consumer (MinHash) needs hashes only. Stays in int64:
    coefficients < 2^20 × values < 2^32.  Production swaps the char fold
    for ``pmod(xxhash64(t), 4294967296)`` — same plan, faster hashing."""
    return (
        df.select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            F.expr(f"transform(toks, t -> {charfold_spark('t')})").alias("th"),
        )
        .select(
            "doc_id",
            F.expr(
                f"array_distinct(transform(sequence(0, greatest(size(th) - {n}, 0)),"
                " i -> (element_at(th, i + 1) * 1048573"
                " + element_at(th, least(i + 2, size(th))) * 8191"
                f" + element_at(th, least(i + 3, size(th)))) % {_M32}))"
            ).alias("hashes"),
        )
    )


_LSH_MAX_BUCKET = 200


def _lsh_bands(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shingle-hash -> MinHash signature -> banded bucket assignment.
    Returns ``(sigs, bands)``: checkpointed (doc_id, sig) plus the exploded
    (doc_id, sig, band_id, bucket) rows the candidate generator groups.

    NOTE: no size(hashes)>0 filter — _shingle_hashes always yields ≥1
    hash (clamped sequence), and a filter on a computed array column
    gets alias-substituted + pushed below the project by Catalyst,
    re-evaluating the whole nested transform per row (O(len²) per doc —
    measured 8s vs 0.2s at sf0.1).

    Signature build is ONE fold over the hash array with an N_PERM-wide
    accumulator (zip_with against the literal perm table), instead of
    N_PERM separate array_min(transform(...)) passes — same arithmetic,
    one pass over the data and a 2-lambda expression tree instead of 32
    (cuts both runtime and codegen compile time). Hashes are already
    32-bit (see _shingle_hashes), so a*h + b stays inside int64 with no
    per-perm pmod.

    sigs feeds three consumers (band explode + both sides of the verify
    join) — checkpointed so the shingle+signature pass runs once. Tiny:
    N_PERM longs per doc (~256 B/doc, ~25 GB per 100M docs across a
    cluster — the standard materialize-signatures step).

    Band bucket = char-fold of the band's signature values (portable
    integer arithmetic, same fold as the oracle) — replaces murmur3
    F.hash so the bucket assignment itself is cross-engine-checked.
    """
    hashed = _shingle_hashes(docs)
    perm_arr = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in minhash_perm_params(N_PERM)
        ]
    )
    init = F.array_repeat(F.lit(MERSENNE_PRIME).cast("long"), N_PERM)
    sig_fold = F.aggregate(
        "hashes",
        init,
        lambda acc, h: F.zip_with(
            acc,
            perm_arr,
            lambda m, p: F.least(m, (p["a"] * h + p["b"]) % F.lit(MERSENNE_PRIME)),
        ),
    )
    sigs = hashed.select("doc_id", sig_fold.alias("sig")).localCheckpoint()
    n_bands = N_PERM // BAND_SIZE
    bucket_of = lambda band: F.aggregate(  # noqa: E731
        F.slice("sig", band * BAND_SIZE + 1, BAND_SIZE),
        F.lit(7).cast("long"),
        lambda h, x: (h * 31 + x) % F.lit(_M32),
    )
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band_id"),
                        bucket_of(band).alias("bucket"),
                    )
                    for band in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sig", "b.band_id", "b.bucket")
    return sigs, bands


def _lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Capped intra-bucket candidate generation over ``(doc_id, band_id,
    bucket)`` rows: group each (band, bucket) and emit pairs from the
    collected id list — one shuffle keyed on the bucket, no skew-prone
    self-join.  ``_LSH_MAX_BUCKET`` caps degenerate buckets (boilerplate/
    empty docs): a bucket of B docs yields B^2/2 pairs, so at 100 TB an
    uncapped hot bucket is THE failure mode; capped buckets lose only
    candidates that other bands still recover.  The cap is load-bearing:
    tests/test_skew_stress.py builds a boilerplate-heavy corpus whose
    hottest bucket far exceeds the cap and pins the candidate count."""
    return (
        bands.groupBy("band_id", "bucket")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= _LSH_MAX_BUCKET))
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ids, x -> transform(ids, y -> "
                    "struct(least(x, y) AS a, greatest(x, y) AS b)))), "
                    "p -> p.a < p.b)"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _lsh_bucket_duck(cols: list[str]) -> str:
    """DuckDB band-bucket fold over the band's signature values — same
    arithmetic as the Spark ``F.aggregate`` over the sig slice."""
    e = "CAST(7 AS BIGINT)"
    for c in cols:
        e = f"(({e}) * 31 + {c}) % {_M32}"
    return e


def _lsh_oracle() -> str:
    perms = minhash_perm_params(N_PERM)
    sig_cols = ",\n             ".join(
        f"list_min(list_transform(hashes, x ->"
        f" (CAST({a} AS BIGINT) * x + {b}) % {MERSENNE_PRIME})) AS s{k}"
        for k, (a, b) in enumerate(perms)
    )
    n_bands = N_PERM // BAND_SIZE
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {j} AS band_id,"
        f" {_lsh_bucket_duck([f's{BAND_SIZE * j + r}' for r in range(BAND_SIZE)])}"
        f" AS bucket FROM sigs"
        for j in range(n_bands)
    )
    agree = " + ".join(f"CAST(sa.s{k} = sb.s{k} AS INT)" for k in range(N_PERM))
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    th AS (
      SELECT doc_id, list_transform(toks, t -> {charfold_duck('t')}) AS th
      FROM toks),
    h AS (
      SELECT doc_id,
             list_distinct(list_transform(range(greatest(len(th) - 2, 1)),
               i -> (th[i + 1] * 1048573
                     + th[least(i + 2, len(th))] * 8191
                     + th[least(i + 3, len(th))]) % {_M32})) AS hashes
      FROM th),
    sigs AS (
      SELECT doc_id,
             {sig_cols}
      FROM h),
    bands AS (
{band_rows}),
    sized AS (
      SELECT doc_id, band_id, bucket,
             count(*) OVER (PARTITION BY band_id, bucket) AS bsz
      FROM bands),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sized a JOIN sized b
        ON a.band_id = b.band_id AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id
      WHERE a.bsz <= {_LSH_MAX_BUCKET})
    SELECT p.doc_a, p.doc_b,
           round(({agree}) / {N_PERM}.0, 4) AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    WHERE ({agree}) / {N_PERM}.0 >= 0.5
    """


@query("dedup_minhash_lsh", oracle=_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → portable token hash →
    N_PERM universal-hash minima → 8 banded signatures → bucket join →
    verified estimated Jaccard (signature agreement rate).

    Everything is native expressions (char fold, transform, aggregate) —
    the signature build is a single narrow pass; the only shuffle is the
    band-bucket groupBy. At 100 TB: bands partition the candidate space so
    no executor ever sees more than one bucket's docs; skewed buckets
    (boilerplate docs) would be salted or capped.

    The ENTIRE pipeline is oracle-checked (hashing → signatures → band
    buckets → candidate pairs → estimated Jaccard) because both the token
    hash and the band-bucket fold are engine-portable integer arithmetic;
    production swaps the token fold for xxhash64 (one line in
    `_shingle_hashes`) with no plan change.  Planted-duplicate behavior is
    additionally covered in tests/test_dedup.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs, bands = _lsh_bands(docs)
    pairs = _lsh_candidate_pairs(bands)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est_jaccard = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(N_PERM)
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(est_jaccard, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
    )


# Two independent 32-bit char folds supply the 64 simhash bits (low word
# from fold B, high word from fold A) — a single portable fold only has 32
# bits of entropy, and a 64-bit fold would overflow int64 mid-fold.
_SIMHASH_FOLD_A = (7, 31)  # bits 32..63
_SIMHASH_FOLD_B = (31, 131)  # bits 0..31


def _simhash_oracle() -> str:
    sa, ma = _SIMHASH_FOLD_A
    sb, mb = _SIMHASH_FOLD_B
    votes = ",\n             ".join(
        f"sum(CASE WHEN ((h{'a' if i >= 32 else 'b'} >> {i - 32 if i >= 32 else i})"
        f" & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    low63 = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for i in range(63)
    )
    # bit 63 as the two's-complement offset (BIGINT cannot hold +2^63)
    sign = "CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
    prefix = " + ".join(
        f"CASE WHEN v{48 + j} > 0 THEN CAST({1 << j} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END"
        for j in range(16)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, t
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents) u
      WHERE t <> ''),
    h AS (
      SELECT doc_id,
             {charfold_duck('t', sa, ma)} AS ha,
             {charfold_duck('t', sb, mb)} AS hb
      FROM toks),
    votes AS (
      SELECT doc_id,
             {votes}
      FROM h GROUP BY doc_id)
    SELECT doc_id,
           ({sign}) + ({low63}) AS simhash,
           {prefix} AS prefix16
    FROM votes
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit fingerprint per doc, fully JVM-side: distinct token
    → two portable 32-bit char folds (low/high word) → per-bit +/-1 vote
    → sign → bit assembly. Emits the fingerprint plus a 16-bit prefix
    bucket (the LSH probe key for hamming-near candidates).

    Oracle-checked end to end — the folds, votes, and two's-complement
    bit assembly are identical integer arithmetic in DuckDB.  Production
    swaps the folds for xxhash64 (all 64 bits from one JVM-intrinsic
    hash) with the same vote/assembly plan.  Planted-duplicate behavior
    covered in tests."""
    docs = load_table(spark, sf_dir, "documents")
    sa_, ma = _SIMHASH_FOLD_A
    sb_, mb = _SIMHASH_FOLD_B
    toks = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
        )
        .filter(F.col("tok") != "")
        .select(
            "doc_id",
            F.expr(charfold_spark("tok", sa_, ma)).alias("ha"),
            F.expr(charfold_spark("tok", sb_, mb)).alias("hb"),
        )
    )
    bit_votes = [
        F.sum(
            F.when(
                F.shiftright(
                    F.col("ha") if i >= 32 else F.col("hb"),
                    i - 32 if i >= 32 else i,
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"bit_{i}")
        for i in range(64)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    simhash = None
    for i in range(64):
        bit = F.when(F.col(f"bit_{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        simhash = term if simhash is None else simhash.bitwiseOR(term)
    return votes.select(
        "doc_id",
        simhash.alias("simhash"),
        F.shiftrightunsigned(simhash, 48).alias("prefix16"),
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 500
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above threshold. Brute-force pair
    enumeration bounded to vec_id < 500 for the oracle; the scale path is
    the LSH/IVF bucketing in operators/similarity.py (this query is the
    verifier those candidates feed)."""
    from ..functions.vector import dot, norm

    emb = (
        load_table(spark, sf_dir, "embeddings", fan_out=True)
        .filter(F.col("vec_id") < 500)
        .select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # norms precomputed per side: 1 fold per pair (dot) instead of 3
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= 0.4)
        .select("vec_a", "vec_b", F.round("cos_sim_raw", 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Cross-engine MinHash: same integer arithmetic in Spark and DuckDB, so the
# WHOLE LSH pipeline (hashing → signatures → banding → candidate pairs →
# estimated Jaccard) is oracle-checked — complementing dedup_minhash_lsh,
# whose xxhash64 is engine-specific (rows-only). Token hash is a char-fold
# polynomial (h = (h*31 + codepoint) mod 2^32, seed 7); everything after is
# the standard minhash math with the shared perm table.

X_N_PERM = 8
X_BAND_ROWS = 2  # 4 bands x 2 rows
X_MAX_DOC = 500
_XPERMS = minhash_perm_params(X_N_PERM)

_CHARFOLD_SPARK = charfold_spark("t")

_SHINGLE_SPARK = (
    "array_distinct(transform(sequence(0, greatest(size(th) - 3, 0)),"
    " i -> (element_at(th, i + 1) * 1048573"
    " + element_at(th, least(i + 2, size(th))) * 8191"
    " + element_at(th, least(i + 3, size(th)))) % 4294967296))"
)


def _xengine_agree() -> str:
    return " + ".join(f"CAST(sa.s{k} = sb.s{k} AS INT)" for k in range(X_N_PERM))


def _xengine_cte_block() -> str:
    """Shared DuckDB CTE chain: tokens → char-fold hashes → shingle-hash
    sets → minhash signatures → band buckets → candidate pairs. Used by
    the xengine oracle and the precision/recall eval oracle."""
    p = MERSENNE_PRIME
    sig_cols = ",\n             ".join(
        f"list_min(list_transform(hashes, x -> (CAST({a} AS BIGINT) * x + {b}) % {p})) AS s{k}"
        for k, (a, b) in enumerate(_XPERMS)
    )
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {j} AS band, s{2*j} AS v1, s{2*j+1} AS v2 FROM sigs"
        for j in range(X_N_PERM // X_BAND_ROWS)
    )
    return f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < {X_MAX_DOC}),
    th AS (
      SELECT doc_id,
             list_transform(toks, t -> list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(range(1, greatest(length(t), 1) + 1),
                                i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 4294967296)) AS th
      FROM toks),
    h AS (
      SELECT doc_id,
             list_distinct(list_transform(range(greatest(len(th) - 2, 1)),
               i -> (th[i + 1] * 1048573
                     + th[least(i + 2, len(th))] * 8191
                     + th[least(i + 3, len(th))]) % 4294967296)) AS hashes
      FROM th),
    sigs AS (
      SELECT doc_id,
             {sig_cols}
      FROM h),
    bands AS (
{band_rows}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
           AND a.doc_id < b.doc_id)"""


def _xengine_oracle() -> str:
    agree = _xengine_agree()
    return f"""
    WITH {_xengine_cte_block()}
    SELECT p.doc_a, p.doc_b,
           round(({agree}) / {X_N_PERM}.0, 4) AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    WHERE ({agree}) / {X_N_PERM}.0 >= 0.5
    """


@query("dedup_minhash_xengine", oracle=_xengine_oracle())
def dedup_minhash_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with a cross-engine-deterministic hash (char-fold
    polynomial), oracle-checked END TO END — the correctness twin of
    dedup_minhash_lsh (which keeps xxhash64 for speed and is therefore
    rows-only). 8 perms, 4 bands x 2 rows, docs < 500.

    The plan shape is the scale path: one narrow signature pass, one
    band-bucket shuffle for candidates, broadcast-sized signature
    lookups for verification.
    """
    p = MERSENNE_PRIME
    docs = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("doc_id") < X_MAX_DOC
    )
    sigs = docs.select(
        "doc_id",
        F.expr(f"transform(split(text, ' '), t -> {_CHARFOLD_SPARK})").alias("th"),
    ).select(
        "doc_id",
        F.expr(_SHINGLE_SPARK).alias("hashes"),
    )
    for k, (a, b) in enumerate(_XPERMS):
        sigs = sigs.withColumn(
            f"s{k}",
            F.expr(
                f"array_min(transform(hashes, x ->"
                f" (CAST({a} AS BIGINT) * x + {b}) % {p}))"
            ),
        )
    sigs = sigs.drop("hashes", "th").localCheckpoint()
    n_bands = X_N_PERM // X_BAND_ROWS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.col(f"s{2 * j}").alias("v1"),
                        F.col(f"s{2 * j + 1}").alias("v2"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.v1", "b.v2")
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v1") == F.col("b.v1"))
            & (F.col("a.v2") == F.col("b.v2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"s{k}").alias(f"sa{k}") for k in range(X_N_PERM)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"s{k}").alias(f"sb{k}") for k in range(X_N_PERM)]
    )
    agree = sum(
        (F.col(f"sa{k}") == F.col(f"sb{k}")).cast("int") for k in range(X_N_PERM)
    )
    est = agree / F.lit(float(X_N_PERM))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(est >= 0.5)
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash-LSH precision/recall eval: the "measure, don't guess" harness for
# the dedup family (companion to sim_ann_recall_eval on the ANN side).
# Ground truth = EXACT Jaccard over the same shingle-hash sets, computed by
# an inverted-index self-join (shared shingles only — never all pairs);
# predictions = the oracle-checked xengine MinHash candidates (est ≥ τ).
# ---------------------------------------------------------------------------
_PR_TAU = 0.5


def _pr_eval_oracle() -> str:
    agree = _xengine_agree()
    return f"""
    WITH {_xengine_cte_block()},
    cands AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b
      WHERE ({agree}) / {X_N_PERM}.0 >= {_PR_TAU}),
    sizes AS (SELECT doc_id, len(hashes) AS nsh FROM h),
    ex AS (SELECT doc_id, unnest(hashes) AS hv FROM h),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_int
      FROM ex a JOIN ex b ON a.hv = b.hv AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE i.n_int * 1.0 / (za.nsh + zb.nsh - i.n_int) >= {_PR_TAU}),
    hits AS (
      SELECT c.doc_a FROM cands c
      JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cands) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           round((SELECT count(*) FROM hits) * 1.0
                 / greatest((SELECT count(*) FROM cands), 1), 4) AS precision_,
           round((SELECT count(*) FROM hits) * 1.0
                 / greatest((SELECT count(*) FROM truth), 1), 4) AS recall_
    """


@query("dedup_minhash_pr_eval", oracle=_pr_eval_oracle())
def dedup_minhash_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH near-dup detector against
    exact-Jaccard ground truth (same shingle-hash sets, threshold 0.5) —
    one row of corpus-level metrics. This is the eval loop a production
    dedup pass runs before committing to a sketch config (perms, bands,
    threshold); sweep X_N_PERM/X_BAND_ROWS and re-read this row.

    Scale: ground truth comes from the shingle inverted-index self-join
    (pairs sharing ≥1 shingle — never the all-pairs product; at 100 TB
    a df-cap on hot shingles bounds the join like the LSH bucket cap);
    predictions reuse the banded-bucket candidate plan. Both collapse to
    three scalar counts before the driver sees a row."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("doc_id") < X_MAX_DOC
    )
    # checkpoint the hash-set table too (r14): h feeds FOUR legs (both
    # sides of the inverted-index self-join and both broadcast size
    # lookups), and the per-character fold inside _CHARFOLD_SPARK makes
    # it the most expensive expression in the query — re-deriving it
    # per leg dominated the row (10.7 -> 1.9 s at sf0.1, guide §3.3).
    # Bounded: one row per doc (< X_MAX_DOC) with its hash array.
    h = (
        docs.select(
            "doc_id",
            F.expr(
                f"transform(split(text, ' '), t -> {_CHARFOLD_SPARK})"
            ).alias("th"),
        )
        .select("doc_id", F.expr(_SHINGLE_SPARK).alias("hashes"))
        .localCheckpoint()
    )
    # cands and truth each feed TWO consumers (their count aggregate and
    # the hits join); checkpoint the bounded pair lists so the expensive
    # candidate/ground-truth legs execute once per invocation instead of
    # once per consumer (r13, guide §3.3)
    cands = (
        dedup_minhash_xengine(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    sizes = h.select("doc_id", F.size("hashes").alias("nsh"))
    ex = h.select("doc_id", F.explode("hashes").alias("hv"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.hv") == F.col("b.hv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nb"))
    truth = (
        inter.join(F.broadcast(za), "doc_a")
        .join(F.broadcast(zb), "doc_b")
        .filter(
            F.col("n_int") / (F.col("na") + F.col("nb") - F.col("n_int"))
            >= _PR_TAU
        )
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    hits = cands.join(truth, ["doc_a", "doc_b"])
    m = (
        cands.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    )
    return m.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.round(
            F.col("n_hits") / F.greatest(F.col("n_candidates"), F.lit(1)), 4
        ).alias("precision_"),
        F.round(
            F.col("n_hits") / F.greatest(F.col("n_truth"), F.lit(1)), 4
        ).alias("recall_"),
    )


X_SIM_BITS = 24
X_SIM_BAND_BITS = 4  # 4 bands of 4 bits -> candidates share >= 1 band
X_SIM_MAX_HAMMING = 1


def _simhash_xengine_oracle() -> str:
    votes = " + ".join(
        f"CASE WHEN list_sum(list_transform(th, h -> CASE WHEN (h // {1 << j}) % 2 = 1"
        f" THEN 1 ELSE -1 END)) > 0 THEN {1 << j} ELSE 0 END"
        for j in range(X_SIM_BITS)
    )
    bands = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, fp, {j} AS band,"
        f" (fp // {1 << (j * X_SIM_BAND_BITS)}) % {1 << X_SIM_BAND_BITS} AS bucket"
        f" FROM fps"
        for j in range(X_SIM_BITS // X_SIM_BAND_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < {X_MAX_DOC}),
    th AS (
      SELECT doc_id,
             list_transform(toks, t -> list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(range(1, greatest(length(t), 1) + 1),
                                i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 4294967296)) AS th
      FROM toks),
    fps AS (
      SELECT doc_id, CAST({votes} AS BIGINT) AS fp FROM th),
    bands AS (
{bands}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.fp AS fp_a, b.fp AS fp_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
    FROM pairs
    WHERE bit_count(xor(fp_a, fp_b)) <= {X_SIM_MAX_HAMMING}
    """


@query("dedup_simhash_xengine", oracle=_simhash_xengine_oracle())
def dedup_simhash_xengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (Charikar '02) with the cross-engine char-fold hash,
    oracle-checked end to end: 24-bit fingerprint from per-bit token
    votes, 4-bit band bucketing for candidates, Hamming-verified pairs.
    Correctness twin of dedup_simhash (xxhash64, rows-only).
    """
    docs = load_table(spark, sf_dir, "documents", fan_out=True).filter(
        F.col("doc_id") < X_MAX_DOC
    )
    votes = " + ".join(
        f"CASE WHEN aggregate(th, 0, (acc, h) ->"
        f" acc + CASE WHEN (h div {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << j} ELSE 0 END"
        for j in range(X_SIM_BITS)
    )
    fps = docs.select(
        "doc_id",
        F.expr(f"transform(split(text, ' '), t -> {_CHARFOLD_SPARK})").alias("th"),
    ).select("doc_id", F.expr(f"CAST({votes} AS BIGINT)").alias("fp")).localCheckpoint()
    bands = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.expr(
                            f"(fp div {1 << (j * X_SIM_BAND_BITS)})"
                            f" % {1 << X_SIM_BAND_BITS}"
                        ).alias("bucket"),
                    )
                    for j in range(X_SIM_BITS // X_SIM_BAND_BITS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "fp", "b.band", "b.bucket")
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("fp_a ^ fp_b"))
    return (
        pairs.filter(hamming <= X_SIM_MAX_HAMMING)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


@query(
    "dedup_pairs_edit_distance",
    oracle="""
    WITH sh AS (
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
      SELECT doc_a, doc_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.05
    )
    SELECT p.doc_a, p.doc_b,
           levenshtein(substr(da.text, 1, 60), substr(db.text, 1, 60))
             AS head_edit_dist
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    """,
)
def dedup_pairs_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of near-dup candidates: Levenshtein
    over the first 60 chars of each paired doc — the cheap second-stage
    check a curation pipeline runs AFTER candidate generation (never
    pairwise over the corpus: O(n²·len²) is only affordable on the
    candidate set). JVM levenshtein, identical in DuckDB."""
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 60).alias("head")
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("head").alias("ha"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("head").alias("hb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ha", "hb").alias("head_edit_dist"),
        )
    )


# --------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# --------------------------------------------------------------------------
_INC_BOUND = 400  # doc universe for the oracle-bounded demo slice
_INC_JACC = 0.5  # near-dup admission threshold


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH uni AS (
      SELECT doc_id, text,
             md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
      FROM documents WHERE doc_id < {_INC_BOUND}),
    existing AS (SELECT * FROM uni WHERE doc_id % 2 = 0),
    batch    AS (SELECT * FROM uni WHERE doc_id % 2 = 1),
    exact AS (
      SELECT b.doc_id, min(e.doc_id) AS exact_match
      FROM batch b JOIN existing e ON e.h = b.h GROUP BY b.doc_id),
    surv AS (
      SELECT b.* FROM batch b LEFT JOIN exact x ON x.doc_id = b.doc_id
      WHERE x.doc_id IS NULL),
    shb AS (
      SELECT doc_id, list_distinct(list_transform(
        range(len(string_split(text, ' ')) - 2),
        i -> string_split(text, ' ')[i+1] || ' ' ||
             string_split(text, ' ')[i+2] || ' ' ||
             string_split(text, ' ')[i+3])) AS s
      FROM surv),
    she AS (
      SELECT doc_id, list_distinct(list_transform(
        range(len(string_split(text, ' ')) - 2),
        i -> string_split(text, ' ')[i+1] || ' ' ||
             string_split(text, ' ')[i+2] || ' ' ||
             string_split(text, ' ')[i+3])) AS s
      FROM existing),
    exb AS (SELECT doc_id, unnest(s) AS g FROM shb),
    exe AS (SELECT doc_id, unnest(s) AS g FROM she),
    szb AS (SELECT doc_id, len(s) AS n FROM shb),
    sze AS (SELECT doc_id, len(s) AS n FROM she),
    common AS (
      SELECT b.doc_id AS bdoc, e.doc_id AS edoc, count(*) AS nc
      FROM exb b JOIN exe e ON b.g = e.g GROUP BY 1, 2),
    cand AS (
      SELECT bdoc, edoc, nc * 1.0 / (sb.n + se.n - nc) AS jac
      FROM common
      JOIN szb sb ON sb.doc_id = bdoc
      JOIN sze se ON se.doc_id = edoc
      WHERE nc * 1.0 / (sb.n + se.n - nc) >= {_INC_JACC}),
    best AS (
      SELECT bdoc, edoc, jac FROM (
        SELECT bdoc, edoc, jac,
               row_number() OVER (PARTITION BY bdoc
                                  ORDER BY jac DESC, edoc) AS k
        FROM cand) WHERE k = 1)
    SELECT b.doc_id,
           CASE WHEN x.exact_match IS NOT NULL THEN 'exact_dup'
                WHEN n.edoc IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status,
           coalesce(x.exact_match, n.edoc) AS match_doc,
           round(n.jac, 4) AS jaccard
    FROM batch b
    LEFT JOIN exact x ON x.doc_id = b.doc_id
    LEFT JOIN best n ON n.bdoc = b.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the append-at-scale shape: an arriving batch
    (odd doc_ids) is deduplicated AGAINST the existing corpus (even
    doc_ids), never corpus-vs-corpus. Two legs, cheapest first:
    (1) exact normalized-hash equi-join knocks out byte-dups for the
    cost of one shuffle on a 16-byte key; (2) survivors run a
    DIRECTIONAL 3-gram shingle inverted-index join (batch side only
    explodes ~the new data; candidate pairs materialize only for shared
    shingles), keep the best existing match at Jaccard >= 0.5.

    Scale: the work is proportional to the NEW batch, not the corpus —
    the corpus side contributes only its shingle postings (in
    production: a persisted/bucketed index reused across batches); no
    all-pairs stage exists. Statuses: exact_dup | near_dup | kept.

    Reference has no dedup at all (SURVEY.md §1.4); this composes A3's
    hash-partition idea with the LSH/Jaccard family above."""
    # the bounded universe feeds FIVE legs (existing x2, batch x3);
    # checkpoint it so each leg reads the materialized slice instead of
    # re-scanning + re-hashing (r13; ~30% at sf0.1, result-identical —
    # in production the arriving batch is exactly such a materialized
    # small table)
    uni = (
        load_table(spark, sf_dir, "documents", fan_out=True)
        .filter(F.col("doc_id") < _INC_BOUND)
        .select(
            "doc_id",
            "text",
            F.md5(
                F.trim(F.lower(F.regexp_replace("text", r"\s+", " ")))
            ).alias("h"),
        )
        .localCheckpoint()
    )
    existing = uni.filter(F.col("doc_id") % 2 == 0)
    batch = uni.filter(F.col("doc_id") % 2 == 1)

    exact = (
        batch.alias("b")
        .join(existing.alias("e"), F.col("e.h") == F.col("b.h"))
        .groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min(F.col("e.doc_id")).alias("exact_match"))
    )
    surv = batch.join(exact, "doc_id", "left_anti")

    shb = _shingles(surv)
    she = _shingles(existing)
    exb = shb.select("doc_id", F.explode("shingles").alias("g"))
    exe = she.select("doc_id", F.explode("shingles").alias("g"))
    common = (
        exb.alias("b")
        .join(exe.alias("e"), F.col("b.g") == F.col("e.g"))
        .groupBy(
            F.col("b.doc_id").alias("bdoc"), F.col("e.doc_id").alias("edoc")
        )
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    szb = shb.select(F.col("doc_id").alias("bdoc"), F.col("n_shingles").alias("nb"))
    sze = she.select(F.col("doc_id").alias("edoc"), F.col("n_shingles").alias("ne"))
    jac = F.col("nc") / (F.col("nb") + F.col("ne") - F.col("nc"))
    cand = (
        common.join(szb, "bdoc")
        .join(sze, "edoc")
        .select("bdoc", "edoc", jac.alias("jac"))
        .filter(F.col("jac") >= _INC_JACC)
    )
    # argmax per batch doc: highest jaccard, ties to the lowest existing id
    best = (
        cand.groupBy("bdoc")
        .agg(F.max(F.struct("jac", (-F.col("edoc")).alias("neg"))).alias("m"))
        .select(
            F.col("bdoc"),
            (-F.col("m.neg")).alias("edoc"),
            F.col("m.jac").alias("jac"),
        )
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(best.withColumnRenamed("bdoc", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact_dup"))
            .when(F.col("edoc").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("exact_match", "edoc").alias("match_doc"),
            F.round("jac", 4).alias("jaccard"),
        )
    )
