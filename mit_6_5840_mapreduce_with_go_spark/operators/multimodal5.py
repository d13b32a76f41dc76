"""Image near-duplicate detection: perceptual hash (dHash) over REAL
decoded pixels + banded LSH pairing.

Ties the decode leg (multimodal2's PNG path) into the dedup family:
the standard image-curation near-dup pipeline is decode -> perceptual
hash -> Hamming-bucketed candidate join, exactly the SimHash text
pipeline (operators/dedup.py) with the fingerprint computed from
pixels instead of tokens.

- dHash (public algorithm: difference hash): downscale the grayscale
  image to a tiny grid by box-averaging, then take the horizontal
  gradient SIGN between adjacent cells — 56 bits here (8 rows x 7
  diffs from an 8x8 mean grid; 56 keeps the hash in the positive
  BIGINT range both engines shift without sign surprises).  Constant-
  offset lighting changes cancel (gradient signs are shift-invariant);
  a few changed pixels flip only the bits whose cells they touch.
- Pairing is the SimHash banded-LSH shape: 4 bands x 14 bits, exact
  join on (band index, band value), never an all-pairs product;
  Hamming <= 10 confirms candidates.  Per-band bucket cap 200
  (``_PH_MAX_BUCKET``, same load-bearing convention as
  dedup._LSH_MAX_BUCKET: one degenerate bucket — e.g. solid-color
  images — must not quadratically dominate the join; other bands
  recover the lost candidates).

The test corpus is built INSIDE Spark: groups of 4 doc_ids share a
base texture; variants 1-3 flip ~7 pixels each (the near-dup
structure).  Payloads are real PNGs; the hash side runs the REAL
decoder (``decode_png_pixels``) on every payload, so the measured
pipeline is encode -> decode -> hash -> LSH join end to end.  The
DuckDB oracle recomputes pixels, means, bits, hash, bands, cap, and
Hamming from the pixel definition — prototype-verified: 536 pairs at
sf0.01, every one intra-group (zero false positives), recall 72% of
the 745 true pairs within threshold (the documented banded-LSH
recall trade; raise bands for more).

Scale shape: hashing is a narrow per-row map (Arrow-batched, no
shuffle); the join shuffles 4 band rows per image, buckets are
capped, and the pair set is bounded by bucket sizes — the same
100 TB-safe discipline as the text LSH family.

Synthetic-corpus caveat (data, not plan): the texture formula cycles
with period 256 GROUPS, so corpora past ~1k docs contain exact-
duplicate texture classes and the planted pair count grows ~n^2/256^2
(observed: 536 pairs at 500 docs, 3.9M at 50k — every one a true
duplicate/near-dup, sf1-mirror-verified).  Real image corpora don't
scale their dup-cluster sizes with corpus size; when one does
degenerate, the bucket cap drops the oversized buckets and the
output degrades to the documented partial-recall semantics instead
of a quadratic join.

No reference counterpart — north-star LLM-pipeline addition.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import ORACLES, query
from ..sources import load_table
from .multimodal2 import decode_png_pixels, encode_png
from .multimodal4 import encode_wav
from .payloads import synth_payloads

_PH_SIDE = 16  # source images are 16x16 grayscale
_PH_GRID = 8  # box-averaged mean grid
_PH_BITS_PER_ROW = _PH_GRID - 1  # 7 horizontal diffs per row -> 56 bits
_PH_BANDS = 4
_PH_BAND_BITS = 14
_PH_MAX_HAMMING = 10
_PH_MAX_BUCKET = 200


def _pix(doc_id: int, x: int, y: int) -> int:
    """Group texture + per-variant pixel flips: docs doc_id//4 share a
    base multiplicative pattern (dHash-distinct across groups, unlike a
    linear ramp whose gradient signs never change); variants 1-3 shift
    ~7 scattered pixels by +96."""
    g, k = doc_id // 4, doc_id % 4
    base = ((x + 3 * g + 1) * (y + 2 * g + 1) * (g + 13)) % 256
    if k > 0 and (y * _PH_SIDE + x) % (37 + 2 * k) == k:
        return (base + 96) % 256
    return base


def _ph_payload(doc_id: int) -> bytes:
    return encode_png(
        _PH_SIDE, _PH_SIDE, lambda x, y, c: _pix(doc_id, x, y), channels=1
    )


def dhash56(raster: bytes, width: int, height: int) -> int:
    """56-bit difference hash from a grayscale raster: box-average to
    an 8x8 mean grid (integer floor), emit 1 where mean[r][c] <
    mean[r][c+1].  Width/height must be multiples of 8."""
    if width % _PH_GRID or height % _PH_GRID:
        raise ValueError("dhash56 needs dimensions divisible by 8")
    bx, by = width // _PH_GRID, height // _PH_GRID
    arr = np.frombuffer(raster, np.uint8).astype(np.int64)
    arr = arr.reshape(_PH_GRID, by, _PH_GRID, bx)
    m = arr.sum(axis=(1, 3)) // (bx * by)
    bits = m[:, : _PH_BITS_PER_ROW] < m[:, 1:]
    weights = 1 << (
        np.arange(_PH_GRID)[:, None] * _PH_BITS_PER_ROW
        + np.arange(_PH_BITS_PER_ROW)[None, :]
    ).astype(np.int64)
    return int((bits * weights).sum())


@query(
    "mm_dedup_image_dhash",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             (t.i - 1) % {_PH_SIDE} AS x,
             (t.i - 1) // {_PH_SIDE} AS y,
             CASE WHEN doc_id % 4 > 0
                   AND (t.i - 1) % (37 + 2 * (doc_id % 4)) = doc_id % 4
                  THEN (((t.i - 1) % {_PH_SIDE} + 3 * (doc_id // 4) + 1)
                        * ((t.i - 1) // {_PH_SIDE} + 2 * (doc_id // 4) + 1)
                        * (doc_id // 4 + 13) + 96) % 256
                  ELSE (((t.i - 1) % {_PH_SIDE} + 3 * (doc_id // 4) + 1)
                        * ((t.i - 1) // {_PH_SIDE} + 2 * (doc_id // 4) + 1)
                        * (doc_id // 4 + 13)) % 256 END AS v
      FROM documents,
           unnest(generate_series(1, {_PH_SIDE * _PH_SIDE})) AS t(i)),
    m AS (
      SELECT doc_id, y // 2 AS r, x // 2 AS c, sum(v) // 4 AS m
      FROM px GROUP BY doc_id, y // 2, x // 2),
    bits AS (
      SELECT a.doc_id, a.r, a.c,
             CASE WHEN a.m < b.m THEN 1 ELSE 0 END AS bit
      FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.r = b.r
                       AND b.c = a.c + 1
      WHERE a.c < {_PH_BITS_PER_ROW}),
    h AS (
      SELECT doc_id,
             CAST(sum(bit * (CAST(1 AS BIGINT)
                   << CAST(r * {_PH_BITS_PER_ROW} + c AS INT))) AS BIGINT)
               AS hash
      FROM bits GROUP BY doc_id),
    bands AS (
      SELECT doc_id, hash, t.j,
             (hash >> CAST({_PH_BAND_BITS} * t.j AS INT))
               & {(1 << _PH_BAND_BITS) - 1} AS bv
      FROM h, unnest(generate_series(0, {_PH_BANDS - 1})) AS t(j)),
    sized AS (
      SELECT doc_id, hash, j, bv,
             count(*) OVER (PARTITION BY j, bv) AS bsz
      FROM bands),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.hash AS ha, b.hash AS hb
      FROM sized a JOIN sized b
        ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
      WHERE a.bsz <= {_PH_MAX_BUCKET})
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {_PH_MAX_HAMMING}
    """,
)
def mm_dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pipeline end to end: build real 16x16 grayscale
    PNGs (4-doc groups share a texture, variants flip ~7 pixels) in one
    Arrow-batched ``mapInPandas`` stage; decode each payload with the
    REAL PNG decoder and compute the 56-bit dHash from the
    reconstructed raster in the next; then the SimHash-style banded
    LSH join — explode 4 x 14-bit bands, exact-match candidates within
    capped buckets, confirm with bit_count(XOR) <= 10.  Returns
    (doc_a, doc_b, hamming) for every confirmed near-dup pair.

    Scale: hash stage is a shuffle-free narrow map; the join shuffles
    4 rows per image keyed by (band, value); ``_PH_MAX_BUCKET``
    excludes degenerate buckets before the self-join can go quadratic
    (the dedup._LSH_MAX_BUCKET discipline — see tests/test_skew_stress
    for why the cap is load-bearing)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _ph_payload)

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for p in pdf["payload"]:
                w, h, nch, raster = decode_png_pixels(p)
                if nch != 1:
                    raise ValueError("dhash expects grayscale")
                hashes.append(dhash56(raster, w, h))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "hash": hashes})

    hashes = mm.mapInPandas(hash_batches, schema="doc_id long, hash long")
    return _banded_pairs(hashes, max_bucket=_PH_MAX_BUCKET, max_hamming=_PH_MAX_HAMMING)


def _banded_pairs(
    hashes: DataFrame, *, max_bucket: int, max_hamming: int
) -> DataFrame:
    """Shared banded-LSH pairing over a ``(doc_id, hash)`` frame: explode
    4 x 14-bit bands, exact-match candidates within capped buckets,
    confirm with bit_count(XOR) <= max_hamming.  Used by both the image
    dHash and audio fingerprint queries (identical join discipline)."""
    bands = hashes.select(
        "doc_id",
        "hash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("hash", _PH_BAND_BITS * j).bitwiseAND(
                        (1 << _PH_BAND_BITS) - 1
                    )
                    for j in range(_PH_BANDS)
                ]
            )
        ).alias("j", "bv"),
    )
    sized = bands.withColumn(
        "bsz", F.count(F.lit(1)).over(W.partitionBy("j", "bv"))
    )
    a = sized.filter(F.col("bsz") <= max_bucket).select(
        F.col("doc_id").alias("doc_a"), F.col("hash").alias("ha"), "j", "bv"
    )
    b = sized.select(
        F.col("doc_id").alias("doc_b"), F.col("hash").alias("hb"), "j", "bv"
    )
    cand = (
        a.join(b, ["j", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    ham = F.expr("bit_count(ha ^ hb)")
    return cand.filter(ham <= max_hamming).select(
        "doc_a",
        "doc_b",
        ham.cast("long").alias("hamming"),
    )


# -- audio near-dup: band-energy fingerprint over real decoded samples -----

_AF_WINDOWS = 15  # windows per clip
_AF_WIN = 64  # samples per window -> 960-sample clips
_AF_LANES = 4  # polyphase lanes (a crude 4-band split, integer-exact)
_AF_BITS_PER_STEP = _AF_LANES  # 14 window steps x 4 lanes -> 56 bits
_AF_MAX_HAMMING = 10
_AF_MAX_BUCKET = 200


def _af_amp(g: int, w: int, l: int) -> int:
    """Per-(group, window, lane) amplitude 2..17 from a CUBIC integer
    mix.  Linear-index multiplicative hashes fail here: consecutive
    groups become near-translates of each other and sign-of-difference
    fingerprints are translation-invariant (measured: thousands of
    cross-group collisions).  The cube breaks the translation; measured
    at 500 docs: recall 750/750, cross-group pairs 0."""
    t = g * 1009 + w * 131 + l * 37 + 11
    return ((t * t * t) // 64) % 16 + 2


def _af_sample(doc_id: int, i: int) -> int:
    """Planted corpus: groups of 4 docs share a band-energy envelope;
    variants 1-3 bump ONE window's amplitude (the near-dup structure).
    The carrier is an equal-energy +-square wave, so every (window,
    lane) cell has identical carrier energy and the fingerprint bits
    reduce to amplitude-envelope comparisons."""
    g, k = doc_id // 4, doc_id % 4
    w, l = i // _AF_WIN, i % _AF_LANES
    a = _af_amp(g, w, l)
    if k > 0 and w == (k * 4) % _AF_WINDOWS:
        a += 1
    return a * 64 * (1 if (i // 2) % 2 == 0 else -1)


def _af_payload(doc_id: int) -> bytes:
    return encode_wav(_AF_WINDOWS * _AF_WIN, lambda i: _af_sample(doc_id, i))


def audio_fingerprint56(samples, n_windows: int = _AF_WINDOWS) -> int:
    """56-bit band-energy fingerprint from raw int16 samples: split the
    clip into windows, accumulate per-(window, polyphase-lane) energies
    (integer-exact sums of squares), emit 1 where energy rises from
    window w to w+1 in that lane — the sign-of-delta spectrogram hash
    (chromaprint's shape with an integer band split instead of an
    FFT)."""
    win = len(samples) // n_windows
    if win == 0 or len(samples) % n_windows:
        raise ValueError("clip length must be a multiple of n_windows")
    E = [[0] * _AF_LANES for _ in range(n_windows)]
    for i, s in enumerate(samples):
        E[i // win][i % _AF_LANES] += s * s
    h, bit = 0, 0
    for w in range(n_windows - 1):
        for l in range(_AF_LANES):
            if E[w][l] < E[w + 1][l]:
                h |= 1 << bit
            bit += 1
    return h


@query(
    "mm_dedup_audio_fingerprint",
    oracle=f"""
    WITH tv AS (
      SELECT doc_id, t.w, b.l,
             CAST(doc_id // 4 * 1009 + t.w * 131 + b.l * 37 + 11
                  AS HUGEINT) AS t
      FROM documents,
           unnest(generate_series(0, {_AF_WINDOWS - 1})) AS t(w),
           unnest(generate_series(0, {_AF_LANES - 1})) AS b(l)),
    cells AS (
      SELECT doc_id, w, l,
             ((t * t * t) // 64) % 16 + 2
               + CASE WHEN doc_id % 4 > 0
                       AND w = (doc_id % 4 * 4) % {_AF_WINDOWS}
                      THEN 1 ELSE 0 END AS a
      FROM tv),
    bits AS (
      SELECT x.doc_id, x.w, x.l,
             CASE WHEN x.a * x.a < y.a * y.a THEN 1 ELSE 0 END AS bit
      FROM cells x JOIN cells y
        ON x.doc_id = y.doc_id AND x.l = y.l AND y.w = x.w + 1
      WHERE x.w < {_AF_WINDOWS - 1}),
    h AS (
      SELECT doc_id,
             CAST(sum(bit * (CAST(1 AS BIGINT)
                   << CAST(w * {_AF_LANES} + l AS INT))) AS BIGINT) AS hash
      FROM bits GROUP BY doc_id),
    bands AS (
      SELECT doc_id, hash, t.j,
             (hash >> CAST(14 * t.j AS INT)) & 16383 AS bv
      FROM h, unnest(generate_series(0, 3)) AS t(j)),
    sized AS (
      SELECT doc_id, hash, j, bv,
             count(*) OVER (PARTITION BY j, bv) AS bsz
      FROM bands),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.hash AS ha, b.hash AS hb
      FROM sized a JOIN sized b
        ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id
      WHERE a.bsz <= {_AF_MAX_BUCKET})
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= {_AF_MAX_HAMMING}
    """,
)
def mm_dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pipeline end to end: build real 960-sample PCM
    WAV clips (4-doc groups share a band-energy envelope, variants bump
    one window) in one Arrow-batched ``mapInPandas`` stage; decode each
    payload with the REAL WAV decoder and compute the 56-bit
    band-energy fingerprint from the decoded samples in the next; then
    the same banded-LSH pairing as the image dHash query (4 x 14-bit
    bands, capped buckets, bit_count(XOR) <= {_AF_MAX_HAMMING}).

    The equal-energy carrier makes every fingerprint bit an exact
    amplitude-envelope comparison, so the DuckDB oracle recomputes the
    bits straight from the amplitude definition (through HUGEINT — the
    cubic mix overflows int64 at sf1 group ids) without replaying
    960 samples per doc.  Measured at sf0.01: 750/750 planted pairs
    found, zero cross-group pairs.

    Scale shape: identical to mm_dedup_image_dhash — shuffle-free
    fingerprint map, 4 band rows per clip, capped buckets."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _af_payload)

    def fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .multimodal4 import decode_wav_samples

        for pdf in batches:
            fps = []
            for p in pdf["payload"]:
                nch, _rate, samples = decode_wav_samples(p)
                if nch != 1:
                    raise ValueError("fingerprint expects mono clips")
                fps.append(audio_fingerprint56(samples))
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "hash": fps})

    hashes = mm.mapInPandas(fp_batches, schema="doc_id long, hash long")
    return _banded_pairs(hashes, max_bucket=_AF_MAX_BUCKET, max_hamming=_AF_MAX_HAMMING)


# -- planted-truth precision/recall for the perceptual dedups ---------------
# (the dedup_minhash_pr_eval discipline applied to the media pipelines:
# a dedup query without a measured precision/recall is an opinion)


@query(
    "mm_dedup_image_pr_eval",
    # wraps the pair oracle as a subquery so the two can never drift apart
    oracle=f"""
    WITH pairs AS ({ORACLES["mm_dedup_image_dhash"]}),
    planted AS (
      SELECT CAST(sum(k * (k - 1) // 2) AS BIGINT) AS n_planted
      FROM (SELECT count(*) AS k FROM documents GROUP BY doc_id // 4)),
    agg AS (
      SELECT count(*) AS n_pairs,
             sum(CASE WHEN doc_a // 4 = doc_b // 4 THEN 1 ELSE 0 END)
               AS n_true
      FROM pairs)
    SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pairs - n_true AS BIGINT) AS n_false,
           n_planted,
           round(n_true * 1.0 / n_pairs, 6) AS precision,
           round(n_true * 1.0 / n_planted, 6) AS recall
    FROM agg, planted
""",
)
def mm_dedup_image_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the image near-dup pipeline against the
    PLANTED truth (pairs inside the same 4-doc texture group are true
    near-dups by construction): run the full decode -> dHash ->
    banded-LSH pipeline, classify each emitted pair, and report exact
    counts plus rounded ratios.  The planted-pair denominator is
    computed from the ACTUAL group sizes — sum over doc_id//4 groups of
    C(k, 2) — so a trailing partial group (k < 4 docs plants C(k, 2)
    pairs, not 6) is counted exactly, and the arithmetic stays integer
    end-to-end (no float n/4 that could round differently across
    engines).  The recall shortfall is the banded-LSH trade (a pair
    survives only if some 14-bit band matches exactly); precision < 1
    would mean hash collisions across unrelated textures.

    Scale: one extra aggregation over the (already bounded) pair set;
    the planted-pair denominator is a group-size aggregate over doc_id
    (a count per group, not a pair join)."""
    pairs = mm_dedup_image_dhash(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    n_planted = (
        docs.groupBy(F.floor(F.col("doc_id") / 4).alias("grp"))
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(
            F.sum(F.col("k") * (F.col("k") - 1) / 2)
            .cast("long")
            .alias("n_planted")
        )
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            (
                F.floor(F.col("doc_a") / 4) == F.floor(F.col("doc_b") / 4)
            ).cast("long")
        ).alias("n_true"),
    )
    return agg.crossJoin(F.broadcast(n_planted)).select(
        "n_pairs",
        "n_true",
        (F.col("n_pairs") - F.col("n_true")).alias("n_false"),
        "n_planted",
        F.round(F.col("n_true") / F.col("n_pairs"), 6).alias("precision"),
        F.round(F.col("n_true") / F.col("n_planted"), 6).alias("recall"),
    )

