"""Audio + video modalities with REAL decoders: WAV (RIFF PCM) and
Y4M (YUV4MPEG2) inside the multimodal mapInPandas leg.

Completes the image/audio/video triple the LLM-pipeline north star
asks for (multimodal.py/2/3 cover images).  Both formats are public
and fully decodable with no media library:

- ``decode_wav``: RIFF walk (chunk id/size, word alignment), fmt
  validation (PCM, 16-bit), int16-LE sample extraction, integer-exact
  amplitude statistics (sum, sum of squares for energy, min/max).
- ``decode_y4m``: YUV4MPEG2 stream parse — ASCII stream header
  (W/H/F/C tags), per-frame FRAME markers, raw planar 4:2:0 payloads —
  plus the FRAME-SAMPLING stage (keep every k-th frame) every video
  curation pipeline needs; per-sampled-frame luma statistics from the
  actual plane bytes.

Both queries build payloads inside Spark from pure-integer formulas,
decode them in a second Arrow-batched ``mapInPandas`` stage, and are
value-hash oracle-checked (the DuckDB oracle recomputes the stats
from the sample/pixel definitions — everything is integer-exact, so a
chunk-offset, alignment, or plane-size bug breaks the hash).

Scale shape (all queries): two narrow per-row map stages, no shuffle;
payloads never touch the driver; the frame sampler emits one row per
KEPT frame so downstream work scales with the sampling rate, not the
source frame rate.

No reference counterpart — north-star LLM-pipeline addition.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

# -- WAV ------------------------------------------------------------------


def encode_wav(n_samples: int, sample, *, rate: int = 16000) -> bytes:
    """Canonical 16-bit mono PCM WAV from ``sample(i) -> int16``."""
    data = b"".join(
        struct.pack("<h", sample(i)) for i in range(n_samples)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    riff = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def decode_wav_samples(payload: bytes) -> tuple[int, int, tuple[int, ...]]:
    """REAL RIFF/WAV decoder core: chunk walk with word alignment, fmt
    validation (PCM uncompressed, 16-bit, mono/stereo), int16-LE sample
    extraction.  Returns ``(n_channels, sample_rate, samples)`` with
    interleaved int16 samples.  Raises ValueError on malformed input or
    unsupported encodings (float PCM, ADPCM, 8/24-bit)."""
    if len(payload) < 12:
        raise ValueError("truncated RIFF payload (shorter than header)")
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    if riff_size + 8 != len(payload):
        raise ValueError("RIFF size mismatch")
    i = 12
    fmt: tuple | None = None
    data: bytes | None = None
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        (csize,) = struct.unpack("<I", payload[i + 4 : i + 8])
        body = payload[i + 8 : i + 8 + csize]
        if len(body) != csize:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if csize < 16:
                raise ValueError(f"fmt chunk too short ({csize} < 16 bytes)")
            tag, nch, rate, _brate, _align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if tag != 1:
                raise ValueError(f"unsupported format tag {tag} (PCM only)")
            if bits != 16:
                raise ValueError(f"unsupported bit depth {bits}")
            if nch not in (1, 2):
                raise ValueError(f"unsupported channel count {nch}")
            fmt = (nch, rate)
        elif cid == b"data":
            data = body
        i += 8 + csize + (csize & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    nch, rate = fmt
    if len(data) % (2 * nch):
        raise ValueError("data chunk is not a whole number of frames")
    return nch, rate, struct.unpack(f"<{len(data) // 2}h", data)


def decode_wav(payload: bytes) -> dict:
    """``decode_wav_samples`` + integer-exact amplitude statistics."""
    nch, rate, samples = decode_wav_samples(payload)
    return {
        "n_channels": nch,
        "sample_rate": rate,
        "n_samples": len(samples) // nch,
        "sum_amp": sum(samples),
        "energy": sum(s * s for s in samples),
        "min_amp": min(samples),
        "max_amp": max(samples),
    }


@query(
    "mm_decode_wav_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 800 + (doc_id % 5) * 160 AS n
      FROM documents),
    s AS (
      SELECT doc_id, n,
             ((doc_id * 31 + (t.i - 1) * 17) % 65536) - 32768 AS amp
      FROM d, unnest(generate_series(1, CAST(n AS INT))) AS t(i))
    SELECT doc_id,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(16000 AS BIGINT) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(sum(amp) AS BIGINT) AS sum_amp,
           CAST(sum(CAST(amp AS HUGEINT) * amp) AS BIGINT) AS energy,
           CAST(min(amp) AS BIGINT) AS min_amp,
           CAST(max(amp) AS BIGINT) AS max_amp
    FROM s GROUP BY doc_id, n
    """,
)
def mm_decode_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: per document, build a canonical
    16-bit mono PCM WAV (samples from the pure-integer formula below)
    in one Arrow-batched ``mapInPandas`` stage, decode it with
    ``decode_wav`` — RIFF chunk walk, fmt validation, int16 extraction
    — in the next, and emit integer-exact amplitude statistics the
    DuckDB oracle recomputes from the sample definition.  ``energy``
    (sum of squares) is the loudness/VAD primitive; exact int64 (peak
    32768^2 x ~1.6k samples is far below 2^63)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    return wav_stats_pipeline(docs)


def _wav_payload(d: int) -> bytes:
    n = 800 + (d % 5) * 160
    return encode_wav(n, lambda i: ((d * 31 + i * 17) % 65536) - 32768)


def wav_stats_pipeline(docs: DataFrame) -> DataFrame:
    """encode->decode->stats over any ``doc_id`` DataFrame — batch OR
    streaming (both mapInPandas stages are stateless, so the identical
    pipeline object runs under Structured Streaming; the streaming twin
    in streaming/decode.py reuses this verbatim)."""
    mm = synth_payloads(docs, _wav_payload)
    return decode_payloads(
        mm,
        decode_wav,
        "n_channels long, sample_rate long, n_samples long, sum_amp long, "
        "energy long, min_amp long, max_amp long",
    )


# -- Y4M (YUV4MPEG2) -------------------------------------------------------


def encode_y4m(width: int, height: int, n_frames: int, yfn) -> bytes:
    """YUV4MPEG2 stream, C420 layout: ASCII stream header, per-frame
    FRAME marker + planar Y (from ``yfn(f, x, y)``) + neutral chroma.
    Dims must be even (4:2:0 chroma is half-resolution)."""
    if width % 2 or height % 2:
        raise ValueError("Y4M C420 requires even dimensions")
    out = bytearray(
        f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C420\n".encode()
    )
    chroma = bytes([128]) * ((width // 2) * (height // 2))
    for f in range(n_frames):
        out += b"FRAME\n"
        out += bytes(
            yfn(f, x, y) & 0xFF for y in range(height) for x in range(width)
        )
        out += chroma + chroma
    return bytes(out)


def decode_y4m_sampled(payload: bytes, stride: int) -> list[dict]:
    """REAL YUV4MPEG2 decoder + frame sampler: parse the ASCII stream
    header (W/H/C tags; C420 family only), walk FRAME markers, and for
    every ``stride``-th frame compute integer-exact luma statistics
    from the actual Y-plane bytes (skipped frames are seeked over, not
    decoded — the point of sampling).  Returns one dict per KEPT frame.
    Raises ValueError on malformed streams or non-4:2:0 layouts."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = None
    colorspace = "C420"
    for tag in payload[9:nl].split():
        t = tag.decode("ascii", "replace")
        if t[0] == "W":
            width = int(t[1:])
        elif t[0] == "H":
            height = int(t[1:])
        elif t[0] == "C":
            colorspace = t
    if width is None or height is None:
        raise ValueError("missing W/H in stream header")
    if not colorspace.startswith("C420"):
        raise ValueError(f"unsupported colorspace {colorspace}")
    ysize = width * height
    csize = (width // 2) * (height // 2)
    i = nl + 1
    frames: list[dict] = []
    f = 0
    while i < len(payload):
        if payload[i : i + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at offset {i}")
        fnl = payload.find(b"\n", i)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        i = fnl + 1
        if i + ysize + 2 * csize > len(payload):
            raise ValueError(f"truncated frame {f}")
        if f % stride == 0:
            yplane = payload[i : i + ysize]
            frames.append(
                {
                    "frame_idx": f,
                    "width": width,
                    "height": height,
                    "sum_y": sum(yplane),
                    "min_y": min(yplane),
                    "max_y": max(yplane),
                }
            )
        i += ysize + 2 * csize
        f += 1
    return frames


@query(
    "mm_video_frame_sample",
    oracle="""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 5 AS n_frames
      FROM documents),
    f AS (
      SELECT doc_id, (t.i - 1) * 2 AS frame_idx
      FROM d, unnest(generate_series(1, CAST((n_frames + 1) // 2 AS INT)))
              AS t(i)),
    px AS (
      SELECT doc_id, frame_idx,
             (doc_id * 7 + frame_idx * 13
              + ((t.i - 1) % 16) * 3
              + ((t.i - 1) // 16) * 5) % 256 AS v
      FROM f, unnest(generate_series(1, 192)) AS t(i))
    SELECT doc_id, frame_idx,
           CAST(16 AS BIGINT) AS width,
           CAST(12 AS BIGINT) AS height,
           CAST(sum(v) AS BIGINT) AS sum_y,
           CAST(min(v) AS BIGINT) AS min_y,
           CAST(max(v) AS BIGINT) AS max_y
    FROM px GROUP BY doc_id, frame_idx
    """,
)
def mm_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode + FRAME SAMPLING end-to-end: per document,
    build a 16x12 YUV4MPEG2 clip (4 + doc_id % 5 frames, Y plane from
    the pure-integer formula in the oracle, neutral chroma) in one
    Arrow-batched ``mapInPandas`` stage; in the next, parse it with
    ``decode_y4m_sampled`` keeping every 2nd frame — the curation
    pattern that turns video into a bounded image stream — and emit
    one row per KEPT frame with integer-exact luma statistics from the
    actual plane bytes.  The DuckDB oracle rebuilds the sampled frame
    set and its pixel sums, so a frame-seek or plane-offset bug (e.g.
    mis-skipping chroma) breaks the hash."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    return frame_sample_pipeline(docs)


def _frame_sample_payload(d: int) -> bytes:
    return encode_y4m(
        16,
        12,
        4 + d % 5,
        lambda f, x, y: (d * 7 + f * 13 + x * 3 + y * 5) % 256,
    )


def frame_sample_pipeline(docs: DataFrame) -> DataFrame:
    """encode->sampled-decode over any ``doc_id`` DataFrame — batch or
    streaming (stateless mapInPandas stages; reused by the streaming
    twin in streaming/decode.py)."""
    mm = synth_payloads(docs, _frame_sample_payload)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                for fr in decode_y4m_sampled(p, stride=2):
                    fr["doc_id"] = int(did)
                    rows.append(fr)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "frame_idx",
                    "width",
                    "height",
                    "sum_y",
                    "min_y",
                    "max_y",
                ],
            )

    return mm.mapInPandas(
        decode_batches,
        schema="doc_id long, frame_idx long, width long, height long, "
        "sum_y long, min_y long, max_y long",
    )


# -- shot-boundary detection -------------------------------------------------

_SHOT_SIDE = 16  # shot-detection clip frames are 16x16
_SHOT_BINS = 16
_SHOT_L1_THRESHOLD = 24  # within-shot jitter maxes at 14, cuts start at 36
_SHOT_LEN = 3  # planted corpus: scene changes every 3 frames
_SHOT_JITTER = 2
_SHOT_MOTION_MOD = 7  # sparse "motion" region: (x + y*16) % 7 == 0


def decode_y4m_frame_hists(payload: bytes, bins: int = _SHOT_BINS) -> list[dict]:
    """REAL Y4M decode emitting a per-frame LUMA HISTOGRAM (equal-width
    bins over 0..255) from the actual Y-plane bytes — the shot-boundary
    feature.  Same stream validation as ``decode_y4m_sampled``."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = None
    colorspace = "C420"
    for tag in payload[9:nl].split():
        t = tag.decode("ascii", "replace")
        if t[0] == "W":
            width = int(t[1:])
        elif t[0] == "H":
            height = int(t[1:])
        elif t[0] == "C":
            colorspace = t
    if width is None or height is None:
        raise ValueError("missing W/H in stream header")
    if not colorspace.startswith("C420"):
        raise ValueError(f"unsupported colorspace {colorspace}")
    ysize = width * height
    csize = (width // 2) * (height // 2)
    div = 256 // bins
    i = nl + 1
    out: list[dict] = []
    f = 0
    while i < len(payload):
        if payload[i : i + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at offset {i}")
        fnl = payload.find(b"\n", i)
        if fnl < 0:
            raise ValueError("unterminated FRAME header")
        i = fnl + 1
        if i + ysize + 2 * csize > len(payload):
            raise ValueError(f"truncated frame {f}")
        hist = [0] * bins
        for v in payload[i : i + ysize]:
            hist[v // div] += 1
        out.append({"frame_idx": f, "hist": hist})
        i += ysize + 2 * csize
        f += 1
    return out


def _shot_luma(doc_id: int, f: int, x: int, y: int) -> int:
    """Planted shot structure: a fresh multiplicative texture every
    ``_SHOT_LEN`` frames (the cut), plus small motion inside a sparse
    pixel region between cuts (the thing a detector must NOT fire on)."""
    g2 = doc_id * 8 + f // _SHOT_LEN
    base = ((x + 3 * g2 + 1) * (y + 2 * g2 + 1) * (g2 + 13)) % 256
    if (x + y * _SHOT_SIDE) % _SHOT_MOTION_MOD == 0:
        return (base + _SHOT_JITTER * f) % 256
    return base


def _shot_payload(d: int) -> bytes:
    return encode_y4m(
        _SHOT_SIDE,
        _SHOT_SIDE,
        6 + d % 7,
        lambda f, x, y: _shot_luma(d, f, x, y),
    )


@query(
    "mm_video_shot_boundaries",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 6 + doc_id % 7 AS nf
      FROM documents),
    px AS (
      SELECT doc_id, t.f, p.i - 1 AS idx,
             CASE WHEN (p.i - 1) % {_SHOT_MOTION_MOD} = 0
                  THEN (((p.i - 1) % {_SHOT_SIDE}
                         + 3 * (doc_id * 8 + t.f // {_SHOT_LEN}) + 1)
                        * ((p.i - 1) // {_SHOT_SIDE}
                           + 2 * (doc_id * 8 + t.f // {_SHOT_LEN}) + 1)
                        * (doc_id * 8 + t.f // {_SHOT_LEN} + 13)
                        + {_SHOT_JITTER} * t.f) % 256
                  ELSE (((p.i - 1) % {_SHOT_SIDE}
                         + 3 * (doc_id * 8 + t.f // {_SHOT_LEN}) + 1)
                        * ((p.i - 1) // {_SHOT_SIDE}
                           + 2 * (doc_id * 8 + t.f // {_SHOT_LEN}) + 1)
                        * (doc_id * 8 + t.f // {_SHOT_LEN} + 13)) % 256
             END AS v
      FROM d,
           unnest(generate_series(0, CAST(nf - 1 AS INT))) AS t(f),
           unnest(generate_series(1, {_SHOT_SIDE * _SHOT_SIDE})) AS p(i)),
    h AS (
      SELECT doc_id, f, v // {256 // _SHOT_BINS} AS bin, count(*) AS c
      FROM px GROUP BY doc_id, f, v // {256 // _SHOT_BINS}),
    spine AS (
      SELECT doc_id, t.f, b.bin
      FROM d,
           unnest(generate_series(0, CAST(nf - 1 AS INT))) AS t(f),
           unnest(generate_series(0, {_SHOT_BINS - 1})) AS b(bin)),
    hf AS (
      SELECT s.doc_id, s.f, s.bin, coalesce(h.c, 0) AS c
      FROM spine s LEFT JOIN h
        ON h.doc_id = s.doc_id AND h.f = s.f AND h.bin = s.bin),
    pair AS (
      SELECT a.doc_id, a.f AS frame_idx,
             sum(abs(a.c - b.c)) AS l1
      FROM hf a JOIN hf b
        ON a.doc_id = b.doc_id AND a.bin = b.bin AND b.f = a.f - 1
      WHERE a.f >= 1
      GROUP BY a.doc_id, a.f)
    SELECT doc_id, frame_idx,
           CAST(l1 AS BIGINT) AS l1_dist,
           l1 > {_SHOT_L1_THRESHOLD} AS is_boundary
    FROM pair
    """,
)
def mm_video_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection — the video-curation segmentation step
    (cut clips at scene changes, then sample/caption per shot): decode
    every frame's REAL Y-plane into a 16-bin luma histogram (Arrow-
    batched ``mapInPandas`` over real Y4M payloads with planted cuts +
    in-shot motion), then compare consecutive frames with an L1
    histogram distance via a bounded per-clip lag window and flag
    frames whose distance crosses the pinned threshold.  The corpus
    plants cuts every {_SHOT_LEN} frames and sparse-region motion
    in between; measured separation: within-shot max 14 vs cut min 36,
    threshold {_SHOT_L1_THRESHOLD}.  The DuckDB oracle recomputes
    histograms and distances from the pixel definition, so a plane
    offset, histogram binning, or lag-alignment bug breaks the hash.

    Scale: decode+histogram is a narrow map (histograms are
    {_SHOT_BINS} ints per frame, not pixels); the lag window partitions
    by clip (bounded frames per clip), so no unbounded window state;
    downstream shot work scales with cuts, not frames."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _shot_payload)

    def hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                for fr in decode_y4m_frame_hists(p):
                    rows.append(
                        {
                            "doc_id": int(did),
                            "frame_idx": fr["frame_idx"],
                            "hist": fr["hist"],
                        }
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "hist"])

    hists = mm.mapInPandas(
        hist_batches, schema="doc_id long, frame_idx long, hist array<long>"
    )
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    paired = hists.withColumn("prev", F.lag("hist").over(w)).filter(
        F.col("prev").isNotNull()
    )
    l1 = F.expr(
        "aggregate(zip_with(hist, prev, (a, b) -> abs(a - b)), 0L,"
        " (acc, x) -> acc + x)"
    )
    return paired.select(
        "doc_id",
        "frame_idx",
        l1.alias("l1_dist"),
        (l1 > _SHOT_L1_THRESHOLD).alias("is_boundary"),
    )


@query(
    "mm_video_keyframes",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, 6 + doc_id % 7 AS nf
      FROM documents),
    px AS (
      SELECT doc_id, t.f,
             CASE WHEN (p.i - 1) % {_SHOT_MOTION_MOD} = 0
                  THEN (((p.i - 1) % {_SHOT_SIDE}
                         + 3 * (doc_id * 8 + t.f // {_SHOT_LEN}) + 1)
                        * ((p.i - 1) // {_SHOT_SIDE}
                           + 2 * (doc_id * 8 + t.f // {_SHOT_LEN}) + 1)
                        * (doc_id * 8 + t.f // {_SHOT_LEN} + 13)
                        + {_SHOT_JITTER} * t.f) % 256
                  ELSE (((p.i - 1) % {_SHOT_SIDE}
                         + 3 * (doc_id * 8 + t.f // {_SHOT_LEN}) + 1)
                        * ((p.i - 1) // {_SHOT_SIDE}
                           + 2 * (doc_id * 8 + t.f // {_SHOT_LEN}) + 1)
                        * (doc_id * 8 + t.f // {_SHOT_LEN} + 13)) % 256
             END AS v
      FROM d,
           unnest(generate_series(0, CAST(nf - 1 AS INT))) AS t(f),
           unnest(generate_series(1, {_SHOT_SIDE * _SHOT_SIDE})) AS p(i)),
    h AS (
      SELECT doc_id, f, v // {256 // _SHOT_BINS} AS bin, count(*) AS c
      FROM px GROUP BY doc_id, f, v // {256 // _SHOT_BINS}),
    spine AS (
      SELECT doc_id, t.f, b.bin
      FROM d,
           unnest(generate_series(0, CAST(nf - 1 AS INT))) AS t(f),
           unnest(generate_series(0, {_SHOT_BINS - 1})) AS b(bin)),
    hf AS (
      SELECT s.doc_id, s.f, s.bin, coalesce(h.c, 0) AS c
      FROM spine s LEFT JOIN h
        ON h.doc_id = s.doc_id AND h.f = s.f AND h.bin = s.bin),
    frames AS (
      SELECT doc_id, f,
             sum(CASE WHEN c > {256 // _SHOT_BINS}
                      THEN c - {256 // _SHOT_BINS}
                      ELSE {256 // _SHOT_BINS} - c END) AS contrast
      FROM hf GROUP BY doc_id, f),
    l1 AS (
      SELECT a.doc_id, a.f,
             sum(CASE WHEN a.c > b.c THEN a.c - b.c ELSE b.c - a.c END) AS l1
      FROM hf a JOIN hf b
        ON a.doc_id = b.doc_id AND a.bin = b.bin AND b.f = a.f - 1
      WHERE a.f >= 1
      GROUP BY a.doc_id, a.f),
    shots AS (
      SELECT fr.doc_id, fr.f, fr.contrast,
             sum(CASE WHEN l1.l1 > {_SHOT_L1_THRESHOLD} THEN 1 ELSE 0 END)
               OVER (PARTITION BY fr.doc_id ORDER BY fr.f
                     ROWS UNBOUNDED PRECEDING) AS shot_id
      FROM frames fr LEFT JOIN l1
        ON l1.doc_id = fr.doc_id AND l1.f = fr.f),
    ranked AS (
      SELECT doc_id, shot_id, f, contrast,
             row_number() OVER (PARTITION BY doc_id, shot_id
                                ORDER BY contrast DESC, f) AS rn
      FROM shots)
    SELECT doc_id,
           CAST(shot_id AS BIGINT) AS shot_id,
           CAST(f AS BIGINT) AS keyframe_idx,
           CAST(contrast AS BIGINT) AS contrast
    FROM ranked WHERE rn = 1
    """,
)
def mm_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe extraction — the step after shot detection in a video
    curation pipeline (segment, then caption/embed ONE representative
    frame per shot instead of all of them): derive shot ids from the
    DETECTED boundaries (running count of threshold crossings, not the
    planted structure), score each frame by an integer contrast proxy (L1
    deviation of its luma histogram from uniform), and keep the
    highest-contrast frame per (clip, shot), ties broken to the
    earliest frame.

    Every stage after the histogram mapInPandas is per-clip bounded:
    the lag/running-sum windows partition by clip (<= a dozen frames),
    the argmax is a row_number over (clip, shot) — no unbounded window
    state anywhere, and downstream work scales with shots, not frames.
    The DuckDB oracle recomputes histograms, distances, shot ids, and
    the argmax from the pixel definition."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _shot_payload)

    def hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                for fr in decode_y4m_frame_hists(p):
                    rows.append(
                        {
                            "doc_id": int(did),
                            "frame_idx": fr["frame_idx"],
                            "hist": fr["hist"],
                        }
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "hist"])

    hists = mm.mapInPandas(
        hist_batches, schema="doc_id long, frame_idx long, hist array<long>"
    )
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    l1 = F.expr(
        "aggregate(zip_with(hist, prev, (a, b) -> abs(a - b)), 0L,"
        " (acc, x) -> acc + x)"
    )
    uniform = 256 // _SHOT_BINS
    contrast = F.expr(
        f"aggregate(hist, 0L, (acc, c) -> acc + abs(c - {uniform}))"
    )
    shots = (
        hists.withColumn("prev", F.lag("hist").over(w))
        .withColumn(
            "is_cut",
            F.when(
                F.col("prev").isNotNull() & (l1 > _SHOT_L1_THRESHOLD), 1
            ).otherwise(0),
        )
        .withColumn(
            "shot_id",
            F.sum("is_cut").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .withColumn("contrast", contrast)
    )
    rn = F.row_number().over(
        W.partitionBy("doc_id", "shot_id").orderBy(
            F.col("contrast").desc(), "frame_idx"
        )
    )
    return (
        shots.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "shot_id",
            F.col("frame_idx").alias("keyframe_idx"),
            F.col("contrast").cast("long").alias("contrast"),
        )
    )


# -- voice-activity / silence segmentation ----------------------------------

_VAD_WINDOWS = 15
_VAD_WIN = 64  # samples per window -> 960-sample clips
_VAD_ENERGY_THRESHOLD = 10000  # active windows land ~4e7, silence <= 576


def _vad_active(doc_id: int, w: int) -> bool:
    return ((doc_id * 5 + w * w) % 7) < 4


def _vad_sample(doc_id: int, i: int) -> int:
    """Planted corpus: speech windows carry a loud integer waveform,
    silence windows near-zero jitter — the energy gap a VAD keys on."""
    if _vad_active(doc_id, i // _VAD_WIN):
        return 800 + ((i * 37) % 400) - 200
    return ((i * 13) % 7) - 3


def _vad_payload(doc_id: int) -> bytes:
    return encode_wav(_VAD_WINDOWS * _VAD_WIN, lambda i: _vad_sample(doc_id, i))


@query(
    "mm_audio_vad_segments",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             (t.i - 1) // {_VAD_WIN} AS w,
             CASE WHEN ((doc_id * 5 + ((t.i - 1) // {_VAD_WIN})
                         * ((t.i - 1) // {_VAD_WIN})) % 7) < 4
                  THEN 800 + ((t.i - 1) * 37) % 400 - 200
                  ELSE ((t.i - 1) * 13) % 7 - 3 END AS amp
      FROM documents,
           unnest(generate_series(1, {_VAD_WINDOWS * _VAD_WIN})) AS t(i)),
    e AS (
      SELECT doc_id, w,
             CAST(sum(CAST(amp AS HUGEINT) * amp) AS BIGINT) AS energy,
             sum(CAST(amp AS HUGEINT) * amp)
               > {_VAD_ENERGY_THRESHOLD} AS is_speech
      FROM s GROUP BY doc_id, w),
    chg AS (
      SELECT doc_id, w, energy, is_speech,
             CASE WHEN is_speech IS DISTINCT FROM
                       lag(is_speech) OVER (PARTITION BY doc_id ORDER BY w)
                  THEN 1 ELSE 0 END AS chg
      FROM e),
    seg AS (
      SELECT doc_id, w, energy, is_speech,
             sum(chg) OVER (PARTITION BY doc_id ORDER BY w
                            ROWS UNBOUNDED PRECEDING) AS seg_id
      FROM chg)
    SELECT doc_id,
           CAST(seg_id AS BIGINT) AS seg_id,
           bool_or(is_speech) AS is_speech,
           CAST(min(w) AS BIGINT) AS start_window,
           CAST(max(w) AS BIGINT) AS end_window,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(energy) AS BIGINT) AS energy_sum
    FROM seg GROUP BY doc_id, seg_id
    """,
)
def mm_audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation — the audio-curation analog of shot
    detection (trim silence before ASR; keep per-utterance segments):
    decode real WAV clips (planted alternating speech/silence windows),
    compute per-window integer energies in the Arrow-batched decode
    stage, threshold into speech/silence, and collapse runs into
    segments with the gaps-and-islands pattern (lag + running transition
    count over a per-clip bounded window).  One row per segment with
    its window span and exact energy mass.

    The first seg_id counts a transition for window 0 (lag is NULL and
    ``IS DISTINCT FROM`` treats NULL as a change) — both engines agree
    because the Spark leg uses the same null-safe inequality.

    Scale: energies leave the Python stage as {_VAD_WINDOWS} ints per
    clip (not samples); all windows partition by clip; downstream ASR
    work scales with SPEECH segments, not clip length."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _vad_payload)

    def energy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                nch, _rate, samples = decode_wav_samples(p)
                if nch != 1:
                    raise ValueError("VAD expects mono clips")
                win = len(samples) // _VAD_WINDOWS
                for w in range(_VAD_WINDOWS):
                    e = sum(s * s for s in samples[w * win : (w + 1) * win])
                    rows.append(
                        {"doc_id": int(did), "w": w, "energy": e}
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "w", "energy"])

    e = mm.mapInPandas(energy_batches, schema="doc_id long, w long, energy long")
    win = W.partitionBy("doc_id").orderBy("w")
    speech = F.col("energy") > _VAD_ENERGY_THRESHOLD
    seg = (
        e.withColumn("is_speech", speech)
        .withColumn(
            "chg",
            (
                ~F.col("is_speech").eqNullSafe(F.lag("is_speech").over(win))
            ).cast("int"),
        )
        .withColumn(
            "seg_id", F.sum("chg").over(win.rowsBetween(W.unboundedPreceding, 0))
        )
    )
    return seg.groupBy("doc_id", "seg_id").agg(
        F.bool_or("is_speech").alias("is_speech"),
        F.min("w").alias("start_window"),
        F.max("w").alias("end_window"),
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("energy").alias("energy_sum"),
    )
