"""Audio / animation metadata queries over the round-7 decoders:
MP3 frame-header walk (ISO/IEC 11172-3), FLAC STREAMINFO (xiph spec),
and animated GIF (GIF89a NETSCAPE2.0 + GCE delays).

The decoders live in ``multimodal11`` (MP3, FLAC) and ``multimodal6``
(animated GIF); this module drives each end-to-end over the documents
table the standard decode-family way — synthesize a spec-valid payload
per document in one Arrow-batched ``mapInPandas`` stage, REALLY decode
it in the next, emit exact integer statistics the DuckDB oracle
re-derives from the planting formulas.

No reference counterpart — north-star LLM-pipeline additions (audio and
animation metadata are the triage pass of a multimodal crawl: duration,
bitrate profile, frame counts decide what is worth full decode).

Scale shape (all three): two narrow stateless mapInPandas stages, no
shuffle, payloads never leave the executor that built them — the same
plan a 100 TB metadata sweep runs, throughput scaling with executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .multimodal6 import decode_gif_frames, encode_gif_animation
from .multimodal11 import (
    decode_flac_streaminfo,
    decode_mp3_frames,
    encode_flac_streaminfo,
    encode_mp3_stream,
)
from .payloads import decode_payloads, synth_payloads

# --------------------------------------------------------------------------
# MP3: planted frame streams.  Per document: samplerate index doc_id%3,
# 3 + doc_id%6 frames whose bitrate index walks 1 + (doc_id+k)%14, and
# an ID3v2 tag of (doc_id%4)*50 bytes (none when doc_id%4 == 0).
# --------------------------------------------------------------------------


def _mp3_payload(doc_id: int) -> bytes:
    n = 3 + doc_id % 6
    si = doc_id % 3
    frames = [(1 + (doc_id + k) % 14, si) for k in range(n)]
    return encode_mp3_stream(frames, id3_size=(doc_id % 4) * 50)


def _mp3_stats(p: bytes) -> dict:
    m = decode_mp3_frames(p)
    return {
        "n_frames": m["n_frames"],
        "duration_us": m["duration_us"],
        "kbps_min": m["kbps_min"],
        "kbps_max": m["kbps_max"],
        "is_vbr": 1 if m["is_vbr"] else 0,
        "has_id3": 1 if p[:3] == b"ID3" else 0,
    }


@query(
    "mm_decode_mp3_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             3 + doc_id % 6 AS n,
             list_extract([44100, 48000, 32000],
                          CAST(1 + doc_id % 3 AS INT)) AS sr
      FROM documents),
    fr AS (
      SELECT doc_id, n, sr,
             list_extract(
               [32,40,48,56,64,80,96,112,128,160,192,224,256,320],
               CAST(1 + (doc_id + t.i - 1) % 14 AS INT)) AS kbps
      FROM d, unnest(generate_series(1, CAST(n AS INT))) AS t(i))
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n * (1152000000 // sr) AS BIGINT) AS duration_us,
           CAST(min(kbps) AS BIGINT) AS kbps_min,
           CAST(max(kbps) AS BIGINT) AS kbps_max,
           CAST(CASE WHEN count(DISTINCT kbps) > 1 THEN 1 ELSE 0 END
                AS BIGINT) AS is_vbr,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END AS BIGINT)
             AS has_id3
    FROM fr GROUP BY doc_id, n, sr
    """,
)
def mm_decode_mp3_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossy-audio triage end-to-end: per document a spec-valid MPEG-1
    Layer III stream (bitrate indices walking the table, samplerate by
    doc parity, ID3v2.4 tag on 3 of 4 docs) is built in one mapInPandas
    stage and REALLY walked in the next — syncsafe ID3 skip, 11-bit
    sync, bitrate/samplerate lookup, padding-aware frame-length
    arithmetic, exact integer microsecond duration.  The oracle
    re-derives every statistic from the planting formulas; a mis-sized
    ID3 skip or off-by-one frame length loses sync and errors."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _mp3_payload)
    return decode_payloads(
        mm,
        _mp3_stats,
        "n_frames long, duration_us long, kbps_min long, "
        "kbps_max long, is_vbr long, has_id3 long",
    )


# --------------------------------------------------------------------------
# FLAC: planted STREAMINFO.  Per document: sample rate from a 7-entry
# table, channels 1..8, 16/24-bit, total samples (doc_id*977)%1e7 + 1,
# and doc_id%3 extra padding-style metadata blocks.
# --------------------------------------------------------------------------

_FLAC_RATES = [8000, 16000, 22050, 24000, 32000, 44100, 48000]


def _flac_payload(doc_id: int) -> bytes:
    extra = [
        (4, bytes((doc_id + j) % 256 for j in range(10 + doc_id % 5)))
        for _ in range(doc_id % 3)
    ]
    return encode_flac_streaminfo(
        sample_rate=_FLAC_RATES[doc_id % 7],
        channels=1 + doc_id % 8,
        bits_per_sample=16 + 8 * (doc_id % 2),
        total_samples=1 + (doc_id * 977) % 10_000_000,
        extra_blocks=extra,
    )


def _flac_stats(p: bytes) -> dict:
    m = decode_flac_streaminfo(p)
    return {
        k: m[k]
        for k in (
            "sample_rate",
            "channels",
            "bits_per_sample",
            "total_samples",
            "duration_us",
            "n_blocks",
        )
    }


@query(
    "mm_decode_flac_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_extract([8000, 16000, 22050, 24000, 32000, 44100, 48000],
                          CAST(1 + doc_id % 7 AS INT)) AS sr,
             1 + (doc_id * 977) % 10000000 AS total
      FROM documents)
    SELECT doc_id,
           CAST(sr AS BIGINT) AS sample_rate,
           CAST(1 + doc_id % 8 AS BIGINT) AS channels,
           CAST(16 + 8 * (doc_id % 2) AS BIGINT) AS bits_per_sample,
           CAST(total AS BIGINT) AS total_samples,
           CAST(total * 1000000 // sr AS BIGINT) AS duration_us,
           CAST(1 + doc_id % 3 AS BIGINT) AS n_blocks
    FROM d
    """,
)
def mm_decode_flac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-audio triage end-to-end: per document a spec-valid FLAC
    header (STREAMINFO with packed 20/3/5/36-bit fields + a varying
    tail of skippable metadata blocks carrying the last-block flag) is
    built and REALLY walked back — block-header iteration, bit-field
    unpacking, exact integer microsecond duration.  The oracle
    re-derives everything from the planting formulas; a bit-offset
    mistake in the packed field scrambles rate/channels/bps for the
    whole corpus."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _flac_payload)
    return decode_payloads(
        mm,
        _flac_stats,
        "sample_rate long, channels long, "
        "bits_per_sample long, total_samples long, duration_us long, "
        "n_blocks long",
    )


# --------------------------------------------------------------------------
# Animated GIF: planted multi-frame animations.  Per document:
# (8 + doc_id%5) x (6 + doc_id%3) canvas, 2 + doc_id%4 frames, frame f
# pixel index (x + y + doc_id + f) % 4 over a 4-color palette with reds
# [10, 30, 70, 150], per-frame delay 5 + (doc_id + f) % 10 cs.
# --------------------------------------------------------------------------

_GIF_PALETTE = [(10, 1, 2), (30, 3, 4), (70, 5, 6), (150, 7, 8)]


def _gif_anim_payload(doc_id: int) -> bytes:
    w, h = 8 + doc_id % 5, 6 + doc_id % 3
    nf = 2 + doc_id % 4
    frames = [
        (lambda x, y, f=f, d=doc_id: (x + y + d + f) % 4) for f in range(nf)
    ]
    delays = [5 + (doc_id + f) % 10 for f in range(nf)]
    return encode_gif_animation(w, h, _GIF_PALETTE, frames, delays)


def _gif_anim_stats(p: bytes) -> dict:
    m = decode_gif_frames(p)
    return {
        "n_frames": m["n_frames"],
        "width": m["width"],
        "height": m["height"],
        "duration_cs": m["duration_cs"],
        "delay_min": min(m["delays_cs"]),
        "delay_max": max(m["delays_cs"]),
        "red_total": sum(m["sum_r_frames"]),
    }


@query(
    "mm_decode_gif_anim_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h,
             2 + doc_id % 4 AS nf
      FROM documents),
    red AS (
      SELECT d.doc_id,
             CAST(sum(list_extract(
               [10, 30, 70, 150],
               CAST(1 + ((c.i - 1) % w + (c.i - 1) // w
                         + d.doc_id + f.i - 1) % 4 AS INT))) AS BIGINT)
               AS red_total
      FROM d,
           unnest(generate_series(1, CAST(nf AS INT))) AS f(i),
           unnest(generate_series(1, CAST(w * h AS INT))) AS c(i)
      GROUP BY d.doc_id),
    del AS (
      SELECT d.doc_id,
             CAST(sum(5 + (d.doc_id + f.i - 1) % 10) AS BIGINT)
               AS duration_cs,
             CAST(min(5 + (d.doc_id + f.i - 1) % 10) AS BIGINT) AS delay_min,
             CAST(max(5 + (d.doc_id + f.i - 1) % 10) AS BIGINT) AS delay_max
      FROM d, unnest(generate_series(1, CAST(nf AS INT))) AS f(i)
      GROUP BY d.doc_id)
    SELECT d.doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           del.duration_cs, del.delay_min, del.delay_max, red.red_total
    FROM d
    JOIN red ON red.doc_id = d.doc_id
    JOIN del ON del.doc_id = d.doc_id
    """,
)
def mm_decode_gif_anim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animation triage end-to-end: per document a spec-valid animated
    GIF89a (NETSCAPE2.0 loop extension, per-frame Graphic Control
    Extensions with centisecond delays, full LZW frame data) is built
    and REALLY decoded — every frame's LZW stream inflated, delays
    collected, palette-mapped red-channel energy summed.  The oracle
    re-derives frame counts, delay aggregates, and the exact red total
    from the planting formulas; a GCE mis-walk shifts delays, an LZW
    bug breaks the red hash."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _gif_anim_payload)
    return decode_payloads(
        mm,
        _gif_anim_stats,
        "n_frames long, width long, height long, "
        "duration_cs long, delay_min long, delay_max long, red_total long",
    )


# --------------------------------------------------------------------------
# ID3v2.4 frame walk (informal-but-public id3.org spec): the tag the
# MP3 query skips, now actually parsed — titles/artists/track numbers
# are the audio-metadata fields a curation pipeline keys on.
# --------------------------------------------------------------------------


def encode_id3v2(frames: list[tuple[str, str]]) -> bytes:
    """Spec-valid ID3v2.4 tag from ``(frame_id, text)`` pairs: 10-byte
    header with syncsafe size, per-frame 10-byte header (4-char id,
    syncsafe size, 2 flag bytes), text frames carry encoding byte 3
    (UTF-8) + the text."""
    body = bytearray()
    for fid, text in frames:
        if len(fid) != 4 or not fid.isalnum() or not fid.isupper():
            raise ValueError(f"invalid frame id {fid!r}")
        payload = b"\x03" + text.encode("utf-8")
        n = len(payload)
        if n >= 1 << 28:
            raise ValueError("frame too large for syncsafe size")
        ss = bytes(
            [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
        )
        body += fid.encode("ascii") + ss + b"\x00\x00" + payload
    n = len(body)
    ss = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
    return b"ID3\x04\x00\x00" + ss + bytes(body)


def decode_id3_frames(payload: bytes) -> dict:
    """REAL ID3v2.4 walk: header validation (version, flags, syncsafe
    size), frame iteration (id charset, syncsafe frame size, flag
    bytes), text-frame decoding (encoding byte: 0 latin-1, 3 UTF-8),
    padding detection (a zero byte ends the frame area).  Returns
    ``{"frames": {id: text}, "n_frames": int, "tag_size": int}``.
    Raises ValueError on malformed input."""
    if payload[:3] != b"ID3":
        raise ValueError("not an ID3v2 tag")
    if len(payload) < 10:
        raise ValueError("truncated ID3v2 header")
    ver_major, ver_rev, flags = payload[3], payload[4], payload[5]
    if ver_major not in (3, 4):
        raise ValueError(f"unsupported ID3v2.{ver_major} tag")
    if flags & 0x0F:
        raise ValueError(f"unsupported ID3v2 header flags {flags:#04x}")
    if flags & 0x80:
        # unsynchronised tags shift every frame boundary; parsing one
        # without de-unsynchronisation yields silently-wrong text
        raise ValueError("unsynchronised ID3v2 tag not supported")
    if flags & 0x40:
        raise ValueError("extended header not supported")
    if flags & 0x10:
        raise ValueError("ID3v2 footer not supported")
    ss = payload[6:10]
    if any(b & 0x80 for b in ss):
        raise ValueError("non-syncsafe ID3v2 size")
    size = (ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3]
    if 10 + size > len(payload):
        raise ValueError("ID3v2 tag extends past end of payload")
    frames: dict[str, str] = {}
    i = 10
    end = 10 + size
    while i < end:
        if payload[i] == 0:
            break  # padding
        if i + 10 > end:
            raise ValueError("truncated frame header")
        fid_raw = payload[i : i + 4]
        try:
            fid = fid_raw.decode("ascii")
        except UnicodeDecodeError as exc:
            raise ValueError(f"non-ASCII frame id {fid_raw!r}") from exc
        if not all(c.isupper() or c.isdigit() for c in fid):
            raise ValueError(f"invalid frame id {fid!r}")
        fss = payload[i + 4 : i + 8]
        if ver_major == 4:
            if any(b & 0x80 for b in fss):
                raise ValueError("non-syncsafe frame size")
            fsize = (fss[0] << 21) | (fss[1] << 14) | (fss[2] << 7) | fss[3]
        else:  # v2.3: plain big-endian
            fsize = int.from_bytes(fss, "big")
        i += 10
        if i + fsize > end:
            raise ValueError(f"frame {fid} extends past the tag")
        data = payload[i : i + fsize]
        i += fsize
        if fid.startswith("T") and fsize >= 1:
            enc = data[0]
            raw = data[1:].split(b"\x00", 1)[0]
            if enc == 0:
                frames[fid] = raw.decode("latin-1")
            elif enc == 3:
                try:
                    frames[fid] = raw.decode("utf-8")
                except UnicodeDecodeError as exc:
                    raise ValueError(f"bad UTF-8 in {fid}") from exc
            else:
                raise ValueError(f"unsupported text encoding {enc} in {fid}")
        # non-text frames: walked (size discipline) but not decoded
    return {"frames": frames, "n_frames": len(frames), "tag_size": size}


def _id3_mp3_payload(doc_id: int) -> bytes:
    """An MP3 stream opening with a REAL ID3v2.4 tag (not padding):
    title/artist/album/track frames from doc_id formulas, then the
    frame stream of ``_mp3_payload``'s family."""
    tag = encode_id3v2(
        [
            ("TIT2", f"Title {doc_id}"),
            ("TPE1", f"artist{doc_id % 20}"),
            ("TALB", f"album{doc_id % 7}"),
            ("TRCK", str(1 + doc_id % 12)),
        ]
    )
    n = 2 + doc_id % 5
    si = doc_id % 3
    frames = [(1 + (doc_id * 3 + k) % 14, si) for k in range(n)]
    return tag + encode_mp3_stream(frames)


def _id3_stats(p: bytes) -> dict:
    tag = decode_id3_frames(p)
    audio = decode_mp3_frames(p)
    f = tag["frames"]
    return {
        "n_frames": tag["n_frames"],
        "title_len": len(f["TIT2"]),
        "artist_len": len(f["TPE1"]),
        "album_len": len(f["TALB"]),
        "track": int(f["TRCK"]),
        "n_audio_frames": audio["n_frames"],
        "duration_us": audio["duration_us"],
    }


@query(
    "mm_id3_tags_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 5 AS n,
             list_extract([44100, 48000, 32000],
                          CAST(1 + doc_id % 3 AS INT)) AS sr
      FROM documents)
    SELECT doc_id,
           CAST(4 AS BIGINT) AS n_frames,
           CAST(length('Title ' || CAST(doc_id AS VARCHAR)) AS BIGINT)
             AS title_len,
           CAST(length('artist' || CAST(doc_id % 20 AS VARCHAR)) AS BIGINT)
             AS artist_len,
           CAST(length('album' || CAST(doc_id % 7 AS VARCHAR)) AS BIGINT)
             AS album_len,
           CAST(1 + doc_id % 12 AS BIGINT) AS track,
           CAST(n AS BIGINT) AS n_audio_frames,
           CAST(n * (1152000000 // sr) AS BIGINT) AS duration_us
    FROM d
    """,
)
def mm_id3_tags_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-metadata extraction two layers deep: per document an MP3
    opening with a REAL ID3v2.4 tag (UTF-8 text frames, syncsafe frame
    sizes) followed by a frame stream; the decode stage parses the TAG
    with the frame walk (title/artist/album lengths, integer track
    number) and the AUDIO with the frame-header walk (count, exact
    duration).  The oracle re-derives both layers from the planting
    formulas; a syncsafe or frame-boundary mistake shifts every field."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _id3_mp3_payload)
    return decode_payloads(
        mm,
        _id3_stats,
        "n_frames long, title_len long, artist_len long, "
        "album_len long, track long, n_audio_frames long, duration_us long",
    )
