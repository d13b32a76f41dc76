"""TOTAL payload triage: one dispatcher over EVERY format the engine
decodes — the real mixed-dump story for a 100 TB lake column of
undifferentiated bytes.  Routes in three tiers, each a positive
identification (magic bytes, CRC proof, or structural header), never a
fallback guess:

1. containers (``dispatch2.identify_container``): parquet, Avro, gzip,
   zstd, WARC, ZIP/NPZ, tar, TFRecord (masked-CRC32C proof),
   safetensors (JSON-header structural check);
2. media (``multimodal.decode_image_auto``): PPM, PNG, JPEG
   baseline/progressive gray/color, GIF, QOI, BMP, WAV, Y4M;
3. audio metadata: FLAC (``fLaC``), ID3v2 tags (``ID3``), then MPEG-1
   Layer III — the one format with NO magic, proven by actually
   walking a valid frame header chain;

anything else raises ValueError — the quarantine path (a dispatcher
that guesses is worse than one that refuses).

Tier order resolves every ambiguity by construction: container checks
precede media ones (a safetensors u64 header length cannot collide
with any planted media magic — all media magics put a byte >= 0x40 in
the high positions of the first 8 bytes, pushing the would-be header
length past any real payload size), and the magic-less MP3 sync scan
runs last so it can never shadow a real magic.

Scale shape: the standard decode-family plan — two stateless
Arrow-batched ``mapInPandas`` stages, payloads never shuffled, no
Python outside the Arrow batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .dispatch2 import (
    _FORMATS,
    _container_payload,
    decode_container_auto,
    identify_container,
)
from .multimodal import _image_payload, decode_image_auto
from .payloads import decode_payloads, synth_payloads

_MEDIA_MAGICS = (
    b"P6",
    b"\x89PNG\r\n\x1a\n",
    b"\xff\xd8",
    b"GIF87a",
    b"GIF89a",
    b"qoif",
    b"BM",
    b"YUV4MPEG2",
)


def decode_any_auto(payload: bytes) -> dict:
    """Identify + decode one payload of ANY supported format.  Returns
    ``{"family": str, "format": str, "n_items": int}`` — n_items is
    the container's natural item count, the planted media unit (1), or
    the audio stream's frame count.  Raises ValueError on anything
    unrecognized (quarantine) or malformed (decode errors propagate —
    a recognized-but-corrupt payload must never be re-routed)."""
    fmt = identify_container(payload)
    if fmt is not None:
        m = decode_container_auto(payload)
        return {
            "family": "container",
            "format": m["format"],
            "n_items": m["n_items"],
        }
    if payload.startswith(_MEDIA_MAGICS) or (
        payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
    ):
        m = decode_image_auto(payload)
        return {"family": "media", "format": m["format"], "n_items": 1}
    if payload[:4] == b"fLaC":
        from .multimodal11 import decode_flac_streaminfo

        decode_flac_streaminfo(payload)
        return {"family": "audio", "format": "flac", "n_items": 1}
    if payload[:3] == b"ID3":
        from .multimodal12 import decode_id3_frames

        m = decode_id3_frames(payload)
        return {"family": "audio", "format": "id3", "n_items": m["n_frames"]}
    if len(payload) >= 4 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0:
        # no magic: prove MP3 by walking the full frame-header chain
        from .multimodal11 import decode_mp3_frames

        m = decode_mp3_frames(payload)
        return {"family": "audio", "format": "mp3", "n_items": m["n_frames"]}
    raise ValueError("unrecognized payload format (quarantine)")


# the 21-format mixed corpus: eleven containers, seven media, three audio
_ANY_KINDS = list(_FORMATS) + [
    "orc",
    "ppm", "png", "qoi", "bmp", "gif", "wav", "y4m", "mp3", "flac", "id3",
]

# Explicit image-kind -> _image_payload family index (ADVICE r9: deriving
# this from _ANY_KINDS list position silently shifts every image family
# if a kind is ever inserted before "ppm").
_IMAGE_FAMILY = {"ppm": 0, "png": 1, "qoi": 2, "bmp": 3, "gif": 4}


def _any_payload(doc_id: int) -> bytes:
    kind = _ANY_KINDS[doc_id % 21]
    if kind in _FORMATS:
        return _container_payload(kind, doc_id)
    if kind == "orc":
        from .lakehouse import _orc_payload

        return _orc_payload(doc_id)
    if kind in _IMAGE_FAMILY:
        return _image_payload(_IMAGE_FAMILY[kind], doc_id)
    if kind == "wav":
        from .multimodal4 import encode_wav

        return encode_wav(
            50 + doc_id % 30,
            lambda i: ((doc_id * 31 + i * 7) % 65536) - 32768,
        )
    if kind == "y4m":
        from .multimodal4 import encode_y4m

        return encode_y4m(
            4 + 2 * (doc_id % 3),
            2 + 2 * (doc_id % 2),
            1 + doc_id % 3,
            lambda f, x, y: (doc_id + x + y * 3 + f * 7) % 256,
        )
    if kind == "mp3":
        from .multimodal11 import encode_mp3_stream

        n = 3 + doc_id % 6
        return encode_mp3_stream(
            [(1 + (doc_id + k) % 14, doc_id % 3) for k in range(n)]
        )
    if kind == "flac":
        from .multimodal12 import _flac_payload

        return _flac_payload(doc_id)
    from .multimodal12 import _id3_mp3_payload

    return _id3_mp3_payload(doc_id)


def _any_stats(p: bytes) -> dict:
    m = decode_any_auto(p)
    return {
        "family": m["family"],
        "fmt": m["format"],
        "n_items": m["n_items"],
    }


@query(
    "mm_any_auto_dispatch_stats",
    oracle="""
    WITH d AS (SELECT doc_id, doc_id % 21 AS kind FROM documents)
    SELECT doc_id,
           CASE WHEN kind < 11 THEN 'container'
                WHEN kind < 18 THEN 'media'
                ELSE 'audio' END AS family,
           list_extract(['gzip','zip','tar','warc','zstd','avro',
                         'tfrecord','npz','safetensors','parquet','orc',
                         'ppm','png','qoi','bmp','gif','wav','y4m',
                         'mp3','flac','id3'],
                        CAST(1 + kind AS INT)) AS fmt,
           CAST(CASE kind
                WHEN 0 THEN 1
                WHEN 1 THEN 2 + doc_id % 4
                WHEN 2 THEN 2 + doc_id % 4
                WHEN 3 THEN 1 + 2 * (1 + doc_id % 3)
                WHEN 4 THEN 2 + doc_id % 3
                WHEN 5 THEN 30 + doc_id % 40
                WHEN 6 THEN 2 + doc_id % 4
                WHEN 7 THEN 1 + doc_id % 3
                WHEN 8 THEN 2 + doc_id % 3
                WHEN 9 THEN CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                WHEN 10 THEN 1 + doc_id % 4
                WHEN 18 THEN 3 + doc_id % 6
                WHEN 20 THEN 4
                ELSE 1 END AS BIGINT) AS n_items
    FROM d
    """,
)
def mm_any_auto_dispatch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One TOTAL triage pass over a mixed dump of all TWENTY-ONE
    formats (by doc_id mod 21): eleven containers (incl. ORC), five
    still images, WAV, Y4M, and the three audio-metadata formats —
    including the two proof-identified containers (TFRecord,
    safetensors) and the magic-less MP3.  The oracle re-derives
    family, format, and item counts from the planting formulas; any
    misroute errors in the wrong decoder or breaks a count."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _any_payload)
    return decode_payloads(mm, _any_stats, "family string, fmt string, n_items long")


@query(
    "mm_any_auto_quarantine_stats",
    oracle="""
    WITH d AS (SELECT doc_id, doc_id % 21 AS kind FROM documents)
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 3 THEN 'quarantine'
                WHEN kind < 11 THEN 'container'
                WHEN kind < 18 THEN 'media'
                ELSE 'audio' END AS family,
           CASE WHEN doc_id % 7 = 3 THEN 'quarantine'
                ELSE list_extract(['gzip','zip','tar','warc','zstd',
                         'avro','tfrecord','npz','safetensors','parquet',
                         'orc','ppm','png','qoi','bmp','gif','wav','y4m',
                         'mp3','flac','id3'],
                        CAST(1 + kind AS INT)) END AS fmt,
           CAST(CASE WHEN doc_id % 7 = 3 THEN 0
                ELSE CASE kind
                WHEN 0 THEN 1
                WHEN 1 THEN 2 + doc_id % 4
                WHEN 2 THEN 2 + doc_id % 4
                WHEN 3 THEN 1 + 2 * (1 + doc_id % 3)
                WHEN 4 THEN 2 + doc_id % 3
                WHEN 5 THEN 30 + doc_id % 40
                WHEN 6 THEN 2 + doc_id % 4
                WHEN 7 THEN 1 + doc_id % 3
                WHEN 8 THEN 2 + doc_id % 3
                WHEN 9 THEN CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                WHEN 10 THEN 1 + doc_id % 4
                WHEN 18 THEN 3 + doc_id % 6
                WHEN 20 THEN 4
                ELSE 1 END END AS BIGINT) AS n_items,
           CAST(CASE WHEN doc_id % 7 = 3 THEN 0 ELSE 1 END AS BIGINT)
             AS ok
    FROM d
    """,
)
def mm_any_auto_quarantine_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The triage behavior that actually matters at 100 TB: one bad
    record must become a QUARANTINE ROW, never a failed job.  Every
    7th document's payload is provably unrecognizable (a planted
    garbage prefix); the decode stage catches ValueError — and ONLY
    ValueError, anything else is a decoder bug and still fails the
    task — and emits (family='quarantine', n_items=0, ok=0).  The
    oracle re-derives the good-row counts and the quarantine mask."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _garbled_any_payload)
    return decode_payloads(
        mm, _quarantine_stats, "family string, fmt string, n_items long, ok long"
    )


def _garbled_any_payload(doc_id: int) -> bytes:
    if doc_id % 7 == 3:
        return b"\x00GARBAGE" + bytes(8)
    return _any_payload(doc_id)


def _quarantine_stats(p: bytes) -> dict:
    try:
        m = decode_any_auto(p)
    except ValueError:
        return {"family": "quarantine", "fmt": "quarantine", "n_items": 0, "ok": 0}
    return {"family": m["family"], "fmt": m["format"], "n_items": m["n_items"], "ok": 1}
