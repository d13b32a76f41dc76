"""Universal container triage: magic-byte (and, where a format has no
magic, structure-proof) dispatch over EVERY at-rest format the engine
decodes — gzip, ZIP, tar, WARC, zstd, Avro, TFRecord, NPZ,
safetensors, parquet — the round-8 capstone of the ingest stack, and
the image twin of round 7's ``decode_image_auto``.

Detection rules (checked in this order; each is a positive
identification, not a fallback chain):

- parquet:    leading AND trailing ``PAR1``
- Avro:       ``Obj\\x01``
- gzip:       ``\\x1f\\x8b``
- zstd:       LE magic 0xFD2FB528 or a skippable-frame magic
- WARC:       ``WARC/`` version line
- NPZ/ZIP:    ``PK\\x03\\x04`` local header (NPZ when every member name
              ends ``.npy`` — probed via the central directory)
- tar:        ``ustar`` at offset 257 (POSIX magic)
- TFRecord:   NO magic — identified by PROOF: the masked CRC32C of the
              first 8 bytes must equal bytes 8..12 (a 1-in-2^32
              accident rate, far stronger than any magic)
- safetensors: NO magic — u64 header length in range and the header
              bytes parse as a JSON object (``{``)

Everything else raises ValueError (quarantine path).  The dispatcher
returns a uniform ``(format, n_items)`` census — items are the
format's natural unit (members/records/blocks/tensors/row groups) —
so one triage pass can route a mixed 100 TB dump to the right
pipelines.

Scale shape: the standard decode-family plan (two stateless
Arrow-batched mapInPandas stages, no shuffle).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .avro_container import decode_avro_container, _avro_payload
from .multimodal9 import decode_gzip_stream, decode_tar, decode_zip
from .multimodal9 import _gzip_payload, _tar_members, _zip_members, encode_tar, encode_zip
from .multimodal10 import decode_warc, _warc_crawl
from .multimodal13 import decode_zstd_frames, _zstd_payload
from .parquet_footer import decode_parquet_footer, _parquet_payload
from .tensors import decode_npz, decode_safetensors, _npz_payload, _st_payload
from .tfrecord import _masked_crc, decode_tfrecord_frames, _tfrecord_payload
from .payloads import decode_payloads, synth_payloads


def identify_container(payload: bytes) -> str | None:
    """Pure identification (magic bytes / CRC proof / JSON-header
    heuristic), no decoding beyond what identification itself needs
    (the NPZ-vs-ZIP split walks the central directory for member
    names).  Returns the format name or None for "not a container"."""
    n = len(payload)
    if n >= 12 and payload[:4] == b"PAR1" and payload[-4:] == b"PAR1":
        return "parquet"
    if payload[:3] == b"ORC" and n >= 5:
        return "orc"
    if payload[:4] == b"Obj\x01":
        return "avro"
    if payload[:2] == b"\x1f\x8b":
        return "gzip"
    if n >= 4:
        (magic,) = struct.unpack("<I", payload[:4])
        if magic == 0xFD2FB528 or 0x184D2A50 <= magic <= 0x184D2A5F:
            return "zstd"
    if payload[:5] == b"WARC/":
        return "warc"
    if payload[:4] == b"PK\x03\x04":
        members = decode_zip(payload)
        if members and all(m["name"].endswith(".npy") for m in members):
            return "npz"
        return "zip"
    if n > 262 and payload[257:262] == b"ustar":
        return "tar"
    if n >= 12:
        (crc,) = struct.unpack("<I", payload[8:12])
        if crc == _masked_crc(payload[:8]):
            return "tfrecord"
    if n >= 9:
        (hlen,) = struct.unpack("<Q", payload[:8])
        if 0 < hlen <= n - 8 and payload[8:9] == b"{":
            return "safetensors"
    return None


def decode_container_auto(payload: bytes) -> dict:
    """Identify + decode one container payload (see module docstring).
    Returns ``{"format": str, "n_items": int}``."""
    fmt = identify_container(payload)
    if fmt is None:
        raise ValueError("unrecognized container format")
    if fmt == "parquet":
        m = decode_parquet_footer(payload)
        return {"format": "parquet", "n_items": m["n_row_groups"]}
    if fmt == "orc":
        from .lakehouse import decode_orc_footer

        return {
            "format": "orc",
            "n_items": decode_orc_footer(payload)["n_stripes"],
        }
    if fmt == "avro":
        m = decode_avro_container(payload)
        return {"format": "avro", "n_items": m["n_records"]}
    if fmt == "gzip":
        return {"format": "gzip", "n_items": len(decode_gzip_stream(payload))}
    if fmt == "zstd":
        m = decode_zstd_frames(payload)
        return {"format": "zstd", "n_items": m["frames"][0]["n_blocks"]}
    if fmt == "warc":
        return {"format": "warc", "n_items": len(decode_warc(payload))}
    if fmt == "npz":
        return {"format": "npz", "n_items": len(decode_npz(payload))}
    if fmt == "zip":
        return {"format": "zip", "n_items": len(decode_zip(payload))}
    if fmt == "tar":
        return {"format": "tar", "n_items": len(decode_tar(payload))}
    if fmt == "tfrecord":
        return {
            "format": "tfrecord",
            "n_items": len(decode_tfrecord_frames(payload)),
        }
    m = decode_safetensors(payload)
    return {"format": "safetensors", "n_items": m["n_tensors"]}


_FORMATS = [
    "gzip", "zip", "tar", "warc", "zstd",
    "avro", "tfrecord", "npz", "safetensors", "parquet",
]


def _auto_container_payload(doc_id: int) -> bytes:
    return _container_payload(_FORMATS[doc_id % 10], doc_id)


def _container_payload(kind: str, doc_id: int) -> bytes:
    """Planted payload for one named container format; item counts
    follow each family's doc_id formulas regardless of which query
    selects the format (shared with the total-triage corpus)."""
    if kind == "gzip":
        return _gzip_payload(doc_id)
    if kind == "zip":
        return encode_zip(_zip_members(doc_id))
    if kind == "tar":
        return encode_tar(_tar_members(doc_id))
    if kind == "warc":
        # the crawl builder emits .warc.gz; dispatch sees the gzip
        # magic first, so hand it a PLAIN concatenated WARC instead
        from .multimodal9 import decode_gzip_stream as _dgs

        return b"".join(m["data"] for m in _dgs(_warc_crawl(doc_id)))
    if kind == "zstd":
        return _zstd_payload(doc_id)
    if kind == "avro":
        return _avro_payload(doc_id)
    if kind == "tfrecord":
        return _tfrecord_payload(doc_id)
    if kind == "npz":
        return _npz_payload(doc_id)
    if kind == "safetensors":
        return _st_payload(doc_id)
    return _parquet_payload(doc_id)


def _auto_container_stats(p: bytes) -> dict:
    m = decode_container_auto(p)
    return {
        "fmt": m["format"],
        "n_items": m["n_items"],
    }


@query(
    "mm_container_auto_dispatch_stats",
    oracle="""
    SELECT doc_id,
           list_extract(['gzip','zip','tar','warc','zstd','avro',
                         'tfrecord','npz','safetensors','parquet'],
                        CAST(1 + doc_id % 10 AS INT)) AS fmt,
           CAST(CASE doc_id % 10
                WHEN 0 THEN 1
                WHEN 1 THEN 2 + doc_id % 4
                WHEN 2 THEN 2 + doc_id % 4
                WHEN 3 THEN 1 + 2 * (1 + doc_id % 3)
                WHEN 4 THEN 2 + doc_id % 3
                WHEN 5 THEN 30 + doc_id % 40
                WHEN 6 THEN 2 + doc_id % 4
                WHEN 7 THEN 1 + doc_id % 3
                WHEN 8 THEN 2 + doc_id % 3
                ELSE CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END
                END AS BIGINT) AS n_items
    FROM documents
    """,
)
def mm_container_auto_dispatch_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One triage pass over a MIXED dump: each document carries one of
    the TEN container formats (by doc_id mod 10), and the dispatcher
    must identify it — including the two formats with NO magic
    (TFRecord proven by its masked CRC32C, safetensors by its JSON
    header heuristic) — and count its natural items.  The oracle
    re-derives format names and item counts from each family's
    planting formulas; a misidentification routes a record to the
    wrong decoder, which either errors or breaks the count."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _auto_container_payload)
    return decode_payloads(mm, _auto_container_stats, "fmt string, n_items long")
