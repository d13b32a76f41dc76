"""EXIF / TIFF-IFD metadata walk (JPEG APP1) — the image-metadata path
of a crawl pipeline (CIPA DC-008 / TIFF 6.0, public specs).

Real crawled JPEGs carry an APP1 segment holding a TIFF-structured
EXIF block: a byte-order mark (``II`` little- or ``MM`` big-endian),
the 42 magic, and a chain of IFDs whose 12-byte entries hold
(tag, type, count, value-or-offset) — values at most 4 bytes are
INLINE and LEFT-JUSTIFIED in the entry's value field per the chosen
byte order, larger ones live at an offset.  Orientation handling
(tag 0x0112) is the most consequential consumer: a pipeline that
ignores it trains on sideways images.

- ``encode_exif_app1`` builds a spec-valid APP1 payload: ``Exif\\0\\0``
  preamble, TIFF header in either byte order, IFD0 with SHORT / LONG /
  ASCII / RATIONAL entries, out-of-line values appended after the
  entry table, next-IFD offset 0.
- ``decode_exif`` is the REAL walk: preamble/byte-order/magic
  validation, entry iteration with bounds checks, inline-vs-offset
  resolution, type decoding (SHORT/LONG element sizes, NUL-terminated
  ASCII, RATIONAL num/den pairs).  ValueError on malformed input
  (bad preamble, unknown byte order, wrong magic, truncated IFD or
  out-of-line value, zero RATIONAL denominator, unterminated ASCII).
- ``exif_from_jpeg`` walks the JPEG marker stream to APP1 (skipping
  other APPn/COM segments) and parses it.

``mm_exif_orientation_stats`` drives it end-to-end over real JPEGs
(multimodal3's encoder) with an APP1 spliced after SOI: byte order
alternates by document parity, so a decoder that hardcodes
little-endian breaks half the corpus' value hash.

No reference counterpart — north-star LLM-pipeline addition.

Scale shape: two narrow stateless mapInPandas stages, no shuffle —
the standard decode-family plan; metadata extraction at 100 TB is
exactly this map over the payload column.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL


def encode_exif_app1(
    fields: list[tuple[int, int, object]], *, big_endian: bool = False
) -> bytes:
    """APP1 payload (``Exif\\0\\0`` + TIFF block) from ``(tag, type,
    value)`` fields.  SHORT/LONG values are ints; ASCII values are str
    (NUL appended); RATIONAL values are (num, den) tuples."""
    bo = ">" if big_endian else "<"
    entries = sorted(fields)  # TIFF requires ascending tag order
    head = (b"MM" if big_endian else b"II") + struct.pack(bo + "HI", 42, 8)
    table = struct.pack(bo + "H", len(entries))
    extra = bytearray()
    extra_at = 8 + 2 + 12 * len(entries) + 4
    for tag, typ, value in entries:
        if typ == 2:
            data = value.encode("ascii") + b"\x00"
            count = len(data)
        elif typ == 5:
            data = struct.pack(bo + "II", *value)
            count = 1
        elif typ in (3, 4):
            data = struct.pack(bo + ("H" if typ == 3 else "I"), value)
            count = 1
        else:
            raise ValueError(f"unsupported field type {typ}")
        if len(data) <= 4:
            val = data + b"\x00" * (4 - len(data))  # left-justified inline
        else:
            val = struct.pack(bo + "I", extra_at + len(extra))
            extra += data
        table += struct.pack(bo + "HHI", tag, typ, count) + val
    table += struct.pack(bo + "I", 0)  # no next IFD
    return b"Exif\x00\x00" + head + table + bytes(extra)


def decode_exif(app1: bytes) -> dict:
    """REAL EXIF walk: see the module docstring.  Returns ``byte_order``
    ('II'/'MM') plus ``{tag: value}`` (ints for SHORT/LONG, str for
    ASCII, (num, den) for RATIONAL)."""
    if app1[:6] != b"Exif\x00\x00":
        raise ValueError("missing Exif preamble")
    tiff = app1[6:]
    if len(tiff) < 8:
        raise ValueError("truncated TIFF header")
    order = tiff[:2]
    if order == b"II":
        bo = "<"
    elif order == b"MM":
        bo = ">"
    else:
        raise ValueError(f"unknown byte order {order!r}")
    magic, ifd_at = struct.unpack(bo + "HI", tiff[2:8])
    if magic != 42:
        raise ValueError(f"bad TIFF magic {magic}")
    if ifd_at + 2 > len(tiff):
        raise ValueError("IFD offset out of bounds")
    (n,) = struct.unpack(bo + "H", tiff[ifd_at : ifd_at + 2])
    if ifd_at + 2 + 12 * n + 4 > len(tiff):
        raise ValueError(f"truncated IFD ({n} entries)")
    out: dict = {}
    for k in range(n):
        at = ifd_at + 2 + 12 * k
        tag, typ, count = struct.unpack(bo + "HHI", tiff[at : at + 8])
        if typ not in _TYPE_SIZES:
            raise ValueError(f"unknown field type {typ} (tag {tag:#06x})")
        if count == 0:
            raise ValueError(f"zero-count field (tag {tag:#06x})")
        nbytes = _TYPE_SIZES[typ] * count
        if nbytes <= 4:
            data = tiff[at + 8 : at + 8 + nbytes]
        else:
            (off,) = struct.unpack(bo + "I", tiff[at + 8 : at + 12])
            if off + nbytes > len(tiff):
                raise ValueError(
                    f"out-of-line value for tag {tag:#06x} out of bounds"
                )
            data = tiff[off : off + nbytes]
        if typ == 2:
            if not data.endswith(b"\x00"):
                raise ValueError(f"unterminated ASCII value (tag {tag:#06x})")
            out[tag] = data[:-1].decode("ascii")
        elif typ == 3:
            out[tag] = struct.unpack(bo + "H", data)[0] if count == 1 else [
                struct.unpack(bo + "H", data[j : j + 2])[0]
                for j in range(0, nbytes, 2)
            ]
        elif typ == 4:
            out[tag] = struct.unpack(bo + "I", data)[0] if count == 1 else [
                struct.unpack(bo + "I", data[j : j + 4])[0]
                for j in range(0, nbytes, 4)
            ]
        elif typ == 5:
            num, den = struct.unpack(bo + "II", data[:8])
            if den == 0:
                raise ValueError(f"zero denominator (tag {tag:#06x})")
            out[tag] = (num, den)
        else:  # BYTE
            out[tag] = bytes(data)
    return {"byte_order": order.decode(), "tags": out}


def splice_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI (the standard location)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    seg = b"\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1
    return jpeg[:2] + seg + jpeg[2:]


def exif_from_jpeg(jpeg: bytes) -> dict:
    """Walk the JPEG marker stream to the first APP1 Exif segment
    (skipping other APPn/COM) and parse it."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    while i + 4 <= len(jpeg):
        if jpeg[i] != 0xFF:
            raise ValueError(f"expected marker at offset {i}")
        marker = jpeg[i + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        (seglen,) = struct.unpack(">H", jpeg[i + 2 : i + 4])
        if marker == 0xE1 and jpeg[i + 4 : i + 10] == b"Exif\x00\x00":
            return decode_exif(jpeg[i + 4 : i + 2 + seglen])
        if marker == 0xDA:
            break
        i += 2 + seglen
    raise ValueError("no Exif APP1 segment found")


# Orientation 0x0112, ImageWidth 0x0100, ImageLength 0x0101,
# Make 0x010F, DateTime 0x0132, XResolution 0x011A.
_TAG_ORIENT, _TAG_W, _TAG_H = 0x0112, 0x0100, 0x0101
_TAG_MAKE, _TAG_DT, _TAG_XRES = 0x010F, 0x0132, 0x011A


def _exif_jpeg(doc_id: int) -> bytes:
    from .multimodal3 import encode_jpeg_gray

    app1 = encode_exif_app1(
        [
            (_TAG_W, 4, 100 + doc_id % 900),
            (_TAG_H, 4, 80 + doc_id % 700),
            (_TAG_MAKE, 2, f"cam{doc_id % 20}"),
            (_TAG_ORIENT, 3, 1 + doc_id % 8),
            (_TAG_DT, 2, f"2026:01:{1 + doc_id % 28:02d} 12:00:00"),
            (_TAG_XRES, 5, (72 + doc_id % 100, 1 + doc_id % 3)),
        ],
        big_endian=doc_id % 2 == 1,
    )
    return splice_app1(
        encode_jpeg_gray(16, 16, lambda bx, by, d=doc_id: (d * 11 + bx + by) % 256),
        app1,
    )


def _exif_orientation_stats(p: bytes) -> dict:
    ex = exif_from_jpeg(p)
    t = ex["tags"]
    num, den = t[_TAG_XRES]
    return {
        "byte_order": ex["byte_order"],
        "orientation": t[_TAG_ORIENT],
        "exif_w": t[_TAG_W],
        "exif_h": t[_TAG_H],
        "xres_micro": num * 1000000 // den,
        "make_len": len(t[_TAG_MAKE]),
        "is_transposed": 1 if t[_TAG_ORIENT] >= 5 else 0,
    }


@query(
    "mm_exif_orientation_stats",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
           CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
           CAST(100 + doc_id % 900 AS BIGINT) AS exif_w,
           CAST(80 + doc_id % 700 AS BIGINT) AS exif_h,
           CAST((72 + doc_id % 100) * 1000000 // (1 + doc_id % 3) AS BIGINT)
             AS xres_micro,
           CAST(length('cam' || CAST(doc_id % 20 AS VARCHAR)) AS BIGINT)
             AS make_len,
           CAST(CASE WHEN 1 + doc_id % 8 >= 5 THEN 1 ELSE 0 END AS BIGINT)
             AS is_transposed
    FROM documents
    """,
)
def mm_exif_orientation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-metadata extraction end-to-end: per document a REAL JPEG
    (multimodal3's encoder) gets a spec-valid EXIF APP1 spliced after
    SOI — byte order alternating II/MM by document parity, SHORT/LONG/
    ASCII/RATIONAL fields, out-of-line values — and the decode stage
    walks the marker stream to APP1, parses the TIFF IFD, and emits
    orientation (plus the transposed flag a resize stage needs),
    declared dimensions, the X-resolution as an exact integer micro
    ratio, and string lengths.  The DuckDB oracle re-derives everything
    from the field formulas; a byte-order or inline-justification
    mistake breaks half the corpus.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _exif_jpeg)
    return decode_payloads(
        mm,
        _exif_orientation_stats,
        "byte_order string, orientation long, exif_w long, exif_h long, "
        "xres_micro long, make_len long, is_transposed long",
    )


# --------------------------------------------------------------------------
# MP3 frame-header walk + ID3v2 skip (ISO/IEC 11172-3, public spec) —
# audio-metadata extraction without audio synthesis.  Round 7 ships the
# walk + tests; the oracle-gated query joins the round-8 window.
# --------------------------------------------------------------------------

# MPEG-1 Layer III bitrate table (kbit/s; index 0 = free, 15 = bad)
_MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None
)
_MP3_SAMPLERATES = (44100, 48000, 32000, None)
_MP3_SAMPLES_PER_FRAME = 1152


def encode_mp3_stream(
    frames: list[tuple[int, int]], *, id3_size: int = 0
) -> bytes:
    """Spec-valid MPEG-1 Layer III frame stream from ``(bitrate_index,
    samplerate_index)`` pairs, with deterministic dummy payload bytes
    (the WALK is the surface, not audio synthesis).  ``id3_size``
    prepends an ID3v2.4 tag of that many content bytes (syncsafe
    size), the way wild MP3s almost always open."""
    out = bytearray()
    if id3_size:
        ss = [
            (id3_size >> 21) & 0x7F,
            (id3_size >> 14) & 0x7F,
            (id3_size >> 7) & 0x7F,
            id3_size & 0x7F,
        ]
        out += b"ID3\x04\x00\x00" + bytes(ss)
        out += bytes((i * 7) % 256 for i in range(id3_size))
    for n, (bi, si) in enumerate(frames):
        if not 1 <= bi <= 14:
            raise ValueError(f"bitrate index {bi} out of range")
        if not 0 <= si <= 2:
            raise ValueError(f"samplerate index {si} invalid")
        hdr = (0xFFF << 20) | (0b11 << 19) | (0b01 << 17) | (1 << 16)
        hdr |= (bi << 12) | (si << 10)
        flen = 144 * _MP3_BITRATES[bi] * 1000 // _MP3_SAMPLERATES[si]
        out += hdr.to_bytes(4, "big")
        out += bytes((n * 13 + j) % 256 for j in range(flen - 4))
    return bytes(out)


def decode_mp3_frames(payload: bytes) -> dict:
    """REAL MP3 stream walk: optional ID3v2 tag skip (syncsafe size),
    then frame-by-frame — 11-bit sync, MPEG-1 Layer III validation,
    bitrate/samplerate table lookup, CRC-flag-aware frame-length
    arithmetic (144 * bitrate / samplerate + padding), exact integer
    duration accumulation (1152 samples per frame).  Raises ValueError
    on malformed input (bad sync, reserved version/layer, free-format
    or bad bitrate index, reserved samplerate, truncated frame or tag).
    Returns frame count, duration in exact microseconds, kbps min/max,
    and whether the stream is VBR."""
    i = 0
    n = len(payload)
    if payload[:3] == b"ID3":
        if n < 10:
            raise ValueError("truncated ID3v2 header")
        ss = payload[6:10]
        if any(b & 0x80 for b in ss):
            raise ValueError("non-syncsafe ID3v2 size")
        size = (ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3]
        if 10 + size > n:
            raise ValueError("ID3v2 tag extends past end of stream")
        i = 10 + size
    n_frames = 0
    dur_us = 0
    kbps: list[int] = []
    while i < n:
        if i + 4 > n:
            raise ValueError(f"truncated frame header at offset {i}")
        hdr = int.from_bytes(payload[i : i + 4], "big")
        if hdr >> 21 != 0x7FF:
            raise ValueError(f"lost frame sync at offset {i}")
        version = (hdr >> 19) & 0x3
        layer = (hdr >> 17) & 0x3
        if version != 0b11 or layer != 0b01:
            raise ValueError(
                f"only MPEG-1 Layer III supported "
                f"(version bits {version:02b}, layer bits {layer:02b})"
            )
        bi = (hdr >> 12) & 0xF
        si = (hdr >> 10) & 0x3
        if bi in (0, 15):
            raise ValueError(f"free-format/bad bitrate index {bi}")
        if si == 3:
            raise ValueError("reserved samplerate index")
        padding = (hdr >> 9) & 0x1
        sr = _MP3_SAMPLERATES[si]
        flen = 144 * _MP3_BITRATES[bi] * 1000 // sr + padding
        if i + flen > n:
            raise ValueError(
                f"truncated frame at offset {i} (need {flen} bytes)"
            )
        i += flen
        n_frames += 1
        dur_us += _MP3_SAMPLES_PER_FRAME * 1_000_000 // sr
        kbps.append(_MP3_BITRATES[bi])
    if n_frames == 0:
        raise ValueError("no MP3 frames found")
    return {
        "n_frames": n_frames,
        "duration_us": dur_us,
        "kbps_min": min(kbps),
        "kbps_max": max(kbps),
        "is_vbr": len(set(kbps)) > 1,
    }


# --------------------------------------------------------------------------
# FLAC STREAMINFO walk (the xiph spec, public) — lossless-audio metadata
# --------------------------------------------------------------------------


def encode_flac_streaminfo(
    *,
    sample_rate: int,
    channels: int,
    bits_per_sample: int,
    total_samples: int,
    min_block: int = 4096,
    max_block: int = 4096,
    md5: bytes = b"\x00" * 16,
    extra_blocks: list[tuple[int, bytes]] | None = None,
) -> bytes:
    """Spec-valid FLAC header: ``fLaC`` magic, STREAMINFO metadata
    block (34 bytes of packed bit fields), optional further metadata
    blocks (``(type, payload)``), last-block flag on the final one.
    Audio frames are out of surface — the METADATA walk is the
    feature, as with the MP3 twin."""
    if not 1 <= channels <= 8:
        raise ValueError(f"channels {channels} out of range")
    if not 4 <= bits_per_sample <= 32:
        raise ValueError(f"bits-per-sample {bits_per_sample} out of range")
    if sample_rate >= 1 << 20 or sample_rate == 0:
        raise ValueError(f"sample rate {sample_rate} out of field range")
    if total_samples >= 1 << 36:
        raise ValueError("total samples exceed the 36-bit field")
    body = struct.pack(">HH", min_block, max_block)
    body += (0).to_bytes(3, "big") * 2  # min/max framesize unknown
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    body += packed.to_bytes(8, "big") + md5
    blocks = [(0, body)] + list(extra_blocks or [])
    out = bytearray(b"fLaC")
    for k, (btype, payload) in enumerate(blocks):
        last = 0x80 if k == len(blocks) - 1 else 0
        out += bytes([last | btype]) + len(payload).to_bytes(3, "big")
        out += payload
    return bytes(out)


def decode_flac_streaminfo(payload: bytes) -> dict:
    """REAL FLAC metadata walk: magic, block-header iteration (last
    flag, 7-bit type, 24-bit length), STREAMINFO bit-field unpacking
    (20-bit sample rate, 3-bit channels-1, 5-bit bps-1, 36-bit total
    samples, MD5), other block types skipped by length.  Raises
    ValueError on malformed input (bad magic, missing/short/duplicate
    STREAMINFO, truncated block, invalid type 127, zero sample rate)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (bad magic)")
    i = 4
    info = None
    n_blocks = 0
    while True:
        if i + 4 > len(payload):
            raise ValueError("truncated metadata block header")
        hdr = payload[i]
        btype = hdr & 0x7F
        if btype == 127:
            raise ValueError("invalid metadata block type 127")
        length = int.from_bytes(payload[i + 1 : i + 4], "big")
        i += 4
        if i + length > len(payload):
            raise ValueError(f"truncated metadata block (type {btype})")
        if btype == 0:
            if info is not None:
                raise ValueError("duplicate STREAMINFO")
            if length != 34:
                raise ValueError(f"STREAMINFO is {length} bytes (want 34)")
            blk = payload[i : i + 34]
            min_block, max_block = struct.unpack(">HH", blk[:4])
            packed = int.from_bytes(blk[10:18], "big")
            sample_rate = packed >> 44
            channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            if sample_rate == 0:
                raise ValueError("zero sample rate")
            info = {
                "min_block": min_block,
                "max_block": max_block,
                "sample_rate": sample_rate,
                "channels": channels,
                "bits_per_sample": bps,
                "total_samples": total,
                "duration_us": total * 1_000_000 // sample_rate,
                "md5": blk[18:34],
            }
        i += length
        n_blocks += 1
        if hdr & 0x80:
            break
    if info is None:
        raise ValueError("no STREAMINFO block (must be first per spec)")
    info["n_blocks"] = n_blocks
    return info
