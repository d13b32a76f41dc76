"""Zstandard frame-format walk (RFC 8878, public spec) — the container
framing of the compressor modern crawls are converging on (Common
Crawl publishes .zst listings; zstd WARCs are the successor layout).

Round 8 scoped this to the FRAME FORMAT: magic, frame-header
descriptor bits (FCS field size, single-segment, checksum,
dictionary-ID size), window descriptor (exponent + mantissa),
dictionary ID, frame content size, then the block chain — 3-byte
little-endian block headers (last-block bit, 2-bit type, 21-bit size)
with RAW blocks (verbatim bytes) and RLE blocks (one byte repeated
size times) fully decoded.  Round 10 removed the one remaining bound:
entropy-coded ``Compressed_Block``s now decode for real via the
FSE/Huffman layer in ``multimodal14`` (golden-verified against system
libzstd output), and ``Content_Checksum`` frames are VERIFIED with the
XXH64 implementation there instead of skipped.  Reserved blocks,
content-size mismatches, and truncations still raise a clear
ValueError.  Skippable frames (magic 0x184D2A5?) are parsed and
skipped by length — they are how indexes ride inside .zst streams.

``encode_zstd_raw`` builds spec-valid frames from (kind, payload)
block plans, so the decoder is exercised by a real byte layout, and
the planted query derives every statistic from doc_id formulas for
the DuckDB oracle.

Scale shape: the standard decode-family plan — two narrow stateless
Arrow-batched mapInPandas stages, no shuffle.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

_ZSTD_MAGIC = 0xFD2FB528
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F


def encode_zstd_raw(
    blocks: list[tuple[str, bytes]],
    *,
    window_log: int = 17,
    dict_id: int = 0,
    with_fcs: bool = True,
    skippable_prefix: bytes | None = None,
) -> bytes:
    """Spec-valid zstd frame from ``("raw", data)`` / ``("rle",
    byte*size)`` blocks.  ``with_fcs`` writes the frame content size
    (FCS field size chosen per spec); ``skippable_prefix`` prepends a
    skippable frame carrying those bytes."""
    out = bytearray()
    if skippable_prefix is not None:
        out += struct.pack("<II", _SKIPPABLE_LO, len(skippable_prefix))
        out += skippable_prefix
    content_len = sum(len(d) for _, d in blocks)
    fhd = 0
    body = bytearray()
    if dict_id:
        if dict_id < 1 << 8:
            fhd |= 0x01
            body += struct.pack("<B", dict_id)
        elif dict_id < 1 << 16:
            fhd |= 0x02
            body += struct.pack("<H", dict_id)
        else:
            fhd |= 0x03
            body += struct.pack("<I", dict_id)
    # window descriptor (not single-segment): exponent-10, mantissa 0
    if not 10 <= window_log <= 41:
        raise ValueError(f"window_log {window_log} out of range")
    window_desc = struct.pack("<B", (window_log - 10) << 3)
    if with_fcs:
        if content_len <= 255:
            # FCS field size 1 requires the single-segment flag; keep
            # the window descriptor instead and use the 4-byte field
            fhd |= 0x80  # FCS code 2 -> 4 bytes
            fcs = struct.pack("<I", content_len)
        else:
            fhd |= 0x80
            fcs = struct.pack("<I", content_len)
    else:
        fcs = b""
    header = struct.pack("<I", _ZSTD_MAGIC) + bytes([fhd]) + window_desc
    header += bytes(body) + fcs
    out += header
    for k, (kind, data) in enumerate(blocks):
        last = 1 if k == len(blocks) - 1 else 0
        if kind == "raw":
            bh = last | (0 << 1) | (len(data) << 3)
            out += bh.to_bytes(3, "little") + data
        elif kind == "rle":
            if not data or data != bytes([data[0]]) * len(data):
                raise ValueError("rle block payload must repeat one byte")
            bh = last | (1 << 1) | (len(data) << 3)
            out += bh.to_bytes(3, "little") + bytes([data[0]])
        else:
            raise ValueError(f"unsupported block kind {kind!r}")
    return bytes(out)


def decode_zstd_frames(payload: bytes, dictionaries: dict | None = None) -> dict:
    """REAL RFC 8878 frame walk (see module docstring).  Returns
    ``content`` (decoded bytes across all standard frames), per-frame
    metadata, and the skippable-frame census.  Raises ValueError on
    malformed/unsupported input.

    ``dictionaries`` maps dictionary ID -> structured dictionary (raw
    bytes, or the output of ``multimodal14.parse_zstd_dictionary``); a
    frame whose Dictionary_ID is present gets the dictionary's content
    as its match-window prefix, its entropy tables for Treeless/Repeat
    modes, and its initial repeat offsets (RFC 8878 §5).  IDs not
    provided keep the round-8 lenient behavior (decode proceeds; a
    block actually needing the dictionary fails cleanly)."""
    i, n = 0, len(payload)
    content = bytearray()
    frames = []
    n_skippable = 0
    skippable_bytes = 0
    while i < n:
        if i + 4 > n:
            raise ValueError("truncated frame magic")
        (magic,) = struct.unpack("<I", payload[i : i + 4])
        i += 4
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if i + 4 > n:
                raise ValueError("truncated skippable frame size")
            (sz,) = struct.unpack("<I", payload[i : i + 4])
            i += 4
            if i + sz > n:
                raise ValueError("skippable frame extends past end")
            n_skippable += 1
            skippable_bytes += sz
            i += sz
            continue
        if magic != _ZSTD_MAGIC:
            raise ValueError(f"bad zstd magic {magic:#010x}")
        if i >= n:
            raise ValueError("truncated frame header descriptor")
        fhd = payload[i]
        i += 1
        if fhd & 0x08:
            raise ValueError("reserved FHD bit set")
        single_segment = bool(fhd & 0x20)
        checksum = bool(fhd & 0x04)
        did_code = fhd & 0x03
        fcs_code = fhd >> 6
        window_log = None
        if not single_segment:
            if i >= n:
                raise ValueError("truncated window descriptor")
            wd = payload[i]
            i += 1
            window_log = (wd >> 3) + 10  # mantissa adds fractions; log base
        did_size = (0, 1, 2, 4)[did_code]
        if i + did_size > n:
            raise ValueError("truncated dictionary ID")
        dict_id = (
            int.from_bytes(payload[i : i + did_size], "little")
            if did_size
            else 0
        )
        i += did_size
        fcs_size = (1 if single_segment else 0, 2, 4, 8)[fcs_code]
        if i + fcs_size > n:
            raise ValueError("truncated frame content size")
        if fcs_size:
            fcs = int.from_bytes(payload[i : i + fcs_size], "little")
            if fcs_size == 2:
                fcs += 256
        else:
            fcs = None
        i += fcs_size
        # frame-level entropy state (round 10): window buffer, Huffman
        # table for Treeless_Literals, FSE tables for Repeat_Mode, the
        # three repeated offsets (reset to 1/4/8 per frame, RFC 8878).
        # A referenced dictionary seeds all four (base marks where the
        # frame's own content starts inside the window).
        window = bytearray()
        base = 0
        est = {"window": window, "huf": None, "reps": [1, 4, 8]}
        if dict_id and dictionaries and dict_id in dictionaries:
            from .multimodal14 import parse_zstd_dictionary

            d = dictionaries[dict_id]
            if isinstance(d, (bytes, bytearray)):
                d = parse_zstd_dictionary(bytes(d))
            window += d["content"]
            base = len(window)
            est["huf"] = d["huf"]
            est["reps"] = list(d["reps"])
            est["ll_tab"] = d["ll_tab"]
            est["of_tab"] = d["of_tab"]
            est["ml_tab"] = d["ml_tab"]
        n_blocks = 0
        # Cumulative per-frame output bound (hostile-input guard): a
        # valid frame never exceeds its declared FCS at any block
        # boundary; a frame with NO declared FCS is capped at
        # _BLOCK_OUT_CAP *cumulatively* — without this, a stream of
        # raw/RLE blocks (each individually under the per-block cap in
        # multimodal14) is a decompression bomb: a 4 KB input can
        # demand a ~2 GB window and a ~1 MB input ~500 GB.
        from .multimodal14 import _BLOCK_OUT_CAP

        frame_out_cap = fcs if fcs is not None else _BLOCK_OUT_CAP
        while True:
            if i + 3 > n:
                raise ValueError("truncated block header")
            bh = int.from_bytes(payload[i : i + 3], "little")
            i += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 0:  # Raw
                if i + bsize > n:
                    raise ValueError("truncated raw block")
                window += payload[i : i + bsize]
                i += bsize
            elif btype == 1:  # RLE
                if i >= n:
                    raise ValueError("truncated RLE block byte")
                window += bytes([payload[i]]) * bsize
                i += 1
            elif btype == 2:  # entropy-coded (FSE/Huffman), round 10
                from .multimodal14 import decode_compressed_block

                if i + bsize > n:
                    raise ValueError("truncated compressed block")
                decode_compressed_block(payload[i : i + bsize], est)
                i += bsize
            else:
                raise ValueError("reserved block type")
            n_blocks += 1
            if len(window) - base > frame_out_cap:
                raise ValueError(
                    f"frame output {len(window) - base} exceeds "
                    f"{'declared FCS' if fcs is not None else 'no-FCS cap'} "
                    f"{frame_out_cap}"
                )
            if last:
                break
        frame_len = len(window) - base
        if fcs is not None and frame_len != fcs:
            raise ValueError(
                f"frame content is {frame_len} bytes, FCS declared {fcs}"
            )
        if checksum:
            if i + 4 > n:
                raise ValueError("truncated content checksum")
            from .multimodal14 import xxh64

            (stored,) = struct.unpack("<I", payload[i : i + 4])
            if xxh64(bytes(window[base:])) & 0xFFFFFFFF != stored:
                raise ValueError("content checksum mismatch")
            i += 4
        frames.append(
            {
                "window_log": window_log,
                "dict_id": dict_id,
                "fcs": fcs,
                "n_blocks": n_blocks,
                "content_len": len(window) - base,
                # entropy-layer census (round 10): zero for frames of
                # raw/RLE blocks only
                "n_sequences": est.get("n_seqs", 0),
                "n_literals": est.get("n_lits", 0),
                "huf_tlog": est["huf"][1] if est.get("huf") else 0,
            }
        )
        content += window[base:]
    if not frames:
        raise ValueError("no zstd frames found")
    return {
        "content": bytes(content),
        "frames": frames,
        "n_frames": len(frames),
        "n_skippable": n_skippable,
        "skippable_bytes": skippable_bytes,
    }


# Planted corpus: per doc an optional skippable index frame, then one
# frame of alternating raw/rle blocks whose bytes derive from doc_id.
def _zstd_payload(doc_id: int) -> bytes:
    nb = 2 + doc_id % 3
    blocks = []
    for b in range(nb):
        if b % 2 == 0:
            ln = 5 + (doc_id + b) % 9
            blocks.append(
                ("raw", bytes((doc_id + b + j) % 256 for j in range(ln)))
            )
        else:
            ln = 3 + (doc_id + b) % 6
            blocks.append(("rle", bytes([(doc_id * 3 + b) % 256]) * ln))
    skip = (
        bytes((doc_id + j) % 256 for j in range(4 + doc_id % 5))
        if doc_id % 2
        else None
    )
    return encode_zstd_raw(
        blocks,
        window_log=10 + doc_id % 22,
        dict_id=doc_id % 4 and (doc_id * 7 % 65000 + 1) or 0,
        skippable_prefix=skip,
    )


def _zstd_stats(p: bytes) -> dict:
    m = decode_zstd_frames(p)
    f = m["frames"][0]
    return {
        "n_blocks": f["n_blocks"],
        "content_len": f["content_len"],
        "content_sum": sum(m["content"]),
        "window_log": f["window_log"],
        "dict_id": f["dict_id"],
        "n_skippable": m["n_skippable"],
        "skippable_bytes": m["skippable_bytes"],
    }


@query(
    "mm_decode_zstd_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 3 AS nb FROM documents),
    blk AS (
      SELECT doc_id, nb, t.i - 1 AS b,
             CASE WHEN (t.i - 1) % 2 = 0
                  THEN 5 + (doc_id + t.i - 1) % 9
                  ELSE 3 + (doc_id + t.i - 1) % 6 END AS ln
      FROM d, unnest(generate_series(1, CAST(nb AS INT))) AS t(i)),
    rawsum AS (
      SELECT doc_id, b, ln,
             CASE WHEN b % 2 = 0
                  THEN (SELECT sum((doc_id + b + u.j - 1) % 256)
                        FROM unnest(generate_series(1, CAST(ln AS INT))) AS u(j))
                  ELSE ln * ((doc_id * 3 + b) % 256) END AS bsum
      FROM blk)
    SELECT d.doc_id,
           CAST(d.nb AS BIGINT) AS n_blocks,
           CAST(sum(r.ln) AS BIGINT) AS content_len,
           CAST(sum(r.bsum) AS BIGINT) AS content_sum,
           CAST(10 + d.doc_id % 22 AS BIGINT) AS window_log,
           CAST(CASE WHEN d.doc_id % 4 = 0 THEN 0
                     ELSE d.doc_id * 7 % 65000 + 1 END AS BIGINT) AS dict_id,
           CAST(CASE WHEN d.doc_id % 2 = 1 THEN 1 ELSE 0 END AS BIGINT)
             AS n_skippable,
           CAST(CASE WHEN d.doc_id % 2 = 1 THEN 4 + d.doc_id % 5 ELSE 0 END
                AS BIGINT) AS skippable_bytes
    FROM d JOIN rawsum r ON r.doc_id = d.doc_id
    GROUP BY d.doc_id, d.nb
    """,
)
def mm_decode_zstd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zstandard framing end-to-end: per document a spec-valid .zst
    stream (odd docs open with a skippable index frame; the standard
    frame mixes raw and RLE blocks, carries a varying window log and a
    dictionary ID on 3 of 4 docs, and declares its content size) is
    built and REALLY walked back — magic dispatch, FHD bit fields,
    window/dict/FCS parsing, the 3-byte block-header chain, raw+RLE
    reconstruction, FCS cross-check.  The oracle re-derives block
    counts, exact content bytes/sums, window logs, dictionary IDs, and
    the skippable census from the planting formulas."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _zstd_payload)
    return decode_payloads(
        mm,
        _zstd_stats,
        "n_blocks long, content_len long, content_sum long, window_log long, "
        "dict_id long, n_skippable long, skippable_bytes long",
    )
