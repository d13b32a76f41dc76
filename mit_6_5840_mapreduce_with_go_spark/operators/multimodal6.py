"""Real GIF decode inside the multimodal mapInPandas leg.

The fifth real image/media format (after PPM, PNG, baseline JPEG,
WAV, Y4M) — and the one that brings genuine LZW: GIF (public spec,
GIF89a) stores palette indices compressed with variable-width LZW
codes packed LSB-first into sub-blocks.

- ``encode_gif`` is a spec-valid single-frame writer with a REAL LZW
  compressor: growing dictionary, code-width escalation at each
  2^width boundary, CLEAR emission when the table hits 4096 — plus
  optional 4-pass interlacing, so the decoder's deinterlace path runs
  under real payloads.
- ``decode_gif`` is a REAL decoder: header + logical-screen parse,
  global color table, extension-block skipping via sub-block walks,
  image descriptor, LZW decompression (LSB-first bit reader across
  sub-block boundaries, dictionary rebuild on CLEAR, the KwKwK
  special case), deinterlacing, palette mapping.  Malformed input
  raises.

``mm_decode_gif_stats`` drives it end to end: payloads are encoded
from pure-integer palette/index formulas inside one ``mapInPandas``
stage (odd doc_ids interlaced), decoded in the next, and the DuckDB
oracle recomputes the statistics from the pixel definition.  The
output includes POSITION-WEIGHTED checksums (sum of value * linear
pixel index), so a deinterlace or LZW-ordering bug that permutes
pixels — invisible to plain sums — breaks the value hash.

Scale shape: two narrow per-row map stages, no shuffle, payloads
never on the driver — identical to the other decode queries.

No reference counterpart — north-star LLM-pipeline addition.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

_GIF_MAX_CODE = 4096

# 4-pass interlace row schedule (GIF spec appendix E)
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlaced_row_order(height: int) -> list[int]:
    return [y for start, step in _INTERLACE_PASSES for y in range(start, height, step)]


class _LSBBitWriter:
    """LSB-first bit packer (GIF's LZW bit order, opposite of JPEG's)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_compress(indices: bytes, min_code_size: int) -> bytes:
    """Real GIF LZW: growing string table, code-width escalation, CLEAR
    when the table would pass 4096."""
    clear = 1 << min_code_size
    end = clear + 1
    bw = _LSBBitWriter()

    def reset() -> tuple[dict[bytes, int], int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            end + 1,
            min_code_size + 1,
        )

    table, next_code, width = reset()
    bw.write(clear, width)
    prefix = b""
    for b in indices:
        cur = prefix + bytes([b])
        if cur in table:
            prefix = cur
            continue
        bw.write(table[prefix], width)
        table[cur] = next_code
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        elif next_code >= _GIF_MAX_CODE:
            bw.write(clear, width)
            table, next_code, width = reset()
        prefix = bytes([b])
    if prefix:
        bw.write(table[prefix], width)
    bw.write(end, width)
    return bw.flush()


def encode_gif(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    index_fn,
    *,
    interlace: bool = False,
) -> bytes:
    """Spec-valid single-frame GIF89a from a palette and
    ``index_fn(x, y) -> palette index``; optionally 4-pass interlaced."""
    nbits = max(1, (len(palette) - 1).bit_length())
    table_size = 1 << nbits
    if len(palette) > table_size:
        raise ValueError("palette larger than its declared size")
    gct = bytearray()
    for i in range(table_size):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        gct += bytes((r, g, b))
    rows = _interlaced_row_order(height) if interlace else range(height)
    indices = bytes(index_fn(x, y) for y in rows for x in range(width))
    min_code_size = max(2, nbits)  # spec: min code size >= 2
    lzw = _lzw_compress(indices, min_code_size)
    sub_blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        sub_blocks += bytes([len(chunk)]) + chunk
    sub_blocks += b"\x00"
    packed = 0x80 | (nbits - 1)  # GCT present, 2^nbits entries
    screen = struct.pack("<HHBBB", width, height, packed, 0, 0)
    img_packed = 0x40 if interlace else 0x00
    descriptor = b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, img_packed)
    return (
        b"GIF89a"
        + screen
        + bytes(gct)
        + descriptor
        + bytes([min_code_size])
        + bytes(sub_blocks)
        + b"\x3b"
    )


class _LSBBitReader:
    """LSB-first reader over concatenated LZW sub-block bytes."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.i = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.i >= len(self.data):
                raise ValueError("LZW stream exhausted mid-code")
            self.acc |= self.data[self.i] << self.nbits
            self.i += 1
            self.nbits += 8
        v = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return v


def _lzw_decompress(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """Real GIF LZW decode: dictionary rebuild on CLEAR, code-width
    escalation, and the KwKwK (code == next_code) special case."""
    clear = 1 << min_code_size
    end = clear + 1
    br = _LSBBitReader(data)
    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None

    def reset_table() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset_table()
    while len(out) < n_pixels:
        code = br.read(width)
        if code == clear:
            reset_table()
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(f"first LZW code {code} out of table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"LZW code {code} beyond table size {len(table)}")
        out += entry
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1
    if len(out) != n_pixels:
        raise ValueError(f"LZW yielded {len(out)} pixels, expected {n_pixels}")
    return bytes(out)


def decode_gif(payload: bytes) -> dict:
    """REAL GIF decoder for the single-frame surface: header + logical
    screen, global color table, extension skipping, image descriptor,
    LZW decompression, 4-pass deinterlacing, palette mapping.  Returns
    dimensions plus integer-exact statistics of the mapped RGB raster,
    including position-weighted checksums (a permuted raster — e.g. a
    deinterlace bug — changes them even when plain sums survive).
    Raises ValueError on malformed input; local color tables and
    multi-frame animations are out of surface."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("truncated logical screen descriptor")
    width, height, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    if not packed & 0x80:
        raise ValueError("missing global color table")
    table_size = 2 << (packed & 0x07)
    i = 13
    gct = payload[i : i + 3 * table_size]
    if len(gct) != 3 * table_size:
        raise ValueError("truncated global color table")
    i += 3 * table_size
    while i < len(payload):
        b = payload[i]
        if b == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(payload) and payload[i] != 0:
                i += 1 + payload[i]
            i += 1
        elif b == 0x2C:
            break
        elif b == 0x3B:
            raise ValueError("trailer before any image data")
        else:
            raise ValueError(f"unknown block 0x{b:02X}")
    else:
        raise ValueError("no image descriptor")
    if i + 10 > len(payload):
        raise ValueError("truncated image descriptor")
    left, top, iw, ih, img_packed = struct.unpack("<HHHHB", payload[i + 1 : i + 10])
    if (left, top, iw, ih) != (0, 0, width, height):
        raise ValueError("sub-rectangle frames not supported")
    if img_packed & 0x80:
        raise ValueError("local color tables not supported")
    interlaced = bool(img_packed & 0x40)
    i += 10
    if i >= len(payload):
        raise ValueError("truncated image data (no LZW minimum code size)")
    min_code_size = payload[i]
    i += 1
    lzw = bytearray()
    while i < len(payload) and payload[i] != 0:
        n = payload[i]
        chunk = payload[i + 1 : i + 1 + n]
        if len(chunk) != n:
            raise ValueError("truncated LZW sub-block")
        lzw += chunk
        i += 1 + n
    if i >= len(payload):
        raise ValueError("missing sub-block terminator")
    indices = _lzw_decompress(bytes(lzw), min_code_size, width * height)
    if interlaced:
        recon = bytearray(width * height)
        for stored, y in enumerate(_interlaced_row_order(height)):
            recon[y * width : (y + 1) * width] = indices[
                stored * width : (stored + 1) * width
            ]
        indices = bytes(recon)
    if max(indices) >= table_size:
        raise ValueError("palette index out of range")
    sum_r = sum_g = sum_b = 0
    wsum_r = wsum_idx = 0
    for p, idx in enumerate(indices):
        r, g, b = gct[3 * idx], gct[3 * idx + 1], gct[3 * idx + 2]
        sum_r += r
        sum_g += g
        sum_b += b
        wsum_r += r * p
        wsum_idx += idx * p
    return {
        "width": width,
        "height": height,
        "interlaced": interlaced,
        "n_px": width * height,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "wsum_r": wsum_r,
        "wsum_idx": wsum_idx,
    }


# pure-integer corpus definition (the oracle mirrors these)
def _gif_palette(doc_id: int, i: int) -> tuple[int, int, int]:
    return (
        (doc_id * 7 + i * 31) % 256,
        (doc_id * 11 + i * 17) % 256,
        (doc_id * 13 + i * 23) % 256,
    )


def _gif_index(doc_id: int, x: int, y: int) -> int:
    return (doc_id + x * 3 + y * 5 + (x * y) % 7) % 16


def _gif_payload(d: int) -> bytes:
    w, h = 8 * (2 + d % 3), 8 * (1 + d % 4)
    return encode_gif(
        w,
        h,
        [_gif_palette(d, i) for i in range(16)],
        lambda x, y: _gif_index(d, x, y),
        interlace=(d % 2 == 1),
    )


@query(
    "mm_decode_gif_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             8 * (2 + doc_id % 3) AS w,
             8 * (1 + doc_id % 4) AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h,
             t.i - 1 AS p,
             (doc_id + ((t.i - 1) % w) * 3 + ((t.i - 1) // w) * 5
              + (((t.i - 1) % w) * ((t.i - 1) // w)) % 7) % 16 AS idx
      FROM d, unnest(generate_series(1, CAST(w * h AS INT))) AS t(i)),
    rgb AS (
      SELECT doc_id, w, h, p, idx,
             (doc_id * 7 + idx * 31) % 256 AS r,
             (doc_id * 11 + idx * 17) % 256 AS g,
             (doc_id * 13 + idx * 23) % 256 AS b
      FROM px)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           doc_id % 2 = 1 AS interlaced,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(r * p) AS BIGINT) AS wsum_r,
           CAST(sum(idx * p) AS BIGINT) AS wsum_idx
    FROM rgb GROUP BY doc_id, w, h
    """,
)
def mm_decode_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW-compressed decode end to end: per document, encode a
    single-frame GIF (16-color palette and indices from pure-integer
    formulas; ODD doc_ids are 4-pass interlaced) with a real LZW
    compressor in one Arrow-batched ``mapInPandas`` stage, decode it
    with ``decode_gif`` — sub-block walk, LSB-first variable-width LZW
    with dictionary growth, deinterlace, palette mapping — in the
    next, and emit integer-exact RGB statistics INCLUDING
    position-weighted checksums.  The DuckDB oracle recomputes
    everything from the pixel definition in natural row order, so the
    hash only matches if the decoder restores interlaced rows to their
    true positions and the LZW round trip is byte-exact."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _gif_payload)
    return decode_payloads(
        mm,
        decode_gif,
        "width long, height long, interlaced boolean, n_px long, sum_r long, "
        "sum_g long, sum_b long, wsum_r long, wsum_idx long",
    )


# --------------------------------------------------------------------------
# animated GIF (round 7): GCE delays + multiple image descriptors
# --------------------------------------------------------------------------


def encode_gif_animation(
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
    frames: list,
    delays_cs: list[int],
    *,
    loop: int = 0,
) -> bytes:
    """Spec-valid animated GIF89a: NETSCAPE2.0 looping application
    extension, then per frame a Graphic Control Extension (disposal 1,
    centisecond delay) + full-screen image descriptor + LZW data.
    ``frames`` holds ``index_fn(x, y)`` callables, one per frame."""
    if len(frames) != len(delays_cs) or not frames:
        raise ValueError("frames and delays_cs must align and be non-empty")
    nbits = max(1, (len(palette) - 1).bit_length())
    table_size = 1 << nbits
    if len(palette) > table_size:
        raise ValueError("palette larger than its declared size")
    gct = bytearray()
    for i in range(table_size):
        r, g, b = palette[i] if i < len(palette) else (0, 0, 0)
        gct += bytes((r, g, b))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (nbits - 1), 0, 0)
    out += gct
    # NETSCAPE looping extension (the de-facto-standard animation marker)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01" + struct.pack("<H", loop) + b"\x00"
    min_code_size = max(2, nbits)
    for index_fn, delay in zip(frames, delays_cs):
        out += b"\x21\xf9\x04" + bytes([0x04]) + struct.pack("<H", delay)
        out += b"\x00\x00"  # transparent index (unused) + terminator
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        indices = bytes(
            index_fn(x, y) for y in range(height) for x in range(width)
        )
        lzw = _lzw_compress(indices, min_code_size)
        out += bytes([min_code_size])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(payload: bytes) -> dict:
    """REAL animated-GIF walk: header + GCT as in ``decode_gif``, then
    the full block stream — application/comment/plain-text extensions
    skipped by sub-block walking, Graphic Control Extensions parsed for
    per-frame delays, EVERY image descriptor LZW-decoded (full-screen,
    non-interlaced frames; the single-frame surface handles interlace).
    Returns frame count, per-frame delays (centiseconds, -1 when no GCE
    preceded the frame), total duration, and per-frame palette-mapped
    red-channel sums.  Raises ValueError on malformed input."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    if len(payload) < 13:
        raise ValueError("truncated logical screen descriptor")
    width, height, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    if not packed & 0x80:
        raise ValueError("missing global color table")
    table_size = 2 << (packed & 0x07)
    i = 13
    gct = payload[i : i + 3 * table_size]
    if len(gct) != 3 * table_size:
        raise ValueError("truncated global color table")
    i += 3 * table_size
    delays: list[int] = []
    sum_r_frames: list[int] = []
    pending_delay = -1
    while True:
        if i >= len(payload):
            raise ValueError("missing trailer")
        b = payload[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if i + 2 > len(payload):
                raise ValueError("truncated extension header")
            label = payload[i + 1]
            i += 2
            if label == 0xF9:  # Graphic Control Extension
                if i + 6 > len(payload) or payload[i] != 4:
                    raise ValueError("malformed GCE")
                (pending_delay,) = struct.unpack(
                    "<H", payload[i + 2 : i + 4]
                )
                i += 5
                if payload[i] != 0:
                    raise ValueError("GCE missing terminator")
                i += 1
            else:  # application/comment/plain-text: skip sub-blocks
                while i < len(payload) and payload[i] != 0:
                    i += 1 + payload[i]
                if i >= len(payload):
                    raise ValueError("unterminated extension")
                i += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unknown block 0x{b:02X}")
        if i + 10 > len(payload):
            raise ValueError("truncated image descriptor")
        left, top, iw, ih, img_packed = struct.unpack(
            "<HHHHB", payload[i + 1 : i + 10]
        )
        if (left, top, iw, ih) != (0, 0, width, height):
            raise ValueError("sub-rectangle frames not supported")
        if img_packed & 0x80:
            raise ValueError("local color tables not supported")
        if img_packed & 0x40:
            raise ValueError("interlaced animation frames not supported")
        i += 10
        if i >= len(payload):
            raise ValueError("truncated image data (no LZW minimum code size)")
        min_code_size = payload[i]
        i += 1
        lzw = bytearray()
        while i < len(payload) and payload[i] != 0:
            n = payload[i]
            chunk = payload[i + 1 : i + 1 + n]
            if len(chunk) != n:
                raise ValueError("truncated LZW sub-block")
            lzw += chunk
            i += 1 + n
        if i >= len(payload):
            raise ValueError("missing sub-block terminator")
        i += 1
        indices = _lzw_decompress(bytes(lzw), min_code_size, width * height)
        if max(indices) >= table_size:
            raise ValueError("palette index out of range")
        sum_r_frames.append(sum(gct[3 * idx] for idx in indices))
        delays.append(pending_delay)
        pending_delay = -1
    if not sum_r_frames:
        raise ValueError("no image data before trailer")
    return {
        "width": width,
        "height": height,
        "n_frames": len(sum_r_frames),
        "delays_cs": delays,
        "duration_cs": sum(d for d in delays if d > 0),
        "sum_r_frames": sum_r_frames,
    }
