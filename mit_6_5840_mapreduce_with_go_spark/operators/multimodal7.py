"""Real QOI decode inside the multimodal mapInPandas leg.

The sixth real image/media format: QOI ("Quite OK Image", public spec
at qoiformat.org, 2021) — the modern lossless format whose entire
compression model is five byte-level ops over a running 64-entry hash
index: RUN (repeat previous pixel), INDEX (replay a hashed earlier
color), DIFF / LUMA (small channel deltas), and literal RGB/RGBA.

- ``encode_qoi`` is the spec's greedy encoder (run -> index -> diff ->
  luma -> literal), so real payloads exercise every op the decoder
  must invert; the planted corpus's constant rows force long RUNs and
  its palette rows force INDEX replays.
- ``decode_qoi`` is a REAL decoder: header validation, the full op
  set with correct precedence (the 8-bit RGB/RGBA tags shadow the
  2-bit RUN space), the running hash index, bias arithmetic for
  DIFF/LUMA, wraparound channel math, and end-marker verification.
  Malformed input raises.

``mm_decode_qoi_stats`` is oracle-checked end to end with
position-weighted checksums (like the GIF query): a RUN mis-count or
INDEX replay of the wrong color shifts pixels positionally, which
plain sums can miss but a sum of value*position cannot.

Scale shape: identical to the other decode queries — two narrow
per-row map stages, no shuffle, payloads never on the driver.

No reference counterpart — north-star LLM-pipeline addition.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

_QOI_MAGIC = b"qoif"
_QOI_END = b"\x00" * 7 + b"\x01"


def _qoi_hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def encode_qoi(width: int, height: int, pixel, *, channels: int = 3) -> bytes:
    """Spec-greedy QOI encoder from ``pixel(x, y) -> (r, g, b)`` (alpha
    fixed at 255 for the 3-channel surface)."""
    out = bytearray(
        _QOI_MAGIC + struct.pack(">IIBB", width, height, channels, 0)
    )
    prev = (0, 0, 0, 255)
    index = [(0, 0, 0, 0)] * 64
    run = 0
    for y in range(height):
        for x in range(width):
            r, g, b = pixel(x, y)
            cur = (r & 0xFF, g & 0xFF, b & 0xFF, 255)
            if cur == prev:
                run += 1
                if run == 62:
                    out.append(0xC0 | (run - 1))
                    run = 0
                continue
            if run:
                out.append(0xC0 | (run - 1))
                run = 0
            h = _qoi_hash(*cur)
            if index[h] == cur:
                out.append(h)  # QOI_OP_INDEX
            else:
                dr = (cur[0] - prev[0] + 128) % 256 - 128
                dg = (cur[1] - prev[1] + 128) % 256 - 128
                db = (cur[2] - prev[2] + 128) % 256 - 128
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
                elif (
                    -32 <= dg <= 31
                    and -8 <= dr - dg <= 7
                    and -8 <= db - dg <= 7
                ):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out += bytes((0xFE, cur[0], cur[1], cur[2]))
            index[h] = cur
            prev = cur
    if run:
        out.append(0xC0 | (run - 1))
    return bytes(out) + _QOI_END


def decode_qoi(payload: bytes) -> dict:
    """REAL QOI decoder: header validation, the full five-op stream
    with the running 64-entry hash index, wraparound DIFF/LUMA bias
    arithmetic, RUN expansion, and end-marker verification.  Returns
    dimensions plus integer-exact RGB statistics INCLUDING
    position-weighted checksums.  Raises ValueError on malformed input
    (bad magic, unknown channel count, pixel overrun/underrun, missing
    end marker)."""
    if len(payload) < 14 + len(_QOI_END):
        raise ValueError("truncated QOI payload (shorter than header + end marker)")
    if payload[:4] != _QOI_MAGIC:
        raise ValueError("not a QOI file (bad magic)")
    width, height, channels, colorspace = struct.unpack(">IIBB", payload[4:14])
    if channels not in (3, 4):
        raise ValueError(f"invalid channel count {channels}")
    if colorspace not in (0, 1):
        raise ValueError(f"invalid colorspace {colorspace}")
    if payload[-8:] != _QOI_END:
        raise ValueError("missing QOI end marker")
    data = payload[14:-8]
    n_px = width * height
    r = g = b = 0
    a = 255
    index = [(0, 0, 0, 0)] * 64
    i = 0
    p = 0
    sum_r = sum_g = sum_b = 0
    wsum_r = 0
    mn, mx = 255, 0

    def emit(count: int = 1) -> None:
        nonlocal p, sum_r, sum_g, sum_b, wsum_r, mn, mx
        nonlocal_vals = (r, g, b)
        for _ in range(count):
            if p >= n_px:
                raise ValueError("op stream overruns the pixel count")
            sum_r += r
            sum_g += g
            sum_b += b
            wsum_r += r * p
            lo, hi = min(nonlocal_vals), max(nonlocal_vals)
            if lo < mn:
                mn = lo
            if hi > mx:
                mx = hi
            p += 1

    while p < n_px:
        if i >= len(data):
            raise ValueError("op stream ends before the pixel count")
        byte = data[i]
        i += 1
        if byte == 0xFE:  # QOI_OP_RGB
            r, g, b = data[i], data[i + 1], data[i + 2]
            i += 3
        elif byte == 0xFF:  # QOI_OP_RGBA
            r, g, b, a = data[i], data[i + 1], data[i + 2], data[i + 3]
            i += 4
        else:
            tag = byte >> 6
            if tag == 0b00:  # INDEX
                r, g, b, a = index[byte & 0x3F]
            elif tag == 0b01:  # DIFF
                r = (r + ((byte >> 4) & 0x3) - 2) % 256
                g = (g + ((byte >> 2) & 0x3) - 2) % 256
                b = (b + (byte & 0x3) - 2) % 256
            elif tag == 0b10:  # LUMA
                dg = (byte & 0x3F) - 32
                if i >= len(data):
                    raise ValueError("truncated QOI_OP_LUMA")
                nxt = data[i]
                i += 1
                r = (r + dg + ((nxt >> 4) & 0xF) - 8) % 256
                g = (g + dg) % 256
                b = (b + dg + (nxt & 0xF) - 8) % 256
            else:  # RUN
                emit((byte & 0x3F) + 1)
                continue
        index[_qoi_hash(r, g, b, a)] = (r, g, b, a)
        emit()
    if i != len(data):
        raise ValueError("trailing bytes after the final pixel")
    return {
        "width": width,
        "height": height,
        "n_px": n_px,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "wsum_r": wsum_r,
        "min_rgb": mn,
        "max_rgb": mx,
    }


# pure-integer corpus: smooth gradients (DIFF/LUMA), constant rows
# every y % 4 == 3 (long RUNs), and the gradients revisit colors across
# rows (INDEX replays) — the oracle substitutes x := 0 on run rows
def _qoi_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    if y % 4 == 3:
        x = 0  # constant rows -> RUN ops
    if x % 8 == 7:
        # recurring per-doc accent color -> INDEX replays
        return ((doc_id * 3) % 256, (doc_id * 5) % 256, (doc_id * 7) % 256)
    j = 9 * (x // 5)  # +10 deltas at the jump columns -> LUMA ops
    return (
        (doc_id * 5 + x + 2 * y + j) % 256,  # unit steps -> DIFF ops
        (doc_id * 7 + x + y + j) % 256,
        (doc_id * 3 + x + 2 * y + j) % 256,
    )


def _qoi_payload(d: int) -> bytes:
    w, h = 16 + 8 * (d % 2), 12 + 4 * (d % 3)
    return encode_qoi(w, h, lambda x, y: _qoi_pixel(d, x, y))


@query(
    "mm_decode_qoi_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             16 + 8 * (doc_id % 2) AS w,
             12 + 4 * (doc_id % 3) AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h,
             t.i - 1 AS p,
             CASE WHEN ((t.i - 1) // w) % 4 = 3 THEN 0
                  ELSE (t.i - 1) % w END AS x,
             (t.i - 1) // w AS y
      FROM d, unnest(generate_series(1, CAST(w * h AS INT))) AS t(i)),
    rgb AS (
      SELECT doc_id, w, h, p,
             CASE WHEN x % 8 = 7 THEN (doc_id * 3) % 256
                  ELSE (doc_id * 5 + x + 2 * y + 9 * (x // 5)) % 256
             END AS r,
             CASE WHEN x % 8 = 7 THEN (doc_id * 5) % 256
                  ELSE (doc_id * 7 + x + y + 9 * (x // 5)) % 256
             END AS g,
             CASE WHEN x % 8 = 7 THEN (doc_id * 7) % 256
                  ELSE (doc_id * 3 + x + 2 * y + 9 * (x // 5)) % 256
             END AS b
      FROM px)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(r * p) AS BIGINT) AS wsum_r,
           CAST(least(min(r), min(g), min(b)) AS BIGINT) AS min_rgb,
           CAST(greatest(max(r), max(g), max(b)) AS BIGINT) AS max_rgb
    FROM rgb GROUP BY doc_id, w, h
    """,
)
def mm_decode_qoi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI decode end to end: per document, encode a QOI image
    (smooth gradients, constant rows, color replays — so the greedy
    encoder emits every op class) in one Arrow-batched ``mapInPandas``
    stage, decode it with ``decode_qoi`` — hash index, DIFF/LUMA bias
    arithmetic, RUN expansion — in the next, and emit integer-exact
    statistics INCLUDING a position-weighted checksum, so a RUN
    mis-count or wrong INDEX replay breaks the value hash even when
    plain sums survive.  The DuckDB oracle recomputes everything from
    the pixel definition."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _qoi_payload)
    return decode_payloads(
        mm,
        decode_qoi,
        "width long, height long, n_px long, sum_r long, sum_g long, "
        "sum_b long, wsum_r long, min_rgb long, max_rgb long",
    )
