"""Real gzip-member decode inside the multimodal mapInPandas leg — the
compressed-TEXT ingest path (RFC 1952, public spec).

A web-crawl training pipeline spends much of its scan time inside gzip
members (WARC records, .gz shards).  This module implements the real
container walk with NO shortcut through ``gzip.decompress``:

- ``encode_gzip_member`` builds a spec-valid member: magic/CM/FLG,
  MTIME, XFL/OS, optional FEXTRA (tagged subfields), FNAME and
  FCOMMENT (zero-terminated Latin-1), optional FHCRC (CRC-16 of the
  header), raw-deflate body, CRC-32 + ISIZE trailer.
- ``decode_gzip_member`` is a REAL parser: header validation, flag-
  driven optional-field walk, FHCRC verification, raw inflate
  (``zlib`` with negative wbits — stdlib provides DEFLATE, the
  container logic here is the decoder), trailer CRC-32 and ISIZE
  (mod 2^32) verification, multi-member rejection surfaced explicitly.
  Malformed input raises ValueError (bad magic, reserved FLG bits,
  truncated optional fields, header-CRC mismatch, body-CRC mismatch,
  wrong ISIZE, trailing garbage).

``mm_decode_gzip_stats`` drives it end-to-end: payloads are built from
a pure-integer token formula in one Arrow-batched ``mapInPandas``
stage (header-variant mix: FNAME on odd docs, FCOMMENT on doc_id % 3
== 0, FEXTRA + FHCRC on doc_id % 5 == 0), decoded in the next, and
the DuckDB oracle recomputes every statistic from the token DEFINITION
— so a wrong optional-field walk, an off-by-one in the
zero-terminated-string scan, or a trailer mis-read changes the decoded
text or errors, and breaks the value hash.

No reference counterpart (the reference is a plain-text MapReduce
engine) — north-star LLM-pipeline addition, same family as the other
decode modules.

Scale shape: two narrow stateless mapInPandas stages, no shuffle,
payloads never on the driver; at 100 TB the encode stage is replaced
by real .gz bytes from the lake and the decode stage is unchanged.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

_GZ_MAGIC = b"\x1f\x8b"
_CM_DEFLATE = 8
_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16


def encode_gzip_member(
    data: bytes,
    *,
    mtime: int = 0,
    fname: str | None = None,
    fcomment: str | None = None,
    fextra: list[tuple[bytes, bytes]] | None = None,
    fhcrc: bool = False,
) -> bytes:
    """Spec-valid single gzip member (RFC 1952) around ``data``."""
    flg = 0
    if fextra:
        flg |= _FEXTRA
    if fname is not None:
        flg |= _FNAME
    if fcomment is not None:
        flg |= _FCOMMENT
    if fhcrc:
        flg |= _FHCRC
    head = _GZ_MAGIC + bytes([_CM_DEFLATE, flg])
    head += struct.pack("<I", mtime & 0xFFFFFFFF)
    head += bytes([0, 255])  # XFL, OS=unknown
    if fextra:
        xfield = b"".join(
            si + struct.pack("<H", len(payload)) + payload
            for si, payload in fextra
        )
        head += struct.pack("<H", len(xfield)) + xfield
    if fname is not None:
        head += fname.encode("latin-1") + b"\x00"
    if fcomment is not None:
        head += fcomment.encode("latin-1") + b"\x00"
    if fhcrc:
        head += struct.pack("<H", zlib.crc32(head) & 0xFFFF)
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    body = co.compress(data) + co.flush()
    trailer = struct.pack(
        "<II", zlib.crc32(data) & 0xFFFFFFFF, len(data) & 0xFFFFFFFF
    )
    return head + body + trailer


def decode_gzip_member(payload: bytes) -> dict:
    """REAL gzip-member parse: see the module docstring for coverage.
    Returns header metadata plus the decompressed bytes.  Raises
    ValueError on malformed input (including trailing bytes — use
    ``decode_gzip_stream`` for multi-member files)."""
    m, consumed = _gzip_member_parse(payload)
    if consumed != len(payload):
        raise ValueError(
            f"{len(payload) - consumed} bytes of trailing garbage "
            f"(multi-member streams not supported)"
        )
    return m


def decode_gzip_stream(payload: bytes) -> list[dict]:
    """Concatenated gzip members (RFC 1952 §2.2 allows them; the
    Common-Crawl WARC convention is exactly one member per record).
    Each member gets the full header/trailer verification of
    ``decode_gzip_member``."""
    if not payload:
        raise ValueError("empty gzip stream")
    members = []
    i = 0
    while i < len(payload):
        m, consumed = _gzip_member_parse(payload, i)
        members.append(m)
        i += consumed
    return members


def _gzip_member_parse(payload: bytes, start: int = 0) -> tuple[dict, int]:
    """Parse ONE gzip member at ``payload[start:]``; returns the member
    dict and the number of bytes it occupies.  All indexing is
    offset-based and the DEFLATE body is fed to the decompressor in
    bounded chunks, so walking an N-byte multi-member stream (the
    Common-Crawl ``.warc.gz`` convention — one member per record, ~1 GB
    shards) is O(N) total, never O(N^2) re-slicing."""
    n = len(payload)
    if n - start < 18:
        raise ValueError("truncated gzip member (shorter than header + trailer)")
    if payload[start : start + 2] != _GZ_MAGIC:
        raise ValueError("not a gzip member (bad magic)")
    if payload[start + 2] != _CM_DEFLATE:
        raise ValueError(f"unsupported compression method {payload[start + 2]}")
    flg = payload[start + 3]
    if flg & 0xE0:
        raise ValueError(f"reserved FLG bits set ({flg:#04x})")
    (mtime,) = struct.unpack("<I", payload[start + 4 : start + 8])
    i = start + 10
    if flg & _FEXTRA:
        if i + 2 > n:
            raise ValueError("truncated FEXTRA length")
        (xlen,) = struct.unpack("<H", payload[i : i + 2])
        if i + 2 + xlen > n:
            raise ValueError("truncated FEXTRA field")
        i += 2 + xlen
    fname = fcomment = None
    for flag, label in ((_FNAME, "FNAME"), (_FCOMMENT, "FCOMMENT")):
        if flg & flag:
            end = payload.find(b"\x00", i)
            if end < 0:
                raise ValueError(f"unterminated {label}")
            text = payload[i:end].decode("latin-1")
            if flag == _FNAME:
                fname = text
            else:
                fcomment = text
            i = end + 1
    if flg & _FHCRC:
        if i + 2 > n:
            raise ValueError("truncated FHCRC")
        (hcrc,) = struct.unpack("<H", payload[i : i + 2])
        if hcrc != zlib.crc32(memoryview(payload)[start:i]) & 0xFFFF:
            raise ValueError("header CRC-16 mismatch")
        i += 2
    # Chunked inflate: hand the decompressor 64 KiB at a time and stop
    # at end-of-stream, so ``unused_data`` (which materializes a copy)
    # is never more than one chunk of lookahead.
    d = zlib.decompressobj(-15)
    out = []
    pos = i
    mv = memoryview(payload)
    try:
        while not d.eof:
            if pos >= n:
                raise ValueError("truncated gzip trailer")
            chunk = mv[pos : pos + 65536]
            out.append(d.decompress(chunk))
            pos += len(chunk)
    except zlib.error as exc:
        raise ValueError(f"corrupt DEFLATE stream: {exc}") from exc
    data = b"".join(out)
    deflate_end = pos - len(d.unused_data)
    if deflate_end + 8 > n:
        raise ValueError("truncated gzip trailer")
    crc, isize = struct.unpack("<II", payload[deflate_end : deflate_end + 8])
    if crc != zlib.crc32(data) & 0xFFFFFFFF:
        raise ValueError("body CRC-32 mismatch")
    if isize != len(data) & 0xFFFFFFFF:
        raise ValueError(f"ISIZE {isize} != decompressed length {len(data)}")
    member = {
        "mtime": mtime,
        "ftext": bool(flg & _FTEXT),
        "fname": fname,
        "fcomment": fcomment,
        "data": data,
    }
    return member, deflate_end + 8 - start


# Planted text: n tokens, token i = (doc_id * 7 + i * 13) % 1000, space-
# joined.  Every query statistic is a pure-integer function of doc_id
# that DuckDB re-derives with generate_series — including n_bytes, which
# needs the DIGIT LENGTH of each token (length(CAST(v AS VARCHAR))).
def _gzip_tokens(doc_id: int) -> list[int]:
    n = 20 + doc_id % 13
    return [(doc_id * 7 + i * 13) % 1000 for i in range(n)]


def _gzip_payload(doc_id: int) -> bytes:
    text = " ".join(str(v) for v in _gzip_tokens(doc_id)).encode()
    return encode_gzip_member(
        text,
        mtime=(doc_id * 1000) & 0xFFFFFFFF,
        fname=f"doc_{doc_id}.txt" if doc_id % 2 else None,
        fcomment=f"c{doc_id}" if doc_id % 3 == 0 else None,
        fextra=[(b"AB", b"x" * (doc_id % 7))] if doc_id % 5 == 0 else None,
        fhcrc=doc_id % 5 == 0,
    )


def _gzip_stats(p: bytes) -> dict:
    m = decode_gzip_member(p)
    toks = m["data"].split(b" ")
    vals = [int(t) for t in toks]
    return {
        "mtime": m["mtime"],
        "fname_len": len(m["fname"]) if m["fname"] is not None else -1,
        "n_tokens": len(vals),
        "n_bytes": len(m["data"]),
        "token_sum": sum(vals),
        "token_wsum": sum(v * i for i, v in enumerate(vals)),
    }


@query(
    "mm_decode_gzip_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 20 + doc_id % 13 AS n FROM documents),
    tok AS (
      SELECT doc_id, n, t.i - 1 AS i,
             (doc_id * 7 + (t.i - 1) * 13) % 1000 AS v
      FROM d, unnest(generate_series(1, CAST(n AS INT))) AS t(i))
    SELECT doc_id,
           CAST((doc_id * 1000) % 4294967296 AS BIGINT) AS mtime,
           CAST(CASE WHEN doc_id % 2 = 1
                     THEN length('doc_' || CAST(doc_id AS VARCHAR) || '.txt')
                     ELSE -1 END AS BIGINT) AS fname_len,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(sum(length(CAST(v AS VARCHAR))) + n - 1 AS BIGINT) AS n_bytes,
           CAST(sum(v) AS BIGINT) AS token_sum,
           CAST(sum(v * i) AS BIGINT) AS token_wsum
    FROM tok GROUP BY doc_id, n
    """,
)
def mm_decode_gzip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-text ingest end-to-end: per document, wrap a
    planted token stream in a gzip member (header-variant mix: FNAME on
    odd docs, FCOMMENT on multiples of 3, FEXTRA + FHCRC on multiples
    of 5) in one mapInPandas stage, parse it back with the full RFC
    1952 walk — optional fields, header CRC, inflate, trailer CRC-32 +
    ISIZE — in the next, and emit exact text statistics plus header
    metadata.  The DuckDB oracle recomputes everything from the token
    formula; a mis-walked optional field shifts the DEFLATE start and
    either errors or breaks the hash.

    Scale shape: two narrow mapInPandas stages, no shuffle — the
    standard decode-family plan."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _gzip_payload)
    return decode_payloads(
        mm,
        _gzip_stats,
        "mtime long, fname_len long, n_tokens long, n_bytes long, "
        "token_sum long, token_wsum long",
    )


# --------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER, BI_RGB 24-bit) — the uncompressed DIB path
# --------------------------------------------------------------------------


def encode_bmp(width: int, height: int, pixel, *, top_down: bool = False) -> bytes:
    """Spec-valid 24-bit BI_RGB BMP from ``pixel(x, y, c)`` (c in RGB
    order).  Rows are 4-byte padded, stored bottom-up unless
    ``top_down`` (negative biHeight), samples in B,G,R order — the two
    conventions every naive reader gets wrong."""
    stride = (width * 3 + 3) & ~3
    rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            r, g, b = (pixel(x, y, c) & 0xFF for c in range(3))
            row += bytes((b, g, r))
        row += bytes(stride - width * 3)
        rows.append(bytes(row))
    if not top_down:
        rows.reverse()
    data = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, width, -height if top_down else height, 1, 24, 0,
        len(data), 2835, 2835, 0, 0,
    )
    off = 14 + 40
    head = b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
    return head + info + data


def decode_bmp(payload: bytes) -> dict:
    """REAL BMP decoder: BITMAPFILEHEADER + BITMAPINFOHEADER
    validation (24-bit BI_RGB only), pixel-offset honoring, 4-byte row
    de-padding, bottom-up/top-down normalization, B,G,R -> R,G,B.
    Returns dimensions plus integer-exact per-channel statistics with a
    position-weighted checksum (raster order), so a flipped row order
    or swapped channels is value-visible.  Raises ValueError on
    malformed or out-of-surface input."""
    if len(payload) < 54:
        raise ValueError("truncated BMP (shorter than headers)")
    if payload[:2] != b"BM":
        raise ValueError("not a BMP (bad magic)")
    fsize, _, off = struct.unpack("<III", payload[2:14])
    if fsize != len(payload):
        raise ValueError(f"file-size field {fsize} != payload {len(payload)}")
    hsize, w, h, planes, bpp, comp = struct.unpack("<IiiHHI", payload[14:34])
    if hsize < 40:
        raise ValueError(f"unsupported DIB header size {hsize}")
    if planes != 1:
        raise ValueError(f"invalid plane count {planes}")
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported format ({bpp}-bit, compression {comp})")
    if w <= 0 or h == 0:
        raise ValueError(f"invalid dimensions {w}x{h}")
    top_down = h < 0
    height = -h if top_down else h
    stride = (w * 3 + 3) & ~3
    if off + stride * height > len(payload):
        raise ValueError("truncated pixel array")
    sum_rgb = [0, 0, 0]
    wsum = 0
    mn, mx = 255, 0
    for row_i in range(height):
        y = row_i if top_down else height - 1 - row_i
        base = off + row_i * stride
        for x in range(w):
            b, g, r = payload[base + 3 * x : base + 3 * x + 3]
            sum_rgb[0] += r
            sum_rgb[1] += g
            sum_rgb[2] += b
            wsum += r * (y * w + x)
            mn = min(mn, r, g, b)
            mx = max(mx, r, g, b)
    return {
        "width": w,
        "height": height,
        "top_down": top_down,
        "n_px": w * height,
        "sum_r": sum_rgb[0],
        "sum_g": sum_rgb[1],
        "sum_b": sum_rgb[2],
        "wsum_r": wsum,
        "min_px": mn,
        "max_px": mx,
    }


def _bmp_pix(doc_id: int, x: int, y: int, c: int) -> int:
    return (doc_id * 11 + x * 7 + y * 19 + c * 29) % 256


def _bmp_payload(d: int) -> bytes:
    w, h = 3 + d % 6, 2 + d % 5
    return encode_bmp(
        w,
        h,
        lambda x, y, c: _bmp_pix(d, x, y, c),
        top_down=bool(d % 2),
    )


@query(
    "mm_decode_bmp_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h,
             (t.i - 1) % w AS x, (t.i - 1) // w AS y
      FROM d, unnest(generate_series(1, CAST(w * h AS INT))) AS t(i)),
    v AS (
      SELECT doc_id, w, h, x, y,
             (doc_id * 11 + x * 7 + y * 19) % 256       AS r,
             (doc_id * 11 + x * 7 + y * 19 + 29) % 256  AS g,
             (doc_id * 11 + x * 7 + y * 19 + 58) % 256  AS b
      FROM px)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(doc_id % 2 = 1 AS BOOLEAN) AS top_down,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(r * (y * w + x)) AS BIGINT) AS wsum_r,
           CAST(least(min(r), min(g), min(b)) AS BIGINT) AS min_px,
           CAST(greatest(max(r), max(g), max(b)) AS BIGINT) AS max_px
    FROM v GROUP BY doc_id, w, h
    """,
)
def mm_decode_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL uncompressed-DIB decode end-to-end: per document, encode a
    24-bit BI_RGB BMP from the planted integer pixel formula (odd docs
    top-down/negative-height, even docs bottom-up) in one mapInPandas
    stage, decode it — header validation, row de-padding, orientation
    normalization, BGR->RGB — in the next.  The position-weighted
    checksum makes a flipped row order hash-visible, the per-channel
    sums make swapped B/R hash-visible; the DuckDB oracle recomputes
    both from the pixel definition.

    Scale shape: two narrow mapInPandas stages, no shuffle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _bmp_payload)
    return decode_payloads(
        mm,
        decode_bmp,
        "width long, height long, top_down boolean, "
        "n_px long, sum_r long, sum_g long, sum_b long, wsum_r long, "
        "min_px long, max_px long",
    )


# --------------------------------------------------------------------------
# tar / USTAR — the WebDataset-shard container (POSIX.1-1988, public)
# --------------------------------------------------------------------------


def _tar_octal(value: int, width: int) -> bytes:
    return (f"{value:0{width - 1}o}").encode() + b"\x00"


def _tar_block(
    name: bytes, size: int, mtime: int, typeflag: bytes, *, gnu: bool = False
) -> bytearray:
    """One 512-byte header block with a verified checksum.  ``gnu``
    selects the old-GNU magic (``ustar  \\0``) over POSIX ``ustar\\x00``
    + version ``00``."""
    hdr = bytearray(512)
    hdr[0 : len(name)] = name
    hdr[100:108] = _tar_octal(0o644, 8)
    hdr[108:116] = _tar_octal(0, 8)
    hdr[116:124] = _tar_octal(0, 8)
    hdr[124:136] = _tar_octal(size, 12)
    hdr[136:148] = _tar_octal(mtime, 12)
    hdr[148:156] = b" " * 8  # chksum blanked for computation
    hdr[156] = typeflag[0]
    if gnu:
        hdr[257:265] = b"ustar  \x00"
    else:
        hdr[257:263] = b"ustar\x00"
        hdr[263:265] = b"00"
    chk = sum(hdr)
    hdr[148:155] = f"{chk:06o}".encode() + b"\x00"
    hdr[155] = 0x20
    return hdr


def _pax_records(fields: dict[str, str]) -> bytes:
    """PAX extended-header payload: repeated ``<len> <key>=<value>\\n``
    where ``<len>`` is the decimal byte length of the WHOLE record
    including its own digits (pax(1) / POSIX.1-2001 — the fixed-point
    loop every PAX writer implements)."""
    out = bytearray()
    for key, value in fields.items():
        body = f" {key}={value}\n".encode()
        length = len(body) + 1
        while len(str(length)) + len(body) != length:
            length = len(str(length)) + len(body)
        out += str(length).encode() + body
    return bytes(out)


def _tar_pad(content: bytes) -> bytes:
    return content + bytes((512 - len(content) % 512) % 512)


def encode_tar(
    members: list[tuple[str, int, bytes]], *, fmt: str = "ustar"
) -> bytes:
    """Spec-valid tar archive from ``(name, mtime, content)`` members:
    512-byte headers with octal fields, verified checksum (computed
    over the header with the chksum field blanked to spaces),
    512-padded content, two zero blocks at end-of-archive.

    ``fmt`` picks the long-name strategy real archives use:

    - ``"ustar"`` — POSIX.1-1988; names over 100 bytes raise.
    - ``"pax"``  — POSIX.1-2001; a member whose name exceeds 100 bytes
      (or whose mtime exceeds the octal field) gets a preceding ``x``
      extended header carrying ``path`` / ``mtime`` records, with the
      header-block name truncated to the ``PaxHeaders.0/`` convention.
    - ``"gnu"``  — old-GNU; long names get a preceding ``L`` entry
      whose content is the full NUL-terminated name.
    """
    if fmt not in ("ustar", "pax", "gnu"):
        raise ValueError(f"unknown tar format {fmt!r}")
    out = bytearray()
    for name, mtime, content in members:
        nb = name.encode()
        hdr_name, hdr_mtime = nb, mtime
        if len(nb) > 100 or mtime >= 8**11:
            if fmt == "ustar":
                raise ValueError(
                    f"name too long for USTAR ({len(nb)} > 100)"
                    if len(nb) > 100
                    else f"mtime {mtime} exceeds the octal field"
                )
            if fmt == "gnu":
                if len(nb) > 100:
                    data = _tar_pad(nb + b"\x00")
                    out += _tar_block(
                        b"././@LongLink", len(nb) + 1, 0, b"L", gnu=True
                    )
                    out += data
                    hdr_name = nb[:100]
                if mtime >= 8**11:
                    raise ValueError(
                        f"mtime {mtime} exceeds the octal field (gnu "
                        f"base-256 mtime not implemented)"
                    )
            else:  # pax
                fields: dict[str, str] = {}
                if len(nb) > 100:
                    fields["path"] = name
                    hdr_name = nb[:100]
                if mtime >= 8**11:
                    fields["mtime"] = str(mtime)
                    hdr_mtime = 0
                recs = _pax_records(fields)
                xname = f"PaxHeaders.0/{name}".encode()[:100]
                out += _tar_block(xname, len(recs), 0, b"x")
                out += _tar_pad(recs)
        out += _tar_block(
            hdr_name, len(content), hdr_mtime, b"0", gnu=(fmt == "gnu")
        )
        out += _tar_pad(content)
    out += bytes(1024)  # end-of-archive marker
    return bytes(out)


def _tar_field_int(raw: bytes, label: str) -> int:
    text = raw.split(b"\x00")[0].strip(b" \x00")
    if not text:
        return 0
    try:
        return int(text, 8)
    except ValueError as exc:
        raise ValueError(f"non-octal {label} field {raw!r}") from exc


def _pax_parse(data: bytes) -> dict[str, str]:
    """Parse PAX extended-header records (``<len> <key>=<value>\\n``),
    verifying each record's self-declared length."""
    fields: dict[str, str] = {}
    i = 0
    while i < len(data):
        sp = data.find(b" ", i)
        if sp < 0:
            raise ValueError("malformed PAX record (no length delimiter)")
        try:
            length = int(data[i:sp])
        except ValueError as exc:
            raise ValueError(
                f"non-decimal PAX record length {data[i:sp]!r}"
            ) from exc
        rec = data[i : i + length]
        if length < sp - i + 3 or i + length > len(data) or rec[-1:] != b"\n":
            raise ValueError(f"PAX record length {length} inconsistent")
        body = rec[sp - i + 1 : -1]
        eq = body.find(b"=")
        if eq < 0:
            raise ValueError("malformed PAX record (no '=')")
        try:
            fields[body[:eq].decode()] = body[eq + 1 :].decode()
        except UnicodeDecodeError as exc:
            raise ValueError("non-UTF-8 PAX record") from exc
        i += length
    return fields


def decode_tar(payload: bytes) -> list[dict]:
    """REAL tar walk: 512-block iteration, octal field parsing,
    ustar/old-GNU magic validation, CHECKSUM VERIFICATION (unsigned sum
    with the chksum field read as spaces), content extraction with
    padding skip, end-of-archive detection (two zero blocks).  Handles
    the long-name mechanisms wild WebDataset shards actually carry:
    PAX ``x`` (per-file) and ``g`` (global) extended headers — with
    ``path`` / ``size`` / ``mtime`` record overrides, length-verified —
    and old-GNU ``L`` long-name entries.  Returns one dict per regular
    member.  Raises ValueError on malformed input (truncated
    header/content, bad magic, checksum mismatch, non-octal fields,
    missing end marker, unsupported typeflags, dangling overrides,
    malformed PAX records)."""
    if len(payload) % 512:
        raise ValueError("tar length is not a multiple of 512")
    i = 0
    members = []
    globals_: dict[str, str] = {}
    pending: dict[str, str] = {}
    gnu_longname: str | None = None
    while True:
        if i + 512 > len(payload):
            raise ValueError("missing end-of-archive marker")
        hdr = payload[i : i + 512]
        if hdr == bytes(512):
            if payload[i + 512 : i + 1024] != bytes(512):
                raise ValueError("single zero block (need two at end)")
            if pending or gnu_longname is not None:
                raise ValueError("dangling PAX/longname header at end")
            break
        if hdr[257:262] != b"ustar":
            raise ValueError(f"bad ustar magic at offset {i}")
        stored = _tar_field_int(hdr[148:156], "chksum")
        blanked = hdr[:148] + b" " * 8 + hdr[156:]
        if stored != sum(blanked):
            raise ValueError(
                f"header checksum mismatch at offset {i} "
                f"({stored} != {sum(blanked)})"
            )
        typeflag = hdr[156:157]
        if typeflag not in (b"0", b"\x00", b"x", b"g", b"L"):
            raise ValueError(f"unsupported typeflag {typeflag!r}")
        raw_name = hdr[:100].split(b"\x00")[0]
        try:
            name = raw_name.decode()
        except UnicodeDecodeError as exc:
            raise ValueError(f"non-UTF-8 member name {raw_name!r}") from exc
        size = _tar_field_int(hdr[124:136], "size")
        mtime = _tar_field_int(hdr[136:148], "mtime")
        i += 512
        if typeflag in (b"x", b"g", b"L"):
            # Meta entries: their own size is always the header octal.
            if i + size > len(payload):
                raise ValueError(f"truncated meta entry {name!r}")
            content = payload[i : i + size]
            i += size + ((512 - size % 512) % 512)
            if typeflag == b"x":
                if pending:
                    raise ValueError("consecutive PAX x-headers")
                pending = _pax_parse(content)
            elif typeflag == b"g":
                globals_.update(_pax_parse(content))
            else:
                if gnu_longname is not None:
                    raise ValueError("consecutive GNU longname entries")
                raw = content.split(b"\x00")[0]
                try:
                    gnu_longname = raw.decode()
                except UnicodeDecodeError as exc:
                    raise ValueError(
                        f"non-UTF-8 GNU longname {raw!r}"
                    ) from exc
            continue
        # Regular member: apply global then per-file overrides (POSIX
        # precedence), then the GNU longname if one preceded us.  A PAX
        # ``size`` record overrides the header field BEFORE the content
        # is consumed — writers zero (or saturate) the octal field when
        # the real size does not fit it.
        eff = dict(globals_)
        eff.update(pending)
        pending = {}
        if gnu_longname is not None:
            name = gnu_longname
            gnu_longname = None
        if "path" in eff:
            name = eff["path"]
        if "size" in eff:
            try:
                size = int(eff["size"])
            except ValueError as exc:
                raise ValueError(
                    f"non-decimal PAX size {eff['size']!r}"
                ) from exc
        if "mtime" in eff:
            # POSIX allows a fractional part; take the integer lead
            # digits directly rather than round-tripping through float
            # (``1e999`` would raise OverflowError, NaN a differently
            # worded ValueError, and >2^53 would silently lose
            # precision).  Negative epochs are legal (pre-1970).
            lead = eff["mtime"].split(".", 1)[0]
            try:
                mtime = int(lead)
            except ValueError as exc:
                raise ValueError(
                    f"non-numeric PAX mtime {eff['mtime']!r}"
                ) from exc
        if i + size > len(payload):
            raise ValueError(f"truncated content for {name!r}")
        content = payload[i : i + size]
        i += size + ((512 - size % 512) % 512)
        members.append(
            {"name": name, "size": size, "mtime": mtime, "content": content}
        )
    return members


def _tar_members(doc_id: int) -> list[tuple[str, int, bytes]]:
    k = 2 + doc_id % 4
    out = []
    for m in range(k):
        ln = 10 + (doc_id + m * 3) % 20
        content = bytes((doc_id + m + j) % 256 for j in range(ln))
        out.append((f"sample_{doc_id}/{m}.bin", doc_id * 60 + m, content))
    return out


def _tar_stats(p: bytes) -> dict:
    ms = decode_tar(p)
    return {
        "n_members": len(ms),
        "total_size": sum(m["size"] for m in ms),
        "name_len_sum": sum(len(m["name"]) for m in ms),
        "mtime_sum": sum(m["mtime"] for m in ms),
        "content_sum": sum(sum(m["content"]) for m in ms),
        "content_wsum": sum(sum(m["content"]) * i for i, m in enumerate(ms)),
    }


def _tar_payload(doc_id: int) -> bytes:
    return encode_tar(_tar_members(doc_id))


@query(
    "mm_decode_tar_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS k FROM documents),
    mem AS (
      SELECT doc_id, k, t.i - 1 AS m,
             10 + (doc_id + (t.i - 1) * 3) % 20 AS ln
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    b AS (
      SELECT doc_id, k, m, ln,
             (SELECT sum((doc_id + m + u.j - 1) % 256)
              FROM unnest(generate_series(1, CAST(ln AS INT))) AS u(j))
               AS csum
      FROM mem)
    SELECT doc_id,
           CAST(k AS BIGINT) AS n_members,
           CAST(sum(ln) AS BIGINT) AS total_size,
           CAST(sum(length('sample_' || CAST(doc_id AS VARCHAR) || '/'
                           || CAST(m AS VARCHAR) || '.bin')) AS BIGINT)
             AS name_len_sum,
           CAST(sum(doc_id * 60 + m) AS BIGINT) AS mtime_sum,
           CAST(sum(csum) AS BIGINT) AS content_sum,
           CAST(sum(csum * m) AS BIGINT) AS content_wsum
    FROM b GROUP BY doc_id, k
    """,
)
def mm_decode_tar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebDataset-style shard walk end-to-end: per document, pack
    2-5 member files (planted byte formulas, per-member mtimes) into a
    USTAR archive in one mapInPandas stage, walk it back — octal
    fields, verified checksums, padding skip, end-of-archive marker —
    in the next, and emit member-count/size/name/mtime/content
    statistics the DuckDB oracle re-derives from the member DEFINITION.
    A mis-read size field desynchronizes the whole walk; a skipped
    checksum verification would hide it — both are value-visible.

    Scale shape: two narrow mapInPandas stages, no shuffle — at 100 TB
    the encode stage is replaced by real .tar shards from the lake (the
    standard multimodal training layout) and the walk is unchanged."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _tar_payload)
    return decode_payloads(
        mm,
        _tar_stats,
        "n_members long, total_size long, name_len_sum long, mtime_sum long, "
        "content_sum long, content_wsum long",
    )


# --------------------------------------------------------------------------
# WebDataset composite ingest: tar shard -> per-member decode dispatch
# --------------------------------------------------------------------------


def _wds_tokens(doc_id: int, s: int) -> list[int]:
    n = 5 + (doc_id + s) % 7
    return [(doc_id * 7 + s * 3 + i * 13) % 1000 for i in range(n)]


def _wds_img_dims(doc_id: int, s: int) -> tuple[int, int]:
    return 3 + (doc_id + s) % 4, 2 + (doc_id + s) % 3


def _wds_shard(doc_id: int) -> bytes:
    """One WebDataset-style shard: per sample, a gzip'd caption and a
    BMP image, grouped by the shared basename (the webdataset sample
    convention)."""
    members = []
    for s in range(1 + doc_id % 3):
        text = " ".join(str(v) for v in _wds_tokens(doc_id, s)).encode()
        members.append(
            (
                f"{doc_id:08d}_{s}.txt.gz",
                doc_id,
                encode_gzip_member(text, mtime=doc_id + s),
            )
        )
        w, h = _wds_img_dims(doc_id, s)
        members.append(
            (
                f"{doc_id:08d}_{s}.bmp",
                doc_id,
                encode_bmp(
                    w, h, lambda x, y, c, d=doc_id, s=s: _bmp_pix(d + s * 17, x, y, c)
                ),
            )
        )
    return encode_tar(members)


def _webdataset_ingest_stats(p: bytes) -> dict:
    samples: dict[str, dict] = {}
    for m in decode_tar(p):
        name = m["name"]
        if name.endswith(".txt.gz"):
            base = name[: -len(".txt.gz")]
            toks = [
                int(t)
                for t in decode_gzip_member(m["content"])[
                    "data"
                ].split(b" ")
            ]
            samples.setdefault(base, {})["toks"] = toks
        elif name.endswith(".bmp"):
            base = name[: -len(".bmp")]
            samples.setdefault(base, {})["img"] = decode_bmp(m["content"])
        else:
            raise ValueError(f"unknown member type {name!r}")
    if any(
        "toks" not in s or "img" not in s for s in samples.values()
    ):
        raise ValueError("incomplete sample (missing modality)")
    return {
        "n_samples": len(samples),
        "n_members": 2 * len(samples),
        "caption_token_sum": sum(sum(s["toks"]) for s in samples.values()),
        "caption_n_tokens": sum(len(s["toks"]) for s in samples.values()),
        "image_sum_r": sum(s["img"]["sum_r"] for s in samples.values()),
        "image_n_px": sum(s["img"]["n_px"] for s in samples.values()),
    }


@query(
    "mm_webdataset_ingest_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
    smp AS (
      SELECT doc_id, k, t.i - 1 AS s,
             5 + (doc_id + t.i - 1) % 7 AS n,
             3 + (doc_id + t.i - 1) % 4 AS w,
             2 + (doc_id + t.i - 1) % 3 AS h
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    txt AS (
      SELECT doc_id, s,
             (SELECT sum((doc_id * 7 + s * 3 + (u.j - 1) * 13) % 1000)
              FROM unnest(generate_series(1, CAST(n AS INT))) AS u(j))
               AS tok_sum,
             n
      FROM smp),
    img AS (
      SELECT doc_id, s,
             (SELECT sum(((doc_id + s * 17) * 11 + ((u.j - 1) % w) * 7
                          + ((u.j - 1) // w) * 19) % 256)
              FROM unnest(generate_series(1, CAST(w * h AS INT))) AS u(j))
               AS sum_r,
             w * h AS n_px
      FROM smp)
    SELECT d.doc_id,
           CAST(d.k AS BIGINT) AS n_samples,
           CAST(2 * d.k AS BIGINT) AS n_members,
           CAST(sum(txt.tok_sum) AS BIGINT) AS caption_token_sum,
           CAST(sum(txt.n) AS BIGINT) AS caption_n_tokens,
           CAST(sum(img.sum_r) AS BIGINT) AS image_sum_r,
           CAST(sum(img.n_px) AS BIGINT) AS image_n_px
    FROM d
    JOIN txt ON txt.doc_id = d.doc_id
    JOIN img ON img.doc_id = d.doc_id AND img.s = txt.s
    GROUP BY d.doc_id, d.k
    """,
)
def mm_webdataset_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE multimodal ingest — the real WebDataset shape: per
    document, a tar shard holding (caption.txt.gz, image.bmp) pairs
    grouped by basename; the decode stage walks the USTAR container,
    dispatches each member on its suffix (gzip member parse for .txt.gz
    — full RFC 1952 walk — and DIB decode for .bmp), re-associates
    members into samples, and emits per-shard statistics the DuckDB
    oracle re-derives from the planted formulas.  Three real decoders
    composing in one pipeline: a mis-walk in ANY of them breaks the
    value hash.

    Scale shape: two narrow mapInPandas stages, no shuffle — identical
    to the single-format decode queries; at 100 TB the encode stage is
    replaced by real shards and the dispatch walk is unchanged (this IS
    the standard large-scale multimodal training layout)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _wds_shard)
    return decode_payloads(
        mm,
        _webdataset_ingest_stats,
        "n_samples long, n_members long, caption_token_sum long, "
        "caption_n_tokens long, image_sum_r long, image_n_px long",
    )


# --------------------------------------------------------------------------
# ZIP (PKZIP APPNOTE, public spec) — the source-code-dataset container
# --------------------------------------------------------------------------

_ZIP_LOCAL, _ZIP_CENTRAL, _ZIP_EOCD = b"PK\x03\x04", b"PK\x01\x02", b"PK\x05\x06"


_ZIP_DESC = b"PK\x07\x08"


def encode_zip(members: list[tuple]) -> bytes:
    """Spec-valid ZIP from ``(name, content, deflate)`` members: local
    file headers, central directory, end-of-central-directory record.
    ``deflate`` picks method 8 (raw deflate) vs 0 (stored).  A member
    may carry a 4th element ``streamed``: it is then written the way a
    non-seekable writer emits it — general-purpose bit 3 set, zeroed
    crc/sizes in the LOCAL header, and a trailing data descriptor
    (with the ``PK\\x07\\x08`` signature on even-length names, without
    it on odd — both are legal per APPNOTE 4.3.9)."""
    out = bytearray()
    central = bytearray()
    for mem in members:
        name, content, deflate = mem[0], mem[1], mem[2]
        streamed = bool(mem[3]) if len(mem) > 3 else False
        # APPNOTE D.1/D.2 writer discipline: cp437 when the name is
        # representable, else UTF-8 with the EFS flag (bit 11).
        try:
            nb, efs = name.encode("cp437"), 0
        except UnicodeEncodeError:
            nb, efs = name.encode("utf-8"), 0x800
        crc = zlib.crc32(content) & 0xFFFFFFFF
        if deflate:
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            data = co.compress(content) + co.flush()
            method = 8
        else:
            data = content
            method = 0
        flags = (0x8 if streamed else 0) | efs
        off = len(out)
        lcrc, lcsize, lusize = (0, 0, 0) if streamed else (
            crc, len(data), len(content)
        )
        local = _ZIP_LOCAL + struct.pack(
            "<HHHHHIII", 20, flags, method, 0, 0x21, lcrc, lcsize, lusize
        ) + struct.pack("<HH", len(nb), 0)
        out += local + nb + data
        if streamed:
            desc = struct.pack("<III", crc, len(data), len(content))
            out += (_ZIP_DESC + desc) if len(nb) % 2 == 0 else desc
        central += _ZIP_CENTRAL + struct.pack(
            "<HHHHHHIIIHHHHHII",
            20, 20, flags, method, 0, 0x21, crc, len(data), len(content),
            len(nb), 0, 0, 0, 0, 0, off,
        ) + nb
    cd_off = len(out)
    out += central
    out += _ZIP_EOCD + struct.pack(
        "<HHHHIIH", 0, 0, len(members), len(members), len(central), cd_off, 0
    )
    return bytes(out)


def _zip_name(raw: bytes, flags: int, where: str) -> str:
    """Member-name decode per APPNOTE D.1/D.2: cp437 unless general-
    purpose bit 11 (the language-encoding flag) marks the name UTF-8."""
    if flags & 0x800:
        try:
            return raw.decode("utf-8")
        except UnicodeDecodeError as exc:
            raise ValueError(
                f"EFS flag set but {where} name {raw!r} is not UTF-8"
            ) from exc
    return raw.decode("cp437")


def decode_zip(payload: bytes) -> list[dict]:
    """REAL ZIP reader, the way the spec says to read one: locate the
    end-of-central-directory record (scanning back through a possible
    trailing comment), walk the CENTRAL DIRECTORY (the authority — not
    the local headers), then for each entry seek to its local header,
    cross-check it, extract (stored or raw-deflate), and verify CRC-32
    and both sizes.  Raises ValueError on malformed input (missing/
    ambiguous EOCD, count/size mismatches, local-vs-central divergence,
    encrypted members, unsupported methods, CRC or size mismatches).
    Names decode per APPNOTE: cp437, or UTF-8 when flag bit 11 is set.
    Bit-3 (data-descriptor / streamed) members are walked via the
    central directory's authoritative sizes and their trailing
    descriptor is verified against it.

    When the trailing comment itself contains a byte string that looks
    like a self-consistent EOCD (legal — comments are free-form),
    candidates are tried highest-offset first (the APPNOTE readers'
    convention) and the first whose central directory fully validates
    wins; only if every candidate fails does the error propagate."""
    n = len(payload)
    candidates = []
    scan_from = max(0, n - 22 - 0xFFFF)
    i = n - 22
    while i >= scan_from:
        if payload[i : i + 4] == _ZIP_EOCD:
            (clen,) = struct.unpack("<H", payload[i + 20 : i + 22])
            if i + 22 + clen == n:
                candidates.append(i)
        i -= 1
    if not candidates:
        raise ValueError("no end-of-central-directory record found")
    # Backwards scan => candidates are already highest-offset first.
    first_err: ValueError | None = None
    for eocd in candidates:
        try:
            return _zip_walk(payload, eocd)
        except ValueError as exc:
            if first_err is None:
                first_err = exc
    raise first_err


def _zip_walk(payload: bytes, eocd: int) -> list[dict]:
    """Walk the archive from a chosen EOCD offset (see ``decode_zip``)."""
    n = len(payload)
    disk, cd_disk, n_disk, n_total, cd_size, cd_off, _ = struct.unpack(
        "<HHHHIIH", payload[eocd + 4 : eocd + 22]
    )
    if eocd >= 20 and payload[eocd - 20 : eocd - 16] == b"PK\x06\x07":
        raise ValueError("ZIP64 archives not supported (EOCD64 locator)")
    if 0xFFFF in (n_disk, n_total) or 0xFFFFFFFF in (cd_size, cd_off):
        raise ValueError("ZIP64 archives not supported (EOCD sentinel)")
    if disk or cd_disk:
        raise ValueError("multi-disk archives not supported")
    if n_disk != n_total:
        raise ValueError("entry-count mismatch in EOCD")
    if cd_off + cd_size != eocd:
        raise ValueError("central directory does not abut the EOCD")
    members = []
    i = cd_off
    for _ in range(n_total):
        if payload[i : i + 4] != _ZIP_CENTRAL:
            raise ValueError(f"bad central-directory signature at {i}")
        (
            _, _, flags, method, _, _, crc, csize, usize,
            nlen, xlen, clen2, _, _, _, off,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", payload[i + 4 : i + 46])
        if flags & 0x1:
            raise ValueError("encrypted members not supported")
        if method not in (0, 8):
            raise ValueError(f"unsupported compression method {method}")
        if 0xFFFFFFFF in (csize, usize, off):
            raise ValueError("ZIP64 archives not supported (entry sentinel)")
        name = _zip_name(payload[i + 46 : i + 46 + nlen], flags, "central")
        i += 46 + nlen + xlen + clen2
        if payload[off : off + 4] != _ZIP_LOCAL:
            raise ValueError(f"bad local-header signature for {name!r}")
        lflags, = struct.unpack("<H", payload[off + 6 : off + 8])
        lnlen, lxlen = struct.unpack("<HH", payload[off + 26 : off + 30])
        lname = _zip_name(payload[off + 30 : off + 30 + lnlen], lflags, "local")
        if lname != name:
            raise ValueError(
                f"local/central name divergence ({lname!r} != {name!r})"
            )
        data_at = off + 30 + lnlen + lxlen
        data = payload[data_at : data_at + csize]
        if len(data) != csize:
            raise ValueError(f"truncated data for {name!r}")
        if flags & 0x8:
            # Streamed member: the local header's crc/sizes are zero and
            # the truth lives in the central directory (already trusted
            # above); the trailing data descriptor — 12 bytes, with an
            # OPTIONAL PK\x07\x08 signature — must agree with it.
            lcrc, lcsize, lusize = struct.unpack(
                "<III", payload[off + 14 : off + 26]
            )
            if (lcrc, lcsize, lusize) != (0, 0, 0):
                raise ValueError(
                    f"bit-3 member {name!r} has nonzero local crc/sizes"
                )
            dd_at = data_at + csize
            if payload[dd_at : dd_at + 4] == _ZIP_DESC:
                dd_at += 4
            if dd_at + 12 > n:
                raise ValueError(f"truncated data descriptor for {name!r}")
            dcrc, dcsize, dusize = struct.unpack(
                "<III", payload[dd_at : dd_at + 12]
            )
            if (dcrc, dcsize, dusize) != (crc, csize, usize):
                raise ValueError(
                    f"data descriptor for {name!r} disagrees with the "
                    f"central directory"
                )
        if method == 8:
            try:
                content = zlib.decompress(data, -15)
            except zlib.error as exc:
                raise ValueError(f"corrupt DEFLATE in {name!r}: {exc}") from exc
        else:
            content = data
        if len(content) != usize:
            raise ValueError(
                f"{name!r}: uncompressed size {len(content)} != header {usize}"
            )
        if zlib.crc32(content) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC-32 mismatch in {name!r}")
        members.append(
            {
                "name": name,
                "method": method,
                "streamed": bool(flags & 0x8),
                "content": content,
            }
        )
    if i != eocd:
        raise ValueError("central directory size mismatch")
    return members


def _zip_members(doc_id: int) -> list[tuple[str, bytes, bool]]:
    k = 2 + doc_id % 4
    out = []
    for m in range(k):
        ln = 15 + (doc_id + m * 5) % 30
        content = bytes((doc_id * 3 + m * 7 + j) % 256 for j in range(ln))
        out.append((f"src_{doc_id}/{m}.py", content, bool((doc_id + m) % 2)))
    return out


def _zip_stats(p: bytes) -> dict:
    ms = decode_zip(p)
    return {
        "n_members": len(ms),
        "n_deflated": sum(1 for m in ms if m["method"] == 8),
        "total_size": sum(len(m["content"]) for m in ms),
        "name_len_sum": sum(len(m["name"]) for m in ms),
        "content_sum": sum(sum(m["content"]) for m in ms),
        "content_wsum": sum(sum(m["content"]) * i for i, m in enumerate(ms)),
    }


def _zip_payload(doc_id: int) -> bytes:
    return encode_zip(_zip_members(doc_id))


@query(
    "mm_decode_zip_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS k FROM documents),
    mem AS (
      SELECT doc_id, k, t.i - 1 AS m,
             15 + (doc_id + (t.i - 1) * 5) % 30 AS ln
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    b AS (
      SELECT doc_id, k, m, ln,
             (doc_id + m) % 2 AS deflated,
             (SELECT sum((doc_id * 3 + m * 7 + u.j - 1) % 256)
              FROM unnest(generate_series(1, CAST(ln AS INT))) AS u(j))
               AS csum
      FROM mem)
    SELECT doc_id,
           CAST(k AS BIGINT) AS n_members,
           CAST(sum(deflated) AS BIGINT) AS n_deflated,
           CAST(sum(ln) AS BIGINT) AS total_size,
           CAST(sum(length('src_' || CAST(doc_id AS VARCHAR) || '/'
                           || CAST(m AS VARCHAR) || '.py')) AS BIGINT)
             AS name_len_sum,
           CAST(sum(csum) AS BIGINT) AS content_sum,
           CAST(sum(csum * m) AS BIGINT) AS content_wsum
    FROM b GROUP BY doc_id, k
    """,
)
def mm_decode_zip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL source-archive ingest end-to-end: per document, pack 2-5
    planted files (alternating stored / deflated by member parity) into
    a ZIP in one mapInPandas stage, read it back THE SPEC'S WAY —
    EOCD scan, central-directory walk, local-header cross-check, CRC-32
    + size verification per member — in the next, and emit statistics
    the DuckDB oracle re-derives from the member DEFINITION.  A reader
    that trusts local headers instead of the central directory, skips
    CRC verification, or mis-sizes a deflated member is value-visible.

    Scale shape: two narrow mapInPandas stages, no shuffle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _zip_payload)
    return decode_payloads(
        mm,
        _zip_stats,
        "n_members long, n_deflated long, total_size long, name_len_sum long, "
        "content_sum long, content_wsum long",
    )
