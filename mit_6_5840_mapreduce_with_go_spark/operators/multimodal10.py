"""WARC record walk (ISO 28500, public spec) — the Common-Crawl ingest
container, built on the RFC 1952 gzip member decoder in multimodal9.

A web-scale LLM text pipeline's first read is almost always a WARC
file: a sequence of records (``warcinfo`` file metadata, then
``request``/``response`` pairs per fetched URI), each record a header
block of ``Name: value`` lines followed by a Content-Length-delimited
body, and — in the Common-Crawl ``.warc.gz`` convention — each record
its OWN gzip member so readers can seek to a record boundary and
inflate just that record.

This module implements the real walk with no shortcut libraries:

- ``encode_warc_record`` builds a spec-valid record: ``WARC/1.0``
  version line, CRLF-terminated named header fields (WARC-Type,
  WARC-Record-ID, WARC-Date, WARC-Target-URI, Content-Type,
  Content-Length), an empty line, the body, and the mandatory
  two-CRLF record separator (ISO 28500 §4).
- ``decode_warc`` walks a plain WARC file: version-line validation,
  header-field parse (colon-delimited, case-insensitive names,
  duplicate detection), Content-Length-delimited body extraction, and
  record-separator verification.  ValueError on malformed input
  (bad/missing version, missing colon, duplicate or missing
  Content-Length, non-numeric length, truncated body, missing
  separator, garbage between records).
- ``decode_warc_gz`` walks the Common-Crawl composite: a concatenated
  gzip stream (``decode_gzip_stream`` — full RFC 1952 verification per
  member) where each member must inflate to exactly one record.

``mm_decode_warc_stats`` drives it end-to-end: per document a mini
crawl (one warcinfo + k request/response pairs, bodies from planted
integer-token formulas) is built and per-record gzip'd in one
mapInPandas stage, decoded in the next, and the DuckDB oracle
re-derives every statistic from the token DEFINITION — a mis-walked
header, a body length off by one CRLF, or a member boundary error
changes the stats or raises.

No reference counterpart (the reference is Go MapReduce lab code) —
north-star LLM-pipeline addition, same family as the other container
modules.

Scale shape: two narrow stateless mapInPandas stages, no shuffle,
payloads never on the driver; at 100 TB the encode stage is replaced
by real .warc.gz shards from the lake (Common Crawl publishes ~100k
x ~1 GB of exactly this layout) and the walk is unchanged.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .multimodal9 import (
    decode_gzip_member,
    decode_gzip_stream,
    decode_tar,
    decode_zip,
    encode_gzip_member,
    encode_tar,
    encode_zip,
)
from .payloads import decode_payloads, synth_payloads

_CRLF = b"\r\n"
_SEP = _CRLF + _CRLF


def encode_warc_record(
    warc_type: str,
    content: bytes,
    *,
    record_id: str,
    date: str = "2026-01-01T00:00:00Z",
    target_uri: str | None = None,
    refers_to: str | None = None,
    content_type: str = "application/octet-stream",
    version: str = "1.0",
) -> bytes:
    """One spec-valid WARC record (ISO 28500 §4): version line, named
    header fields, empty line, body, two-CRLF separator.
    ``refers_to`` emits WARC-Refers-To — the link a WET conversion
    record carries back to its source response record."""
    lines = [
        f"WARC/{version}".encode(),
        f"WARC-Type: {warc_type}".encode(),
        f"WARC-Record-ID: <urn:uuid:{record_id}>".encode(),
        f"WARC-Date: {date}".encode(),
    ]
    if target_uri is not None:
        lines.append(f"WARC-Target-URI: {target_uri}".encode())
    if refers_to is not None:
        lines.append(f"WARC-Refers-To: <urn:uuid:{refers_to}>".encode())
    lines.append(f"Content-Type: {content_type}".encode())
    lines.append(f"Content-Length: {len(content)}".encode())
    return _CRLF.join(lines) + _SEP + content + _SEP


def _parse_headers(payload: bytes, i: int) -> tuple[dict[str, str], int]:
    """Parse the header block starting at ``i`` (after the version
    line): ``Name: value`` CRLF lines up to the empty line.  Returns
    (fields, offset-after-empty-line).  Field names are matched
    case-insensitively (ISO 28500 §4; stored lowercased)."""
    fields: dict[str, str] = {}
    while True:
        end = payload.find(_CRLF, i)
        if end < 0:
            raise ValueError("unterminated header block")
        line = payload[i:end]
        i = end + 2
        if not line:
            return fields, i
        colon = line.find(b":")
        if colon <= 0:
            raise ValueError(f"malformed header line {line[:40]!r}")
        try:
            name = line[:colon].decode("ascii").strip().lower()
            value = line[colon + 1 :].decode("utf-8").strip()
        except UnicodeDecodeError as exc:
            raise ValueError(f"non-text header line {line[:40]!r}") from exc
        if name in fields:
            raise ValueError(f"duplicate header field {name!r}")
        fields[name] = value


def decode_warc(payload: bytes) -> list[dict]:
    """REAL WARC walk: see the module docstring for coverage.  Returns
    one dict per record: ``type``, ``record_id``, ``date``, ``uri``
    (None for warcinfo), ``content``."""
    records = []
    i = 0
    n = len(payload)
    while i < n:
        end = payload.find(_CRLF, i)
        if end < 0:
            raise ValueError("truncated version line")
        version = payload[i:end]
        if version not in (b"WARC/1.0", b"WARC/1.1"):
            raise ValueError(f"bad WARC version line {version[:20]!r}")
        fields, i = _parse_headers(payload, end + 2)
        for req in ("warc-type", "warc-record-id", "warc-date"):
            if req not in fields:
                raise ValueError(f"missing mandatory field {req!r}")
        if "content-length" not in fields:
            raise ValueError("missing Content-Length")
        try:
            length = int(fields["content-length"])
        except ValueError as exc:
            raise ValueError(
                f"non-numeric Content-Length {fields['content-length']!r}"
            ) from exc
        if length < 0:
            raise ValueError(f"negative Content-Length {length}")
        if i + length > n:
            raise ValueError(
                f"truncated body (need {length} bytes, have {n - i})"
            )
        content = payload[i : i + length]
        i += length
        if payload[i : i + 4] != _SEP:
            raise ValueError(
                f"missing record separator after body at offset {i}"
            )
        i += 4
        records.append(
            {
                "type": fields["warc-type"],
                "record_id": fields["warc-record-id"],
                "date": fields["warc-date"],
                "uri": fields.get("warc-target-uri"),
                "refers_to": fields.get("warc-refers-to"),
                "content": content,
            }
        )
    if not records:
        raise ValueError("empty WARC file")
    return records


def decode_warc_gz(payload: bytes) -> list[dict]:
    """Common-Crawl composite walk: a concatenated gzip stream where
    each member holds exactly ONE WARC record (the seekable layout
    CC-MAIN publishes).  Full RFC 1952 verification per member, then
    the record walk; a member holding zero or multiple records is
    malformed."""
    records = []
    for idx, member in enumerate(decode_gzip_stream(payload)):
        recs = decode_warc(member["data"])
        if len(recs) != 1:
            raise ValueError(
                f"gzip member {idx} holds {len(recs)} records (want 1)"
            )
        records.extend(recs)
    return records


# --------------------------------------------------------------------------
# end-to-end query
# --------------------------------------------------------------------------

# Planted crawl: k = 1 + doc_id % 3 fetched URIs; response body for
# fetch s = space-joined tokens, n = 10 + (doc_id + s) % 7 tokens,
# token i = (doc_id * 7 + s * 3 + i * 13) % 1000 (the multimodal9 gzip
# formula family, shifted); request body = "GET /d{doc_id}/{s}".


def _warc_tokens(doc_id: int, s: int) -> list[int]:
    n = 10 + (doc_id + s) % 7
    return [(doc_id * 7 + s * 3 + i * 13) % 1000 for i in range(n)]


def _warc_crawl(doc_id: int) -> bytes:
    """One .warc.gz mini-crawl for ``doc_id``."""
    k = 1 + doc_id % 3
    members = [
        encode_gzip_member(
            encode_warc_record(
                "warcinfo",
                f"software: sparkgraft/{doc_id}".encode(),
                record_id=f"{doc_id}-info",
                content_type="application/warc-fields",
            )
        )
    ]
    for s in range(k):
        uri = f"http://ex.com/d{doc_id}/{s}"
        members.append(
            encode_gzip_member(
                encode_warc_record(
                    "request",
                    f"GET /d{doc_id}/{s}".encode(),
                    record_id=f"{doc_id}-{s}-req",
                    target_uri=uri,
                    content_type="application/http;msgtype=request",
                )
            )
        )
        body = " ".join(str(v) for v in _warc_tokens(doc_id, s)).encode()
        members.append(
            encode_gzip_member(
                encode_warc_record(
                    "response",
                    body,
                    record_id=f"{doc_id}-{s}-resp",
                    target_uri=uri,
                    content_type="text/plain",
                )
            )
        )
    return b"".join(members)


@query(
    "mm_decode_warc_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
    fet AS (
      SELECT doc_id, k, t.i - 1 AS s,
             10 + (doc_id + t.i - 1) % 7 AS n
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    tok AS (
      SELECT doc_id, s, n,
             (doc_id * 7 + s * 3 + (u.j - 1) * 13) % 1000 AS v
      FROM fet, unnest(generate_series(1, CAST(n AS INT))) AS u(j)),
    resp AS (
      SELECT doc_id, s, n,
             sum(v) AS tok_sum,
             sum(length(CAST(v AS VARCHAR))) + n - 1 AS body_bytes
      FROM tok GROUP BY doc_id, s, n),
    agg AS (
      SELECT doc_id,
             sum(n) AS resp_n_tokens,
             sum(tok_sum) AS resp_token_sum,
             sum(body_bytes) AS resp_bytes,
             sum(length('http://ex.com/d' || CAST(doc_id AS VARCHAR)
                        || '/' || CAST(s AS VARCHAR))) AS uri_len_sum,
             sum(length('GET /d' || CAST(doc_id AS VARCHAR)
                        || '/' || CAST(s AS VARCHAR))) AS req_bytes
      FROM resp GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(1 + 2 * d.k AS BIGINT) AS n_records,
           CAST(d.k AS BIGINT) AS n_responses,
           CAST(agg.resp_n_tokens AS BIGINT) AS resp_n_tokens,
           CAST(agg.resp_token_sum AS BIGINT) AS resp_token_sum,
           CAST(agg.resp_bytes AS BIGINT) AS resp_bytes,
           CAST(agg.req_bytes AS BIGINT) AS req_bytes,
           CAST(agg.uri_len_sum AS BIGINT) AS uri_len_sum,
           CAST(length('software: sparkgraft/'
                       || CAST(d.doc_id AS VARCHAR)) AS BIGINT) AS info_bytes
    FROM d JOIN agg ON agg.doc_id = d.doc_id
    """,
)
def mm_decode_warc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Common-Crawl-shaped ingest end-to-end: per document, build
    a .warc.gz mini-crawl (warcinfo + request/response pairs, one gzip
    member per record) in one mapInPandas stage, walk it back — per-
    member RFC 1952 verification, WARC version/header/Content-Length/
    separator walk — in the next, and emit record counts plus exact
    body statistics.  The DuckDB oracle re-derives everything from the
    planted token formula; a header mis-parse shifts Content-Length and
    either raises or breaks the value hash.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle —
    the standard decode-family plan (see module docstring for the
    100 TB mapping)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    return warc_stats_pipeline(docs)


def _warc_stats(p: bytes) -> dict:
    recs = decode_warc_gz(p)
    if recs[0]["type"] != "warcinfo":
        raise ValueError("crawl does not open with warcinfo")
    resps = [r for r in recs if r["type"] == "response"]
    reqs = [r for r in recs if r["type"] == "request"]
    resp_tokens = [[int(t) for t in r["content"].split(b" ")] for r in resps]
    return {
        "n_records": len(recs),
        "n_responses": len(resps),
        "resp_n_tokens": sum(len(ts) for ts in resp_tokens),
        "resp_token_sum": sum(sum(ts) for ts in resp_tokens),
        "resp_bytes": sum(len(r["content"]) for r in resps),
        "req_bytes": sum(len(r["content"]) for r in reqs),
        "uri_len_sum": sum(len(r["uri"]) for r in resps),
        "info_bytes": len(recs[0]["content"]),
    }


def warc_stats_pipeline(docs: DataFrame) -> DataFrame:
    """The two stateless mapInPandas stages shared by the batch query
    and the streaming twin (streaming/decode.py)."""
    mm = synth_payloads(docs, _warc_crawl)
    return decode_payloads(
        mm,
        _warc_stats,
        "n_records long, n_responses long, resp_n_tokens long, "
        "resp_token_sum long, resp_bytes long, req_bytes long, "
        "uri_len_sum long, info_bytes long",
    )


# --------------------------------------------------------------------------
# long-name tar (PAX / GNU) and streamed (bit-3) ZIP — oracle-gated
# --------------------------------------------------------------------------

# PAX/GNU corpus: names deliberately straddle the 100-byte USTAR limit
# (90..129-char middle segment) and even docs carry mtimes beyond the
# 11-digit octal field (forcing PAX mtime records); even docs encode
# PAX, odd docs old-GNU longnames — the two wild long-name mechanisms.


def _pax_members(doc_id: int) -> list[tuple[str, int, bytes]]:
    k = 2 + doc_id % 3
    out = []
    for m in range(k):
        mid = "x" * (90 + (doc_id + m) % 40)
        name = f"shard_{doc_id}/{mid}/{m}.bin"
        if doc_id % 2 == 0:
            mtime = 8**11 + doc_id + m
        else:
            mtime = doc_id * 60 + m
        ln = 8 + (doc_id + 2 * m) % 24
        content = bytes((doc_id * 5 + m * 11 + j) % 256 for j in range(ln))
        out.append((name, mtime, content))
    return out


def _tar_pax_payload(doc_id: int) -> bytes:
    return encode_tar(_pax_members(doc_id), fmt="pax" if doc_id % 2 == 0 else "gnu")


def _tar_pax_stats(p: bytes) -> dict:
    ms = decode_tar(p)
    return {
        "n_members": len(ms),
        "n_long_names": sum(1 for m in ms if len(m["name"]) > 100),
        "name_len_sum": sum(len(m["name"]) for m in ms),
        "mtime_sum": sum(m["mtime"] for m in ms),
        "total_size": sum(m["size"] for m in ms),
        "content_sum": sum(sum(m["content"]) for m in ms),
        "content_wsum": sum(sum(m["content"]) * i for i, m in enumerate(ms)),
    }


@query(
    "mm_decode_tar_pax_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
    mem AS (
      SELECT doc_id, k, t.i - 1 AS m,
             6 + length(CAST(doc_id AS VARCHAR)) + 1
               + 90 + (doc_id + t.i - 1) % 40
               + 1 + length(CAST(t.i - 1 AS VARCHAR)) + 4 AS name_len,
             CASE WHEN doc_id % 2 = 0
                  THEN 8589934592 + doc_id + t.i - 1
                  ELSE doc_id * 60 + t.i - 1 END AS mtime,
             8 + (doc_id + 2 * (t.i - 1)) % 24 AS ln
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    b AS (
      SELECT doc_id, k, m, name_len, mtime, ln,
             (SELECT sum((doc_id * 5 + m * 11 + u.j - 1) % 256)
              FROM unnest(generate_series(1, CAST(ln AS INT))) AS u(j))
               AS csum
      FROM mem)
    SELECT doc_id,
           CAST(k AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN name_len > 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_long_names,
           CAST(sum(name_len) AS BIGINT) AS name_len_sum,
           CAST(sum(mtime) AS BIGINT) AS mtime_sum,
           CAST(sum(ln) AS BIGINT) AS total_size,
           CAST(sum(csum) AS BIGINT) AS content_sum,
           CAST(sum(csum * m) AS BIGINT) AS content_wsum
    FROM b GROUP BY doc_id, k
    """,
)
def mm_decode_tar_pax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-name shard walk end-to-end: per document, members whose
    names straddle the 100-byte USTAR limit are packed with the PAX
    mechanism (even docs — including mtimes beyond the octal field,
    riding in x-header records) or old-GNU L-entries (odd docs), then
    walked back by the single decode_tar path.  The DuckDB oracle
    re-derives name lengths (the full long names, not the truncated
    header field), mtimes (including the PAX overrides), and content
    statistics — a reader that returns the truncated header name or
    misses an mtime record breaks the value hash.  8589934592 = 8^11,
    the first mtime the octal field cannot hold.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle —
    the standard container-family plan (multimodal9)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    mm = synth_payloads(docs, _tar_pax_payload)
    return decode_payloads(
        mm,
        _tar_pax_stats,
        "n_members long, n_long_names long, name_len_sum long, mtime_sum long, "
        "total_size long, content_sum long, content_wsum long",
    )


# Streamed-ZIP corpus: even members are written the non-seekable way
# (bit 3, zeroed local sizes, trailing data descriptor — with the
# optional PK\x07\x08 signature on even-length names), odd members the
# seekable way; stored/deflate alternates independently.


def _zips_members(doc_id: int) -> list[tuple[str, bytes, bool, bool]]:
    k = 2 + doc_id % 4
    out = []
    for m in range(k):
        ln = 12 + (doc_id + 3 * m) % 26
        content = bytes((doc_id * 7 + m * 3 + j) % 256 for j in range(ln))
        out.append(
            (f"s{doc_id}/{m}.js", content, bool((doc_id + m) % 2), m % 2 == 0)
        )
    return out


def _zips_payload(doc_id: int) -> bytes:
    return encode_zip(_zips_members(doc_id))


def _zip_stream_stats(p: bytes) -> dict:
    ms = decode_zip(p)
    return {
        "n_members": len(ms),
        "n_streamed": sum(1 for m in ms if m["streamed"]),
        "n_deflated": sum(1 for m in ms if m["method"] == 8),
        "total_size": sum(len(m["content"]) for m in ms),
        "name_len_sum": sum(len(m["name"]) for m in ms),
        "content_sum": sum(sum(m["content"]) for m in ms),
        "content_wsum": sum(sum(m["content"]) * i for i, m in enumerate(ms)),
    }


@query(
    "mm_decode_zip_stream_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS k FROM documents),
    mem AS (
      SELECT doc_id, k, t.i - 1 AS m,
             12 + (doc_id + 3 * (t.i - 1)) % 26 AS ln,
             (doc_id + t.i - 1) % 2 AS deflated,
             CASE WHEN (t.i - 1) % 2 = 0 THEN 1 ELSE 0 END AS streamed
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    b AS (
      SELECT doc_id, k, m, ln, deflated, streamed,
             (SELECT sum((doc_id * 7 + m * 3 + u.j - 1) % 256)
              FROM unnest(generate_series(1, CAST(ln AS INT))) AS u(j))
               AS csum
      FROM mem)
    SELECT doc_id,
           CAST(k AS BIGINT) AS n_members,
           CAST(sum(streamed) AS BIGINT) AS n_streamed,
           CAST(sum(deflated) AS BIGINT) AS n_deflated,
           CAST(sum(ln) AS BIGINT) AS total_size,
           CAST(sum(length('s' || CAST(doc_id AS VARCHAR) || '/'
                           || CAST(m AS VARCHAR) || '.js')) AS BIGINT)
             AS name_len_sum,
           CAST(sum(csum) AS BIGINT) AS content_sum,
           CAST(sum(csum * m) AS BIGINT) AS content_wsum
    FROM b GROUP BY doc_id, k
    """,
)
def mm_decode_zip_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-ZIP walk end-to-end: per document, a mix of bit-3
    (data-descriptor) and seekable members, stored and deflated, is
    read back the spec's way — central directory as the authority,
    zeroed local sizes enforced for streamed members, trailing
    descriptors verified against the central values, per-member CRC-32.
    The DuckDB oracle re-derives the member definition including the
    streamed count — a reader that trusts local headers dies on the
    zeroed sizes; one that skips descriptor verification is caught by
    the mutation test in tests/test_multimodal10.py.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    mm = synth_payloads(docs, _zips_payload)
    return decode_payloads(
        mm,
        _zip_stream_stats,
        "n_members long, n_streamed long, n_deflated long, total_size long, "
        "name_len_sum long, content_sum long, content_wsum long",
    )


# --------------------------------------------------------------------------
# HTTP envelope inside WARC responses (RFC 9112) — chunked + length-
# delimited bodies, the payload-extraction step of a real crawl reader
# --------------------------------------------------------------------------


def encode_http_response(
    status: int,
    reason: str,
    headers: list[tuple[str, str]],
    body: bytes,
    *,
    chunked: bool = False,
    chunk_size: int = 7,
) -> bytes:
    """Spec-valid HTTP/1.1 response bytes: status line, header fields,
    empty line, then either a Content-Length body or a chunked
    transfer-coding body (hex sizes, CRLF-framed chunks, 0-chunk
    terminator — RFC 9112 §7.1)."""
    lines = [f"HTTP/1.1 {status} {reason}".encode()]
    lines += [f"{n}: {v}".encode() for n, v in headers]
    if chunked:
        lines.append(b"Transfer-Encoding: chunked")
        out = bytearray()
        for i in range(0, len(body), chunk_size):
            chunk = body[i : i + chunk_size]
            out += f"{len(chunk):x}".encode() + _CRLF + chunk + _CRLF
        out += b"0" + _CRLF + _CRLF
        payload = bytes(out)
    else:
        lines.append(f"Content-Length: {len(body)}".encode())
        payload = body
    return _CRLF.join(lines) + _SEP + payload


def parse_http_response(content: bytes) -> dict:
    """REAL HTTP/1.1 response parse: status-line validation, header
    walk (case-insensitive names, first-wins on the framing headers we
    consume), then body extraction by Content-Length or by walking the
    chunked transfer-coding (hex chunk sizes with optional extensions,
    per-chunk CRLF framing, 0-terminator, optional trailer fields).
    Raises ValueError on malformed input (bad status line, non-integer
    status, missing framing header, bad chunk size, chunk framing
    violations, truncated body, length mismatch, trailing garbage)."""
    end = content.find(_CRLF)
    if end < 0:
        raise ValueError("no status line")
    parts = content[:end].split(b" ", 2)
    if len(parts) < 2 or parts[0] not in (b"HTTP/1.1", b"HTTP/1.0"):
        raise ValueError(f"bad status line {content[:30]!r}")
    try:
        status = int(parts[1])
    except ValueError as exc:
        raise ValueError(f"non-integer status {parts[1]!r}") from exc
    if not 100 <= status <= 599:
        raise ValueError(f"status {status} out of range")
    reason = parts[2].decode("latin-1") if len(parts) > 2 else ""
    headers: list[tuple[str, str]] = []
    i = end + 2
    while True:
        end = content.find(_CRLF, i)
        if end < 0:
            raise ValueError("unterminated header block")
        line = content[i:end]
        i = end + 2
        if not line:
            break
        colon = line.find(b":")
        if colon <= 0:
            raise ValueError(f"malformed header line {line[:40]!r}")
        headers.append(
            (
                line[:colon].decode("latin-1").strip().lower(),
                line[colon + 1 :].decode("latin-1").strip(),
            )
        )
    hmap: dict[str, str] = {}
    for n, v in headers:
        hmap.setdefault(n, v)
    chunked = hmap.get("transfer-encoding", "").lower() == "chunked"
    if chunked:
        body = bytearray()
        while True:
            end = content.find(_CRLF, i)
            if end < 0:
                raise ValueError("unterminated chunk-size line")
            size_token = content[i:end].split(b";")[0].strip()
            try:
                size = int(size_token, 16)
            except ValueError as exc:
                raise ValueError(
                    f"bad chunk size {size_token!r}"
                ) from exc
            i = end + 2
            if size == 0:
                break
            if i + size + 2 > len(content):
                raise ValueError("truncated chunk")
            body += content[i : i + size]
            if content[i + size : i + size + 2] != _CRLF:
                raise ValueError("chunk not CRLF-terminated")
            i += size + 2
        # optional trailer fields, then the final empty line
        while True:
            end = content.find(_CRLF, i)
            if end < 0:
                raise ValueError("unterminated chunked trailer")
            line = content[i:end]
            i = end + 2
            if not line:
                break
            if line.find(b":") <= 0:
                raise ValueError(f"malformed trailer line {line[:40]!r}")
        if i != len(content):
            raise ValueError(f"{len(content) - i} bytes after chunked body")
        body = bytes(body)
    else:
        if "content-length" not in hmap:
            raise ValueError("no Content-Length and not chunked")
        try:
            length = int(hmap["content-length"])
        except ValueError as exc:
            raise ValueError(
                f"non-integer Content-Length {hmap['content-length']!r}"
            ) from exc
        if i + length != len(content):
            raise ValueError(
                f"body is {len(content) - i} bytes, Content-Length {length}"
            )
        body = content[i:]
    return {
        "status": status,
        "reason": reason,
        "headers": headers,
        "chunked": chunked,
        "body": body,
    }


# Planted HTTP crawl: k = 1 + doc_id % 3 responses; response s has
# tokens n = 8 + (doc_id + 2*s) % 9, token i = (doc_id*3 + s*5 + i*11)
# % 1000; even (doc_id+s) are 200s, odd are 404s; even s are chunked.


def _http_tokens(doc_id: int, s: int) -> list[int]:
    n = 8 + (doc_id + 2 * s) % 9
    return [(doc_id * 3 + s * 5 + i * 11) % 1000 for i in range(n)]


def _http_crawl(doc_id: int) -> bytes:
    k = 1 + doc_id % 3
    members = []
    for s in range(k):
        body = " ".join(str(v) for v in _http_tokens(doc_id, s)).encode()
        ok = (doc_id + s) % 2 == 0
        http = encode_http_response(
            200 if ok else 404,
            "OK" if ok else "Not Found",
            [("Content-Type", "text/plain"), ("Server", f"sg/{doc_id}")],
            body,
            chunked=s % 2 == 0,
        )
        members.append(
            encode_gzip_member(
                encode_warc_record(
                    "response",
                    http,
                    record_id=f"{doc_id}-{s}",
                    target_uri=f"http://ex.com/d{doc_id}/{s}",
                    content_type="application/http;msgtype=response",
                )
            )
        )
    return b"".join(members)


@query(
    "mm_warc_http_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
    resp AS (
      SELECT doc_id, k, t.i - 1 AS s,
             8 + (doc_id + 2 * (t.i - 1)) % 9 AS n,
             CASE WHEN (doc_id + t.i - 1) % 2 = 0 THEN 200 ELSE 404 END
               AS status,
             CASE WHEN (t.i - 1) % 2 = 0 THEN 1 ELSE 0 END AS chunked
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    tok AS (
      SELECT doc_id, s, n, status, chunked,
             (doc_id * 3 + s * 5 + (u.j - 1) * 11) % 1000 AS v
      FROM resp, unnest(generate_series(1, CAST(n AS INT))) AS u(j)),
    per AS (
      SELECT doc_id, s, n, status, chunked,
             sum(v) AS tok_sum,
             sum(length(CAST(v AS VARCHAR))) + n - 1 AS body_bytes
      FROM tok GROUP BY doc_id, s, n, status, chunked)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_responses,
           CAST(sum(chunked) AS BIGINT) AS n_chunked,
           CAST(sum(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ok,
           CAST(sum(status) AS BIGINT) AS status_sum,
           CAST(sum(body_bytes) AS BIGINT) AS body_bytes,
           CAST(sum(tok_sum) AS BIGINT) AS body_token_sum,
           CAST(sum(n) AS BIGINT) AS body_n_tokens
    FROM per GROUP BY doc_id
    """,
)
def mm_warc_http_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload extraction from a crawl, the full real stack: WARC
    records (one gzip member each) whose response bodies are HTTP/1.1
    envelopes — half chunked transfer-coding, half Content-Length —
    parsed down to the text payload in one pass.  Three protocol layers
    (RFC 1952 gzip, ISO 28500 WARC, RFC 9112 HTTP incl. the chunk walk)
    each verify their own framing; the DuckDB oracle re-derives status
    mix, chunked count, and exact body statistics from the planted
    formulas — a chunk-size mis-parse or an off-by-CRLF in the
    de-chunking changes body_bytes and breaks the value hash.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle —
    the standard container-family plan; this query IS the shape of a
    Common-Crawl WET-extraction job."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    return warc_http_pipeline(docs)


def _warc_http_stats(p: bytes) -> dict:
    https = [
        parse_http_response(r["content"])
        for r in decode_warc_gz(p)
        if r["type"] == "response"
    ]
    toks = [[int(t) for t in h["body"].split(b" ")] for h in https]
    return {
        "n_responses": len(https),
        "n_chunked": sum(1 for h in https if h["chunked"]),
        "n_ok": sum(1 for h in https if h["status"] == 200),
        "status_sum": sum(h["status"] for h in https),
        "body_bytes": sum(len(h["body"]) for h in https),
        "body_token_sum": sum(sum(t) for t in toks),
        "body_n_tokens": sum(len(t) for t in toks),
    }


def warc_http_pipeline(docs: DataFrame) -> DataFrame:
    """The two stateless mapInPandas stages shared by the batch query
    and the streaming twin (streaming/decode.py)."""
    mm = synth_payloads(docs, _http_crawl)
    return decode_payloads(
        mm,
        _warc_http_stats,
        "n_responses long, n_chunked long, n_ok long, status_sum long, "
        "body_bytes long, body_token_sum long, body_n_tokens long",
    )


# --------------------------------------------------------------------------
# UTF-8 validation walk (RFC 3629) — wild-crawl byte hygiene
# --------------------------------------------------------------------------


def validate_utf8(data: bytes) -> dict:
    """REAL UTF-8 validator: the RFC 3629 well-formedness table walked
    byte-by-byte — C2-DF lead + one continuation; E0/ED get their
    narrowed second-byte ranges (A0-BF / 80-9F, excluding overlongs and
    surrogates); F0/F4 likewise (90-BF / 80-8F, excluding overlongs and
    > U+10FFFF); 80-C1 and F5-FF are never valid leads.  Ill-formed
    input is counted by MAXIMAL SUBPARTS (Unicode §3.9 / W3C policy,
    the one Python's errors='replace' implements): a truncated valid
    prefix is ONE replacement; an out-of-range byte terminates the
    subpart before it.  Returns byte/char/width/replacement counts and
    the codepoint sum of the well-formed scalars — enough to prove the
    walk actually decoded, not just classified."""
    n = len(data)
    i = 0
    n_1b = n_2b = n_3b = n_4b = n_repl = 0
    cp_sum = 0
    while i < n:
        b0 = data[i]
        if b0 < 0x80:
            n_1b += 1
            cp_sum += b0
            i += 1
            continue
        if 0xC2 <= b0 <= 0xDF:
            need, lo, hi, cp = 1, 0x80, 0xBF, b0 & 0x1F
        elif 0xE0 <= b0 <= 0xEF:
            need, cp = 2, b0 & 0x0F
            lo = 0xA0 if b0 == 0xE0 else 0x80
            hi = 0x9F if b0 == 0xED else 0xBF
        elif 0xF0 <= b0 <= 0xF4:
            need, cp = 3, b0 & 0x07
            lo = 0x90 if b0 == 0xF0 else 0x80
            hi = 0x8F if b0 == 0xF4 else 0xBF
        else:  # 0x80-0xC1 lone continuation / overlong lead, 0xF5-0xFF
            n_repl += 1
            i += 1
            continue
        j = i + 1
        ok = True
        for k in range(need):
            if j >= n or not (
                (lo if k == 0 else 0x80) <= data[j] <= (hi if k == 0 else 0xBF)
            ):
                ok = False
                break
            cp = (cp << 6) | (data[j] & 0x3F)
            j += 1
        if ok:
            if need == 1:
                n_2b += 1
            elif need == 2:
                n_3b += 1
            else:
                n_4b += 1
            cp_sum += cp
            i = j
        else:
            # maximal subpart: the valid prefix (lead + any in-range
            # continuations) is ONE replacement; the failing byte is
            # re-examined as the next lead.
            n_repl += 1
            i = j
    return {
        "n_bytes": n,
        "n_1b": n_1b,
        "n_2b": n_2b,
        "n_3b": n_3b,
        "n_4b": n_4b,
        "n_replacements": n_repl,
        "cp_sum": cp_sum,
    }


# Planted byte stream: n = 30 + doc_id % 20 units, unit type
# t = (doc_id + i) % 5: ASCII / valid 2-byte / valid 3-byte / lone
# continuation (1 replacement) / overlong C0 AF (2 replacements).


def _utf8_unit(doc_id: int, i: int) -> bytes:
    t = (doc_id + i) % 5
    if t == 0:
        return bytes([0x41 + i % 26])
    if t == 1:
        return bytes([0xC2 + i % 2, 0x80 + i % 64])
    if t == 2:
        return bytes([0xE4, 0xB8 + i % 4, 0x80 + i % 64])
    if t == 3:
        return bytes([0x80 + i % 32])
    return b"\xc0\xaf"


def _utf8_payload(doc_id: int) -> bytes:
    n = 30 + doc_id % 20
    return b"".join(_utf8_unit(doc_id, i) for i in range(n))


@query(
    "text_utf8_validation_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 30 + doc_id % 20 AS n FROM documents),
    u AS (
      SELECT doc_id, t.i - 1 AS i, (doc_id + t.i - 1) % 5 AS t
      FROM d, unnest(generate_series(1, CAST(n AS INT))) AS t(i)),
    c AS (
      SELECT doc_id, t,
             CASE t WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3
                    WHEN 3 THEN 1 ELSE 2 END AS width,
             CASE t WHEN 3 THEN 1 WHEN 4 THEN 2 ELSE 0 END AS repl,
             CASE t
               WHEN 0 THEN 65 + i % 26
               WHEN 1 THEN (2 + i % 2) * 64 + i % 64
               WHEN 2 THEN 4 * 4096 + (56 + i % 4) * 64 + i % 64
               ELSE 0 END AS cp
      FROM u)
    SELECT doc_id,
           CAST(sum(width) AS BIGINT) AS n_bytes,
           CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_1b,
           CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_2b,
           CAST(sum(CASE WHEN t = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_3b,
           CAST(0 AS BIGINT) AS n_4b,
           CAST(sum(repl) AS BIGINT) AS n_replacements,
           CAST(sum(cp) AS BIGINT) AS cp_sum
    FROM c GROUP BY doc_id
    """,
)
def text_utf8_validation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-hygiene pass over a raw crawl column: per document, a
    planted byte stream mixing well-formed 1/2/3-byte sequences with
    lone continuations and overlong encodings is validated by the
    from-scratch RFC 3629 walk, emitting width histograms, the
    maximal-subpart replacement count (the number of U+FFFD a
    spec-following decoder would substitute — cross-validated against
    CPython's errors='replace' in tests), and the codepoint sum of the
    well-formed scalars.  The DuckDB oracle re-derives everything from
    the unit formula.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle —
    at 100 TB this is the first pass after WET extraction, and the
    replacement rate is the standard quality-filter feature."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _utf8_payload)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                out = validate_utf8(bytes(p))
                out["doc_id"] = int(did)
                rows.append(out)
            yield pd.DataFrame(rows)

    return mm.mapInPandas(
        decode_batches,
        schema="n_bytes long, n_1b long, n_2b long, n_3b long, n_4b long, "
        "n_replacements long, cp_sum long, doc_id long",
    )


# --------------------------------------------------------------------------
# zlib container (RFC 1950) — the PNG-IDAT / deflate-wrapper format,
# completing the compression family (1950 zlib / 1951 deflate / 1952 gzip)
# --------------------------------------------------------------------------


def encode_zlib_container(data: bytes, *, level: int = 9) -> bytes:
    """Spec-valid zlib stream (RFC 1950): CMF (CM=8 deflate, CINFO from
    the compressor), FLG with the FCHECK bits making CMF*256+FLG
    divisible by 31, raw-deflate body, Adler-32 trailer."""
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    body = co.compress(data) + co.flush()
    cmf = 0x78  # CM=8, CINFO=7 (32k window)
    flevel = {9: 3, 6: 2, 1: 0}.get(level, 2)
    flg = flevel << 6
    flg |= 31 - (cmf * 256 + flg) % 31
    return bytes([cmf, flg]) + body + struct.pack(
        ">I", zlib.adler32(data) & 0xFFFFFFFF
    )


def decode_zlib_container(payload: bytes) -> dict:
    """REAL zlib-stream parse (RFC 1950): CM/CINFO validation, FCHECK
    verification ((CMF*256+FLG) % 31 == 0), FDICT rejected explicitly
    (preset dictionaries need out-of-band data), raw inflate, Adler-32
    trailer verification, trailing-garbage rejection.  Raises
    ValueError on malformed input."""
    if len(payload) < 6:
        raise ValueError("truncated zlib stream (shorter than header + trailer)")
    cmf, flg = payload[0], payload[1]
    if cmf & 0x0F != 8:
        raise ValueError(f"unsupported compression method {cmf & 0x0F}")
    if cmf >> 4 > 7:
        raise ValueError(f"CINFO {cmf >> 4} exceeds the 32k window limit")
    if (cmf * 256 + flg) % 31:
        raise ValueError("FCHECK failed ((CMF*256+FLG) % 31 != 0)")
    if flg & 0x20:
        raise ValueError("FDICT preset dictionaries not supported")
    d = zlib.decompressobj(-15)
    try:
        data = d.decompress(payload[2:])
        data += d.flush()
    except zlib.error as exc:
        raise ValueError(f"corrupt DEFLATE stream: {exc}") from exc
    trailer = d.unused_data
    if len(trailer) < 4:
        raise ValueError("truncated Adler-32 trailer")
    if len(trailer) > 4:
        raise ValueError(f"{len(trailer) - 4} bytes of trailing garbage")
    (adler,) = struct.unpack(">I", trailer)
    if adler != zlib.adler32(data) & 0xFFFFFFFF:
        raise ValueError("Adler-32 mismatch")
    return {"flevel": flg >> 6, "data": data}


def _zlib_tokens(doc_id: int) -> list[int]:
    n = 15 + doc_id % 11
    return [(doc_id * 13 + i * 17) % 1000 for i in range(n)]


def _zlib_payload(doc_id: int) -> bytes:
    text = " ".join(str(v) for v in _zlib_tokens(doc_id)).encode()
    return encode_zlib_container(text, level=(9, 6, 1)[doc_id % 3])


def _zlib_stats(p: bytes) -> dict:
    vals = [int(t) for t in decode_zlib_container(p)["data"].split(b" ")]
    return {
        "n_tokens": len(vals),
        "n_bytes": len(" ".join(str(v) for v in vals)),
        "token_sum": sum(vals),
        "token_wsum": sum(v * i for i, v in enumerate(vals)),
    }


@query(
    "mm_decode_zlib_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 15 + doc_id % 11 AS n FROM documents),
    tok AS (
      SELECT doc_id, n, t.i - 1 AS i,
             (doc_id * 13 + (t.i - 1) * 17) % 1000 AS v
      FROM d, unnest(generate_series(1, CAST(n AS INT))) AS t(i))
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(sum(length(CAST(v AS VARCHAR))) + n - 1 AS BIGINT) AS n_bytes,
           CAST(sum(v) AS BIGINT) AS token_sum,
           CAST(sum(v * i) AS BIGINT) AS token_wsum
    FROM tok GROUP BY doc_id, n
    """,
)
def mm_decode_zlib_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RFC 1950 wrapper end-to-end (the format inside every PNG
    IDAT and most protocol compression): planted token text wrapped in
    a zlib stream in one mapInPandas stage, parsed back — CM/CINFO,
    FCHECK, FDICT rejection, inflate, Adler-32 — in the next.  The
    DuckDB oracle re-derives the statistics from the token formula.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _zlib_payload)
    return decode_payloads(
        mm,
        _zlib_stats,
        "n_tokens long, n_bytes long, token_sum long, token_wsum long",
    )


# --------------------------------------------------------------------------
# URL analytics (JVM-native) — host-level crawl statistics
# --------------------------------------------------------------------------


@query(
    "text_url_host_stats",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'w' || CAST(doc_id % 50 AS VARCHAR) || '.example'
                 || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host,
             CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END AS is_https,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS has_query,
             '/a/' || CAST(doc_id % 13 AS VARCHAR) || '/p'
                   || CAST(doc_id AS VARCHAR) AS path
      FROM documents)
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(is_https) AS BIGINT) AS n_https,
           CAST(sum(has_query) AS BIGINT) AS n_with_query,
           CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
           CAST(sum(length(path)) AS BIGINT) AS path_len_sum
    FROM u GROUP BY host
    """,
)
def text_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level crawl analytics the ALL-JVM way: URL strings are
    constructed with native expressions, then parsed back with Spark's
    ``parse_url`` (PROTOCOL / HOST / PATH / QUERY extraction — the
    java.net.URI path, whole-stage-codegen'd, no Python anywhere) and
    aggregated per host.  The DuckDB oracle derives host/path/flags
    directly from the doc_id formulas, so a parse_url mis-extraction
    (port kept in HOST, query leaking into PATH) breaks the value hash.

    Scale shape: one narrow projection + one hash aggregation keyed on
    host (~350 distinct hosts here; web-crawl host counts are millions
    but still tiny next to row counts, and the partial agg collapses
    map-side).  This is the front half of every domain-cap / robots /
    per-site-quality job in a crawl pipeline — see pipeline_domain_cap
    for the consumer side."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    url = F.concat(
        F.when(F.col("doc_id") % 4 == 0, F.lit("http://")).otherwise(
            F.lit("https://")
        ),
        F.lit("w"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit(".example"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".com"),
        F.lit("/a/"),
        (F.col("doc_id") % 13).cast("string"),
        F.lit("/p"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("?q="), (F.col("doc_id") % 5).cast("string")),
        ).otherwise(F.lit("")),
    )
    parsed = docs.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        (F.parse_url(url, F.lit("PROTOCOL")) == "https")
        .cast("long")
        .alias("is_https"),
        F.parse_url(url, F.lit("QUERY")).isNotNull()
        .cast("long")
        .alias("has_query"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
    )
    return parsed.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum("is_https").alias("n_https"),
        F.sum("has_query").alias("n_with_query"),
        F.countDistinct("path").alias("n_paths"),
        F.sum(F.length("path")).alias("path_len_sum"),
    )


# --------------------------------------------------------------------------
# corrupt-record quarantine — the operational decode pattern at 100 TB
# --------------------------------------------------------------------------

# Planted corpus: gzip members of token text (n = 12 + doc_id % 9,
# token i = (doc_id * 17 + i * 7) % 1000); every 7th document gets ONE
# BIT flipped inside the DEFLATE body region.  The gzip trailer CRC-32
# covers the whole decompressed output, so a body flip ALWAYS surfaces
# as ValueError (either the inflate dies or the CRC mismatches) — which
# is what makes the quarantine outcome oracle-derivable.


def _quar_tokens(doc_id: int) -> list[int]:
    n = 12 + doc_id % 9
    return [(doc_id * 17 + i * 7) % 1000 for i in range(n)]


def _quar_payload(doc_id: int) -> bytes:
    text = " ".join(str(v) for v in _quar_tokens(doc_id)).encode()
    pay = encode_gzip_member(text)
    if doc_id % 7 == 0:
        body = len(pay) - 18  # 10-byte header + 8-byte trailer
        mut = bytearray(pay)
        mut[10 + (doc_id // 7) % body] ^= 0x01
        return bytes(mut)
    return pay


def _quar_stats(p: bytes) -> dict:
    try:
        vals = [int(t) for t in decode_gzip_member(p)["data"].split(b" ")]
    except ValueError:
        return {"ok": 0, "n_tokens": -1, "token_sum": -1}
    return {"ok": 1, "n_tokens": len(vals), "token_sum": sum(vals)}


@query(
    "mm_decode_quarantine_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 12 + doc_id % 9 AS n,
             CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END AS ok
      FROM documents),
    tok AS (
      SELECT doc_id, n, ok,
             (doc_id * 17 + (t.i - 1) * 7) % 1000 AS v
      FROM d, unnest(generate_series(1, CAST(n AS INT))) AS t(i))
    SELECT doc_id,
           CAST(ok AS BIGINT) AS ok,
           CAST(CASE WHEN ok = 1 THEN max(n) ELSE -1 END AS BIGINT)
             AS n_tokens,
           CAST(CASE WHEN ok = 1 THEN sum(v) ELSE -1 END AS BIGINT)
             AS token_sum
    FROM tok GROUP BY doc_id, ok
    """,
)
def mm_decode_quarantine_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode pattern wild data requires: per document a gzip
    member — every 7th one with a bit flipped in its DEFLATE body — is
    decoded with per-record quarantine: a ValueError routes the record
    to (ok=0, sentinel stats) instead of killing the Arrow batch.  The
    DuckDB oracle derives which documents MUST quarantine (the trailer
    CRC-32 makes any body corruption value-visible) and the exact stats
    of the clean ones — a decoder that crashes with a non-ValueError,
    swallows corruption, or quarantines a clean record all break the
    hash.  tests/test_decoder_robustness.py proves the ValueError-only
    contract this pattern rests on, for every decoder in the package.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle;
    at 100 TB the quarantine rate per shard is the first data-quality
    dashboard any crawl ingest ships."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _quar_payload)
    return decode_payloads(
        mm, _quar_stats, "ok long, n_tokens long, token_sum long"
    )
