"""Avro object-container reader (Apache Avro 1.11 spec, public) — the
other canonical big-data container next to parquet (parquet_footer.py
walks that one's metadata): a self-describing file whose SCHEMA rides
in the header, with sync-marker-delimited data blocks.

Implemented subset, honestly bounded: ``null`` codec (uncompressed)
and flat record schemas over ``long`` / ``int`` / ``string`` /
``double`` fields — enough to read real manifest-style files; unions,
nesting, and deflate blocks raise a clear ValueError.  Everything else
is the full spec walk:

- header: ``Obj\\x01`` magic, file-metadata MAP (block-count-prefixed
  key/value runs, negative counts carrying a byte size per spec,
  zero-count terminator), 16-byte sync marker;
- ``avro.schema`` parsed as JSON (stdlib) and VALIDATED — the decoder
  is schema-driven, reading whatever field names/types the file
  declares, not a hardcoded layout;
- data blocks: record count + byte size (zigzag varints), exactly
  ``size`` bytes of records, then the sync marker BYTE-COMPARED to the
  header's (the corruption tripwire the format is designed around);
- primitives: zigzag-varint longs/ints, length-prefixed UTF-8
  strings, little-endian IEEE doubles.

``encode_avro_container`` writes the same subset so the reader is
exercised by real byte layouts; ``mm_decode_avro_stats`` plants a
two-block corpus from doc_id formulas for the DuckDB oracle.

Scale shape: the standard decode-family plan (two stateless
Arrow-batched mapInPandas stages, no shuffle).  Totality matches the
package contract: ValueError or success (tests/test_avro.py fuzz).
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession

from ..functions.varint import read_varint, write_varint, zigzag
from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

_MAGIC = b"Obj\x01"
_SUPPORTED = {"long", "int", "string", "double"}


def _zz_encode(v: int) -> bytes:
    return write_varint((v << 1) ^ (v >> 63))


def _zz_decode(buf: bytes, i: int) -> tuple[int, int]:
    u, i = read_varint(buf, i)
    return zigzag(u), i


def encode_avro_container(
    fields: list[tuple[str, str]],
    records: list[tuple],
    *,
    sync: bytes = b"S" * 16,
    records_per_block: int | None = None,
) -> bytes:
    """Spec-valid single-schema container: ``fields`` is the record
    schema (name, type), ``records`` the rows, split into blocks of
    ``records_per_block`` (default: all in one block)."""
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": n, "type": t} for n, t in fields],
    }

    def enc_record(rec: tuple) -> bytes:
        out = bytearray()
        for (name, typ), v in zip(fields, rec):
            if typ in ("long", "int"):
                out += _zz_encode(int(v))
            elif typ == "string":
                data = str(v).encode("utf-8")
                out += _zz_encode(len(data)) + data
            elif typ == "double":
                out += struct.pack("<d", float(v))
            else:
                raise ValueError(f"unsupported field type {typ}")
        return bytes(out)

    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"null",
    }
    out = bytearray(_MAGIC)
    out += _zz_encode(len(meta))
    for k, v in sorted(meta.items()):
        kd = k.encode()
        out += _zz_encode(len(kd)) + kd + _zz_encode(len(v)) + v
    out += _zz_encode(0)
    out += sync
    rpb = records_per_block or max(len(records), 1)
    for at in range(0, len(records), rpb):
        chunk = records[at : at + rpb]
        body = b"".join(enc_record(r) for r in chunk)
        out += _zz_encode(len(chunk)) + _zz_encode(len(body)) + body + sync
    return bytes(out)


def decode_avro_container(payload: bytes) -> dict:
    """REAL container walk (see module docstring).  Returns the schema
    field list, decoded records (list of tuples), and block census."""
    if payload[:4] != _MAGIC:
        raise ValueError("not an Avro object container (bad magic)")
    i = 4
    meta: dict[str, bytes] = {}
    while True:
        count, i = _zz_decode(payload, i)
        if count == 0:
            break
        if count < 0:
            # negative count: absolute value, followed by the run's
            # byte size (spec allows skipping; we still walk the pairs)
            count = -count
            _, i = _zz_decode(payload, i)
        if count > len(payload):
            raise ValueError(f"metadata map count {count} exceeds buffer")
        for _ in range(count):
            klen, i = _zz_decode(payload, i)
            if klen < 0 or i + klen > len(payload):
                raise ValueError("truncated metadata key")
            key = payload[i : i + klen].decode("utf-8", "strict")
            i += klen
            vlen, i = _zz_decode(payload, i)
            if vlen < 0 or i + vlen > len(payload):
                raise ValueError("truncated metadata value")
            meta[key] = payload[i : i + vlen]
            i += vlen
    if i + 16 > len(payload):
        raise ValueError("truncated header sync marker")
    sync = payload[i : i + 16]
    i += 16
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(f"unsupported codec {codec!r}")
    if "avro.schema" not in meta:
        raise ValueError("missing avro.schema")
    try:
        schema = json.loads(meta["avro.schema"])
    except (json.JSONDecodeError, UnicodeDecodeError) as exc:
        raise ValueError(f"invalid schema JSON: {exc}") from exc
    if not isinstance(schema, dict) or schema.get("type") != "record":
        raise ValueError("only flat record schemas supported")
    raw_fields = schema.get("fields")
    if not isinstance(raw_fields, list) or not raw_fields:
        raise ValueError("schema has no fields")
    fields: list[tuple[str, str]] = []
    for f in raw_fields:
        if not isinstance(f, dict):
            raise ValueError("malformed schema field")
        name, typ = f.get("name"), f.get("type")
        if not isinstance(name, str) or typ not in _SUPPORTED:
            raise ValueError(f"unsupported schema field {f!r}")
        fields.append((name, typ))
    records: list[tuple] = []
    n_blocks = 0
    while i < len(payload):
        count, i = _zz_decode(payload, i)
        if count < 0:
            raise ValueError("negative block record count")
        size, i = _zz_decode(payload, i)
        if size < 0 or i + size > len(payload):
            raise ValueError("block size extends past end")
        end = i + size
        for _ in range(count):
            rec = []
            for _, typ in fields:
                if typ in ("long", "int"):
                    v, i = _zz_decode(payload, i)
                elif typ == "string":
                    ln, i = _zz_decode(payload, i)
                    if ln < 0 or i + ln > end:
                        raise ValueError("truncated string value")
                    try:
                        v = payload[i : i + ln].decode("utf-8")
                    except UnicodeDecodeError as exc:
                        raise ValueError("invalid UTF-8 string") from exc
                    i += ln
                elif typ == "double":
                    if i + 8 > end:
                        raise ValueError("truncated double value")
                    (v,) = struct.unpack("<d", payload[i : i + 8])
                    i += 8
                rec.append(v)
            records.append(tuple(rec))
        if i != end:
            raise ValueError(
                f"block declared {size} bytes but records used {i - (end - size)}"
            )
        if i + 16 > len(payload):
            raise ValueError("truncated block sync marker")
        if payload[i : i + 16] != sync:
            raise ValueError("sync marker mismatch after block")
        i += 16
        n_blocks += 1
    return {
        "fields": fields,
        "records": records,
        "n_blocks": n_blocks,
        "n_records": len(records),
    }


def _avro_payload(doc_id: int) -> bytes:
    n = 30 + doc_id % 40
    recs = [
        (doc_id * 1000 + j, f"t{j % 7}", j * 0.5) for j in range(n)
    ]
    rpb = n if doc_id % 2 == 0 else (n + 1) // 2
    return encode_avro_container(
        [("id", "long"), ("tag", "string"), ("x", "double")],
        recs,
        records_per_block=rpb,
    )


def _avro_stats(p: bytes) -> dict:
    m = decode_avro_container(p)
    recs = m["records"]
    return {
        "n_records": m["n_records"],
        "n_blocks": m["n_blocks"],
        "n_fields": len(m["fields"]),
        "id_sum": sum(r[0] for r in recs),
        "tag_len_sum": sum(len(r[1]) for r in recs),
        "x_doubled_sum": int(sum(2 * r[2] for r in recs)),
    }


@query(
    "mm_decode_avro_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 30 + doc_id % 40 AS n FROM documents),
    r AS (
      SELECT doc_id, n, t.i - 1 AS j
      FROM d, unnest(generate_series(1, CAST(n AS INT))) AS t(i))
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_records,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT)
             AS n_blocks,
           CAST(3 AS BIGINT) AS n_fields,
           CAST(sum(doc_id * 1000 + j) AS BIGINT) AS id_sum,
           CAST(sum(length('t' || CAST(j % 7 AS VARCHAR))) AS BIGINT)
             AS tag_len_sum,
           CAST(sum(j) AS BIGINT) AS x_doubled_sum
    FROM r GROUP BY doc_id
    """,
)
def mm_decode_avro_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container ingest end-to-end: per document a spec-valid
    object container (schema-in-header, one or two sync-delimited null-
    codec blocks by parity) written and REALLY read back — metadata-map
    walk, schema-JSON-driven record decoding (zigzag longs, length-
    prefixed strings, IEEE doubles), per-block size and sync-marker
    verification.  Doubles are planted dyadic (j * 0.5) so their
    doubled sum is integer-exact cross-engine.  The oracle re-derives
    record/block/field counts and every sum from the planting
    formulas."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _avro_payload)
    return decode_payloads(
        mm,
        _avro_stats,
        "n_records long, n_blocks long, n_fields long, id_sum long, "
        "tag_len_sum long, x_doubled_sum long",
    )
