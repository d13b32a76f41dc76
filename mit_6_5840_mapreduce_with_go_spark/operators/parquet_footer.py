"""Parquet footer walk — REAL Thrift compact-protocol parsing of the
FileMetaData struct (Apache Parquet format spec + Thrift compact
protocol spec, both public; no parquet library involved on the decode
side).

Why this matters at 100 TB: a lakehouse catalog/audit pass reads ONLY
footers — row counts, row-group layout, schema, per-chunk value counts
— across millions of files, without touching data pages.  The footer
is a Thrift compact-protocol blob: this module implements the protocol
walk itself (varint/zigzag, short+long field headers, list headers,
nested structs), so the engine can triage parquet files as opaque
binary payloads the same way it triages PNG/ZIP/WARC.

Layout (parquet-format spec): ``PAR1`` magic at both ends; the last 8
bytes before the trailing magic are ``<u32 LE footer_len><PAR1>``; the
footer is the compact-Thrift FileMetaData ending right there.

Compact protocol (thrift spec):
- struct = field headers until a 0x00 stop byte.  Short form:
  ``(id_delta << 4) | type`` with delta 1-15; long form: type nibble
  with delta 0, then zigzag-varint field id.
- types: 1/2 bool true/false, 3 byte, 4 i16, 5 i32, 6 i64, 7 double,
  8 binary/string, 9 list, 10 set, 11 map, 12 struct.
- list header: ``(size << 4) | elem_type``, size 15 = overflow ->
  varint size follows.
- integers are zigzag varints; binary is varint length + bytes.

The walker is generic (struct -> {field_id: (type, value)}) and total:
malformed input raises ValueError (never struct.error / IndexError /
RecursionError — depth is bounded), matching the package-wide decoder
totality contract (tests/test_decoder_robustness.py).

FileMetaData interpretation (parquet.thrift, public):
  1: i32 version, 2: list<SchemaElement> schema, 3: i64 num_rows,
  4: list<RowGroup> row_groups, 6: string created_by.
SchemaElement: 4: string name, 5: i32 num_children.
RowGroup: 1: list<ColumnChunk> columns, 2: i64 total_byte_size,
  3: i64 num_rows.
ColumnChunk: 3: struct ColumnMetaData.
ColumnMetaData: 4: i32 codec, 5: i64 num_values.

Scale shape of the query: the standard decode-family plan — one
Arrow-batched mapInPandas stage builds a REAL parquet file per
document (pyarrow writer, varying row counts and row-group splits),
the next walks the footer with this module's parser; no shuffle,
payloads never leave the executor.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..functions.varint import read_varint as _varint
from ..functions.varint import zigzag as _zigzag
from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

_MAGIC = b"PAR1"

_CT_STOP = 0
_CT_BOOL_TRUE = 1
_CT_BOOL_FALSE = 2
_CT_BYTE = 3
_CT_I16 = 4
_CT_I32 = 5
_CT_I64 = 6
_CT_DOUBLE = 7
_CT_BINARY = 8
_CT_LIST = 9
_CT_SET = 10
_CT_MAP = 11
_CT_STRUCT = 12

_MAX_DEPTH = 32


def _read_value(buf: bytes, i: int, ctype: int, depth: int):
    """One compact-protocol value of ``ctype`` at offset ``i`` ->
    (python value, next offset)."""
    if depth > _MAX_DEPTH:
        raise ValueError("thrift nesting exceeds bound")
    if ctype == _CT_BOOL_TRUE:
        return True, i
    if ctype == _CT_BOOL_FALSE:
        return False, i
    if ctype == _CT_BYTE:
        if i >= len(buf):
            raise ValueError("truncated byte value")
        return buf[i] - 256 if buf[i] > 127 else buf[i], i + 1
    if ctype in (_CT_I16, _CT_I32, _CT_I64):
        v, i = _varint(buf, i)
        return _zigzag(v), i
    if ctype == _CT_DOUBLE:
        if i + 8 > len(buf):
            raise ValueError("truncated double value")
        return struct.unpack("<d", buf[i : i + 8])[0], i + 8
    if ctype == _CT_BINARY:
        n, i = _varint(buf, i)
        if n < 0 or i + n > len(buf):
            raise ValueError("truncated binary value")
        return bytes(buf[i : i + n]), i + n
    if ctype in (_CT_LIST, _CT_SET):
        if i >= len(buf):
            raise ValueError("truncated list header")
        hdr = buf[i]
        i += 1
        size = hdr >> 4
        etype = hdr & 0x0F
        if size == 15:
            size, i = _varint(buf, i)
        if size > len(buf):  # cheap bound: each element needs >= 0 bytes
            raise ValueError(f"list size {size} exceeds buffer")
        out = []
        for _ in range(size):
            v, i = _read_value(buf, i, etype, depth + 1)
            out.append(v)
        return out, i
    if ctype == _CT_MAP:
        if i >= len(buf):
            raise ValueError("truncated map header")
        size, i = _varint(buf, i)
        if size == 0:
            return {}, i
        if i >= len(buf):
            raise ValueError("truncated map key/value types")
        kt, vt = buf[i] >> 4, buf[i] & 0x0F
        i += 1
        if size > len(buf):
            raise ValueError(f"map size {size} exceeds buffer")
        out = {}
        for _ in range(size):
            k, i = _read_value(buf, i, kt, depth + 1)
            v, i = _read_value(buf, i, vt, depth + 1)
            if isinstance(k, (bytes, int, bool)):
                out[k] = v
            else:
                raise ValueError("unhashable thrift map key type")
        return out, i
    if ctype == _CT_STRUCT:
        return _read_struct(buf, i, depth + 1)
    raise ValueError(f"unknown compact-protocol type {ctype}")


def _read_struct(buf: bytes, i: int, depth: int = 0) -> tuple[dict, int]:
    """Compact-protocol struct at ``i`` -> ({field_id: value}, next)."""
    if depth > _MAX_DEPTH:
        raise ValueError("thrift nesting exceeds bound")
    fields: dict[int, object] = {}
    fid = 0
    while True:
        if i >= len(buf):
            raise ValueError("unterminated struct (no stop field)")
        hdr = buf[i]
        i += 1
        if hdr == _CT_STOP:
            return fields, i
        delta = hdr >> 4
        ctype = hdr & 0x0F
        if delta == 0:
            raw, i = _varint(buf, i)
            fid = _zigzag(raw)
        else:
            fid += delta
        v, i = _read_value(buf, i, ctype, depth)
        fields[fid] = v
    # unreachable


def decode_parquet_footer(payload: bytes) -> dict:
    """REAL parquet footer walk: magic checks, footer-length read,
    compact-Thrift FileMetaData parse, schema/row-group
    interpretation.  Returns version, num_rows, row-group count and
    per-group row counts, leaf-column count and names, per-chunk value
    counts, and created_by.  Raises ValueError on malformed input."""
    n = len(payload)
    if n < 12:
        raise ValueError("shorter than two magics + footer length")
    if payload[:4] != _MAGIC:
        raise ValueError("missing leading PAR1 magic")
    if payload[-4:] != _MAGIC:
        raise ValueError("missing trailing PAR1 magic")
    (flen,) = struct.unpack("<I", payload[-8:-4])
    start = n - 8 - flen
    if flen <= 0 or start < 4:
        raise ValueError(f"footer length {flen} out of range")
    meta, end = _read_struct(payload, start)
    if end != n - 8:
        raise ValueError(
            f"footer parse ended at {end}, expected {n - 8}"
        )
    version = meta.get(1)
    schema = meta.get(2)
    num_rows = meta.get(3)
    row_groups = meta.get(4)
    if not isinstance(schema, list) or not schema:
        raise ValueError("missing schema list")
    if not isinstance(num_rows, int):
        raise ValueError("missing num_rows")
    if not isinstance(row_groups, list):
        raise ValueError("missing row_groups list")
    # Leaf columns: schema elements (beyond the root) with no children.
    leaves = []
    for el in schema[1:]:
        if not isinstance(el, dict):
            raise ValueError("schema element is not a struct")
        if el.get(5, 0) == 0:
            name = el.get(4)
            if not isinstance(name, bytes):
                raise ValueError("schema element missing name")
            leaves.append(name.decode("utf-8", errors="strict"))
    group_rows = []
    chunk_values = []
    for rg in row_groups:
        if not isinstance(rg, dict):
            raise ValueError("row group is not a struct")
        rows = rg.get(3)
        cols = rg.get(1)
        if not isinstance(rows, int) or not isinstance(cols, list):
            raise ValueError("row group missing rows/columns")
        group_rows.append(rows)
        for ch in cols:
            if not isinstance(ch, dict):
                raise ValueError("column chunk is not a struct")
            md = ch.get(3)
            if not isinstance(md, dict):
                raise ValueError("column chunk missing metadata")
            nv = md.get(5)
            if not isinstance(nv, int):
                raise ValueError("column metadata missing num_values")
            chunk_values.append(nv)
    created = meta.get(6)
    return {
        "version": version,
        "num_rows": num_rows,
        "n_row_groups": len(row_groups),
        "group_rows": group_rows,
        "columns": leaves,
        "chunk_values": chunk_values,
        "created_by": created.decode("utf-8", "replace")
        if isinstance(created, bytes)
        else None,
    }


def _doc_table(doc_id: int):
    """The planted per-document table: n = 50 + doc_id % 100 rows,
    three leaf columns (id BIGINT, tag VARCHAR, x DOUBLE)."""
    import pyarrow as pa

    n = 50 + doc_id % 100
    return pa.table(
        {
            "id": pa.array(
                [doc_id * 1000 + j for j in range(n)], type=pa.int64()
            ),
            "tag": pa.array([f"r{j % 10}" for j in range(n)]),
            "x": pa.array([float(j) for j in range(n)], type=pa.float64()),
        }
    )


def _parquet_payload(doc_id: int) -> bytes:
    """A REAL parquet file (pyarrow writer): odd documents split into
    two row groups, even documents keep one."""
    import io

    import pyarrow.parquet as pq

    tbl = _doc_table(doc_id)
    n = tbl.num_rows
    rg = n if doc_id % 2 == 0 else (n + 1) // 2
    buf = io.BytesIO()
    pq.write_table(tbl, buf, row_group_size=rg, compression="none")
    return buf.getvalue()


def _parquet_stats(p: bytes) -> dict:
    m = decode_parquet_footer(p)
    return {
        "num_rows": m["num_rows"],
        "n_row_groups": m["n_row_groups"],
        "n_columns": len(m["columns"]),
        "sum_chunk_values": sum(m["chunk_values"]),
        "name_len_sum": sum(len(c) for c in m["columns"]),
        "first_group_rows": m["group_rows"][0],
    }


@query(
    "mm_parquet_footer_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 50 + doc_id % 100 AS n FROM documents)
    SELECT doc_id,
           CAST(n AS BIGINT) AS num_rows,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS BIGINT)
             AS n_row_groups,
           CAST(3 AS BIGINT) AS n_columns,
           CAST(3 * n AS BIGINT) AS sum_chunk_values,
           CAST(length('id') + length('tag') + length('x') AS BIGINT)
             AS name_len_sum,
           CAST(CASE WHEN doc_id % 2 = 0 THEN n ELSE (n + 1) // 2 END
                AS BIGINT) AS first_group_rows
    FROM d
    """,
)
def mm_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse catalog triage end-to-end: per document a REAL parquet
    file is written (pyarrow, 3 leaf columns, one or two row groups by
    document parity) and its footer walked back with the pure-Python
    Thrift compact-protocol parser — magic/length framing, varint/
    zigzag fields, nested struct/list traversal, schema-leaf and
    row-group interpretation.  The oracle re-derives row counts,
    row-group layout, per-chunk value totals, and schema name lengths
    from the planting formulas; a protocol mis-step (field-id delta,
    list header, zigzag) scrambles every downstream field.

    Scale shape: two narrow stateless mapInPandas stages, no shuffle —
    catalog sweeps over millions of footers are exactly this map."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _parquet_payload)
    return decode_payloads(
        mm,
        _parquet_stats,
        "num_rows long, n_row_groups long, n_columns long, "
        "sum_chunk_values long, name_len_sum long, first_group_rows long",
    )
