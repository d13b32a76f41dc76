"""TFRecord shard walk + protobuf wire-format parser (both public:
the TFRecord framing is documented in the TensorFlow source/docs, the
protobuf wire format in the protobuf spec; tf.Example's message layout
is published in example.proto) — the training-data shard format LLM
pipelines actually emit and consume.

Three layers, each real:

1. **Framing** (``decode_tfrecord_frames``): records are
   ``<u64 LE length><u32 masked CRC32C of the length bytes>
   <payload><u32 masked CRC32C of the payload>``.  CRC32C (Castagnoli,
   reflected poly 0x82F63B78) is implemented here table-driven and
   verified against the published check value
   (crc32c(b"123456789") == 0xE3069283); the TFRecord mask is
   ``((crc >> 15) | (crc << 17)) + 0xA282EAD8 (mod 2^32)``.  Both CRCs
   are VERIFIED per record — the property that makes TFRecord shards
   safely resumable after partial writes.
2. **Wire format** (``parse_proto``): a generic protobuf walker —
   varint / 64-bit / length-delimited / 32-bit wire types, field
   numbers from the tag varint, repeated fields accumulated in order;
   groups (deprecated) and truncations raise ValueError.
3. **tf.Example** (``decode_tf_example``): Example.features(1) ->
   Features.feature(1) map entries -> (key(1), Feature(2)) ->
   Feature.bytes_list(1)/float_list(2)/int64_list(3), with int64 lists
   accepted in BOTH packed and unpacked encodings (proto3 writers pack;
   older writers don't) and float lists as packed or repeated 32-bit.

``encode_tfrecord`` / ``encode_tf_example`` write the same subset so
the walk is exercised by real byte layouts; the query plants shards
from doc_id formulas for the DuckDB oracle.

Scale shape: the standard decode-family plan (two stateless
Arrow-batched mapInPandas stages, no shuffle).  At 100 TB a TFRecord
re-shard/audit job is exactly this map — and the framing CRCs are why
it can quarantine one torn record instead of dropping a shard.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.varint import read_varint as _pb_varint
from ..functions.varint import write_varint as _pb_enc_varint
from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli), table-driven, reflected polynomial 0x82F63B78
# ---------------------------------------------------------------------------

_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# ---------------------------------------------------------------------------
# TFRecord framing
# ---------------------------------------------------------------------------


def encode_tfrecord(payloads: list[bytes]) -> bytes:
    out = bytearray()
    for p in payloads:
        ln = struct.pack("<Q", len(p))
        out += ln
        out += struct.pack("<I", _masked_crc(ln))
        out += p
        out += struct.pack("<I", _masked_crc(p))
    return bytes(out)


def decode_tfrecord_frames(payload: bytes) -> list[bytes]:
    """Walk a TFRecord shard, verifying BOTH masked CRCs per record."""
    out = []
    i, n = 0, len(payload)
    while i < n:
        if i + 12 > n:
            raise ValueError("truncated record header")
        ln_bytes = payload[i : i + 8]
        (ln,) = struct.unpack("<Q", ln_bytes)
        (crc_l,) = struct.unpack("<I", payload[i + 8 : i + 12])
        if crc_l != _masked_crc(ln_bytes):
            raise ValueError(f"length CRC mismatch at offset {i}")
        i += 12
        if ln > n - i:
            raise ValueError(f"record length {ln} extends past end")
        data = payload[i : i + ln]
        i += ln
        if i + 4 > n:
            raise ValueError("truncated data CRC")
        (crc_d,) = struct.unpack("<I", payload[i : i + 4])
        if crc_d != _masked_crc(data):
            raise ValueError("data CRC mismatch")
        i += 4
        out.append(data)
    if not out:
        raise ValueError("empty TFRecord shard")
    return out


# ---------------------------------------------------------------------------
# protobuf wire format (generic walker)
# ---------------------------------------------------------------------------


def parse_proto(buf: bytes) -> list[tuple[int, int, object]]:
    """Generic wire walk -> ordered ``(field_number, wire_type,
    value)`` triples.  Values: int for varint/64-bit/32-bit (raw little
    -endian for the fixed widths), bytes for length-delimited."""
    out = []
    i, n = 0, len(buf)
    while i < n:
        tag, i = _pb_varint(buf, i)
        field, wt = tag >> 3, tag & 7
        if field == 0:
            raise ValueError("field number 0 is invalid")
        if wt == 0:
            v, i = _pb_varint(buf, i)
        elif wt == 1:
            if i + 8 > n:
                raise ValueError("truncated 64-bit field")
            v = int.from_bytes(buf[i : i + 8], "little")
            i += 8
        elif wt == 2:
            ln, i = _pb_varint(buf, i)
            if ln > n - i:
                raise ValueError("length-delimited field extends past end")
            v = buf[i : i + ln]
            i += ln
        elif wt == 5:
            if i + 4 > n:
                raise ValueError("truncated 32-bit field")
            v = int.from_bytes(buf[i : i + 4], "little")
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        out.append((field, wt, v))
    return out


def _pb_tag(field: int, wt: int) -> bytes:
    return _pb_enc_varint((field << 3) | wt)


def _pb_len(field: int, data: bytes) -> bytes:
    return _pb_tag(field, 2) + _pb_enc_varint(len(data)) + data


# ---------------------------------------------------------------------------
# tf.Example
# ---------------------------------------------------------------------------


def encode_tf_example(features: dict[str, object]) -> bytes:
    """tf.Example bytes from ``{name: bytes | list[int] | list[float]}``
    (bytes -> BytesList, ints -> PACKED Int64List, floats -> packed
    FloatList)."""
    entries = bytearray()
    for name, value in sorted(features.items()):
        if isinstance(value, bytes):
            flist = _pb_len(1, _pb_len(1, value))  # bytes_list.value
        elif isinstance(value, list) and all(isinstance(v, int) for v in value):
            packed = b"".join(_pb_enc_varint(v & (1 << 64) - 1) for v in value)
            flist = _pb_len(3, _pb_len(1, packed))  # int64_list.value packed
        elif isinstance(value, list):
            packed = b"".join(struct.pack("<f", float(v)) for v in value)
            flist = _pb_len(2, _pb_len(1, packed))  # float_list.value packed
        else:
            raise ValueError(f"unsupported feature value for {name!r}")
        entry = _pb_len(1, name.encode()) + _pb_len(2, flist)
        entries += _pb_len(1, entry)  # Features.feature map entry
    return _pb_len(1, bytes(entries))  # Example.features


def decode_tf_example(payload: bytes) -> dict[str, object]:
    """tf.Example -> ``{name: bytes | list[int] | list[float]}``.
    Int64 lists accepted packed or unpacked; float lists packed or
    repeated fixed32."""
    top = parse_proto(payload)
    feats: dict[str, object] = {}
    for field, wt, v in top:
        if field != 1 or wt != 2:
            raise ValueError("Example: expected features message (field 1)")
        for f2, wt2, entry in parse_proto(v):
            if f2 != 1 or wt2 != 2:
                raise ValueError("Features: expected feature map entry")
            name = None
            feature = None
            for f3, wt3, val in parse_proto(entry):
                if f3 == 1 and wt3 == 2:
                    name = val.decode("utf-8", "strict")
                elif f3 == 2 and wt3 == 2:
                    feature = val
            if name is None or feature is None:
                raise ValueError("feature map entry missing key or value")
            kinds = parse_proto(feature)
            if len(kinds) != 1:
                raise ValueError(f"feature {name!r}: expected one kind")
            fk, wk, inner = kinds[0]
            if wk != 2:
                raise ValueError(f"feature {name!r}: kind must be a message")
            if fk == 1:  # BytesList
                vals = [
                    bv
                    for bf, bwt, bv in parse_proto(inner)
                    if bf == 1 and bwt == 2
                ]
                if len(vals) != 1:
                    raise ValueError(
                        f"bytes feature {name!r}: want exactly one value"
                    )
                feats[name] = vals[0]
            elif fk == 3:  # Int64List
                ints: list[int] = []
                for inf, inwt, inv in parse_proto(inner):
                    if inf != 1:
                        raise ValueError(f"int64 list {name!r}: bad field")
                    if inwt == 0:  # unpacked
                        ints.append(inv - (1 << 64) if inv >> 63 else inv)
                    elif inwt == 2:  # packed
                        j = 0
                        while j < len(inv):
                            u, j = _pb_varint(inv, j)
                            ints.append(u - (1 << 64) if u >> 63 else u)
                    else:
                        raise ValueError(
                            f"int64 list {name!r}: bad wire type"
                        )
                feats[name] = ints
            elif fk == 2:  # FloatList
                fls: list[float] = []
                for inf, inwt, inv in parse_proto(inner):
                    if inf != 1:
                        raise ValueError(f"float list {name!r}: bad field")
                    if inwt == 5:
                        fls.append(
                            struct.unpack("<f", inv.to_bytes(4, "little"))[0]
                        )
                    elif inwt == 2:
                        if len(inv) % 4:
                            raise ValueError(
                                f"float list {name!r}: ragged packed bytes"
                            )
                        fls.extend(
                            struct.unpack(f"<{len(inv) // 4}f", inv)
                        )
                    else:
                        raise ValueError(
                            f"float list {name!r}: bad wire type"
                        )
                feats[name] = fls
            else:
                raise ValueError(f"feature {name!r}: unknown kind {fk}")
    if not feats:
        raise ValueError("Example carries no features")
    return feats


# ---------------------------------------------------------------------------
# planted corpus + query
# ---------------------------------------------------------------------------


def _tfrecord_payload(doc_id: int) -> bytes:
    k = 2 + doc_id % 4
    examples = []
    for r in range(k):
        n_tok = 5 + (doc_id + r) % 8
        examples.append(
            encode_tf_example(
                {
                    "id": [doc_id * 100 + r],
                    "tokens": [
                        (doc_id * 13 + r * 7 + t) % 50000
                        for t in range(n_tok)
                    ],
                    "text": f"doc{doc_id}r{r}".encode(),
                    "w": [float(r), 0.5],
                }
            )
        )
    return encode_tfrecord(examples)


def _tfrecord_stats(p: bytes) -> dict:
    frames = decode_tfrecord_frames(p)
    exs = [decode_tf_example(f) for f in frames]
    return {
        "n_records": len(exs),
        "n_tokens": sum(len(e["tokens"]) for e in exs),
        "token_sum": sum(sum(e["tokens"]) for e in exs),
        "id_sum": sum(e["id"][0] for e in exs),
        "text_len_sum": sum(len(e["text"]) for e in exs),
        "w_doubled_sum": int(sum(2 * sum(e["w"]) for e in exs)),
    }


@query(
    "mm_decode_tfrecord_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS k FROM documents),
    rec AS (
      SELECT doc_id, k, t.i - 1 AS r,
             5 + (doc_id + t.i - 1) % 8 AS n_tok
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    tok AS (
      SELECT doc_id, r, n_tok,
             (doc_id * 13 + r * 7 + (u.j - 1)) % 50000 AS v
      FROM rec, unnest(generate_series(1, CAST(n_tok AS INT))) AS u(j)),
    per_rec AS (
      SELECT doc_id, r, n_tok, sum(v) AS tok_sum
      FROM tok GROUP BY doc_id, r, n_tok)
    SELECT d.doc_id,
           CAST(d.k AS BIGINT) AS n_records,
           CAST(sum(p.n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(p.tok_sum) AS BIGINT) AS token_sum,
           CAST(sum(d.doc_id * 100 + p.r) AS BIGINT) AS id_sum,
           CAST(sum(length('doc' || CAST(d.doc_id AS VARCHAR)
                           || 'r' || CAST(p.r AS VARCHAR))) AS BIGINT)
             AS text_len_sum,
           CAST(sum(2 * p.r + 1) AS BIGINT) AS w_doubled_sum
    FROM d JOIN per_rec p ON p.doc_id = d.doc_id
    GROUP BY d.doc_id, d.k
    """,
)
def mm_decode_tfrecord_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard audit end-to-end: per document a TFRecord shard
    of tf.Example records (packed int64 token lists, bytes text, float
    weights) is written and REALLY walked back — both masked CRC32Cs
    verified per record, then the protobuf wire walk down through
    Example -> Features -> map entries -> typed value lists.  Floats
    are planted dyadic (r and 0.5), so the doubled weight sum is
    integer-exact.  The oracle re-derives record/token counts and
    every sum from the planting formulas; a CRC-mask or varint mistake
    kills the shard, a map-entry mis-walk scrambles the features."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _tfrecord_payload)
    return decode_payloads(
        mm,
        _tfrecord_stats,
        "n_records long, n_tokens long, token_sum long, id_sum long, "
        "text_len_sum long, w_doubled_sum long",
    )


# ---------------------------------------------------------------------------
# FILE-source twin: the same shards as real .tfrecord FILES read through
# format("tfrecordfile") (sources/tfrecordfiles.py), fixtures cached
# like the WARC shards; the oracle is IDENTICAL to the column walk's,
# pinning file-source == payload-column parity for this format too.
# ---------------------------------------------------------------------------


def _tfrecord_shard_dir(sf_dir: str) -> str:
    from .warc_ingest import _shard_dir

    def builder(doc_id: int) -> bytes:
        return _tfrecord_payload(doc_id)

    return _shard_dir(
        sf_dir, variant="-tfrecord", builder=builder, ext=".tfrecord"
    )


@query(
    "mm_tfrecord_source_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS k FROM documents),
    rec AS (
      SELECT doc_id, k, t.i - 1 AS r,
             5 + (doc_id + t.i - 1) % 8 AS n_tok
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS t(i)),
    tok AS (
      SELECT doc_id, r, n_tok,
             (doc_id * 13 + r * 7 + (u.j - 1)) % 50000 AS v
      FROM rec, unnest(generate_series(1, CAST(n_tok AS INT))) AS u(j)),
    per_rec AS (
      SELECT doc_id, r, n_tok, sum(v) AS tok_sum
      FROM tok GROUP BY doc_id, r, n_tok)
    SELECT d.doc_id,
           CAST(d.k AS BIGINT) AS n_records,
           CAST(sum(p.n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(p.tok_sum) AS BIGINT) AS token_sum,
           CAST(sum(d.doc_id * 100 + p.r) AS BIGINT) AS id_sum,
           CAST(sum(length('doc' || CAST(d.doc_id AS VARCHAR)
                           || 'r' || CAST(p.r AS VARCHAR))) AS BIGINT)
             AS text_len_sum,
           CAST(sum(2 * p.r + 1) AS BIGINT) AS w_doubled_sum
    FROM d JOIN per_rec p ON p.doc_id = d.doc_id
    GROUP BY d.doc_id, d.k
    """,
)
def mm_tfrecord_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard FILE ingest: the planted tf.Example corpora live
    in real ``.tfrecord`` shard files (doc_id % 8 per shard) read
    through the ``tfrecordfile`` Python Data Source — CRC-verified
    record rows, one partition per shard — then one Arrow-batched
    feature-decode stage and a JVM aggregation on the recovered doc
    id.  Oracle identical to ``mm_decode_tfrecord_stats``: the file
    path and the column path must agree with DuckDB and therefore
    with each other."""
    import os as _os

    from ..sources.tfrecordfiles import read_tfrecord_source

    shards = _os.path.join(_tfrecord_shard_dir(sf_dir), "*.tfrecord")
    recs = read_tfrecord_source(spark, shards)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ex_bytes in pdf["example"]:
                e = decode_tf_example(bytes(ex_bytes))
                rid = e["id"][0]
                rows.append(
                    {
                        "doc_id": rid // 100,
                        "n_tokens": len(e["tokens"]),
                        "token_sum": sum(e["tokens"]),
                        "rid": rid,
                        "text_len": len(e["text"]),
                        "w_doubled": int(2 * sum(e["w"])),
                    }
                )
            yield pd.DataFrame(rows)

    feats = recs.mapInPandas(
        decode_batches,
        schema="doc_id long, n_tokens long, token_sum long, rid long, "
        "text_len long, w_doubled long",
    )
    from pyspark.sql import functions as F

    return (
        feats.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("token_sum").alias("token_sum"),
            F.sum("rid").alias("id_sum"),
            F.sum("text_len").alias("text_len_sum"),
            F.sum("w_doubled").alias("w_doubled_sum"),
        )
        .select(
            "doc_id",
            F.col("n_records").cast("long").alias("n_records"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("token_sum").cast("long").alias("token_sum"),
            F.col("id_sum").cast("long").alias("id_sum"),
            F.col("text_len_sum").cast("long").alias("text_len_sum"),
            F.col("w_doubled_sum").cast("long").alias("w_doubled_sum"),
        )
    )
