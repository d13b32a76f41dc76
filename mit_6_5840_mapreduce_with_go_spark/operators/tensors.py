"""Model/tensor artifact walks: SafeTensors and NPY/NPZ — the formats
model weights and preprocessed features actually ship in (both public:
the safetensors format is documented in its repo/spec page, NPY in the
numpy NEP-1/format docs).  An LLM data platform audits these the same
way it audits parquet footers: metadata-only passes over millions of
artifacts.

- ``decode_safetensors``: ``<u64 LE header_len><header JSON><data>``.
  The header maps tensor name -> {dtype, shape, data_offsets}; the walk
  validates JSON, dtype against the published table, shape/offset
  arithmetic (end - begin == elements * itemsize), zero-copy layout
  (offsets non-overlapping, ascending, dense, ending exactly at the
  data length), and the optional ``__metadata__`` string map.
- ``decode_npy``: ``\\x93NUMPY`` magic, version, little-endian header
  length, then the header dict — parsed with a TINY dedicated parser
  (never ``eval``) for the three canonical keys (descr, fortran_order,
  shape); data length must equal elements * itemsize.  Integer payloads
  decode to values for exact stats.
- ``decode_npz``: an NPZ is a ZIP of ``.npy`` members — composed
  directly on the package's REAL ZIP central-directory walk
  (multimodal9.decode_zip), one more case of containers stacking.

Scale shape: the standard decode-family plan (two stateless
Arrow-batched mapInPandas stages, no shuffle).
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import query
from ..sources import load_table
from .multimodal9 import decode_zip, encode_zip
from .payloads import decode_payloads, synth_payloads

_ST_ITEMSIZE = {
    "F64": 8, "F32": 4, "F16": 2, "BF16": 2,
    "I64": 8, "I32": 4, "I16": 2, "I8": 1, "U8": 1, "BOOL": 1,
}

_NPY_ITEMSIZE = {
    "<i8": 8, "<i4": 4, "<i2": 2, "|i1": 1, "|u1": 1,
    "<f8": 8, "<f4": 4, "<u4": 4, "<u8": 8, "|b1": 1,
}


# ---------------------------------------------------------------------------
# SafeTensors
# ---------------------------------------------------------------------------


def encode_safetensors(
    tensors: list[tuple[str, str, list[int], bytes]],
    *,
    metadata: dict[str, str] | None = None,
) -> bytes:
    """``(name, dtype, shape, raw_bytes)`` -> a spec-valid .safetensors
    blob (dense ascending offsets, 8-byte LE header length)."""
    header: dict = {}
    if metadata is not None:
        header["__metadata__"] = metadata
    off = 0
    data = bytearray()
    for name, dtype, shape, raw in tensors:
        n_el = 1
        for s in shape:
            n_el *= s
        if len(raw) != n_el * _ST_ITEMSIZE[dtype]:
            raise ValueError(f"{name}: raw size does not match shape/dtype")
        header[name] = {
            "dtype": dtype,
            "shape": shape,
            "data_offsets": [off, off + len(raw)],
        }
        data += raw
        off += len(raw)
    hj = json.dumps(header, sort_keys=True).encode()
    return struct.pack("<Q", len(hj)) + hj + bytes(data)


def decode_safetensors(payload: bytes) -> dict:
    """REAL safetensors walk (see module docstring).  Returns tensor
    census + per-tensor (name, dtype, shape, nbytes) and metadata."""
    if len(payload) < 8:
        raise ValueError("shorter than the header-length prefix")
    (hlen,) = struct.unpack("<Q", payload[:8])
    if hlen > len(payload) - 8:
        raise ValueError(f"header length {hlen} extends past end")
    try:
        header = json.loads(payload[8 : 8 + hlen].decode("utf-8"))
    except (json.JSONDecodeError, UnicodeDecodeError) as exc:
        raise ValueError(f"invalid header JSON: {exc}") from exc
    if not isinstance(header, dict):
        raise ValueError("header is not a JSON object")
    meta = header.pop("__metadata__", None)
    if meta is not None and not (
        isinstance(meta, dict)
        and all(isinstance(k, str) and isinstance(v, str) for k, v in meta.items())
    ):
        raise ValueError("__metadata__ must be a string map")
    data_len = len(payload) - 8 - hlen
    tensors = []
    for name, spec in header.items():
        if not isinstance(spec, dict):
            raise ValueError(f"{name}: tensor spec is not an object")
        dtype = spec.get("dtype")
        shape = spec.get("shape")
        offs = spec.get("data_offsets")
        if dtype not in _ST_ITEMSIZE:
            raise ValueError(f"{name}: unknown dtype {dtype!r}")
        if not (
            isinstance(shape, list)
            and all(isinstance(s, int) and s >= 0 for s in shape)
        ):
            raise ValueError(f"{name}: bad shape {shape!r}")
        if not (
            isinstance(offs, list)
            and len(offs) == 2
            and all(isinstance(o, int) for o in offs)
        ):
            raise ValueError(f"{name}: bad data_offsets {offs!r}")
        begin, end = offs
        n_el = 1
        for s in shape:
            n_el *= s
        if begin < 0 or end < begin or end > data_len:
            raise ValueError(f"{name}: offsets {offs} out of bounds")
        if end - begin != n_el * _ST_ITEMSIZE[dtype]:
            raise ValueError(
                f"{name}: {end - begin} bytes != {n_el} elements of {dtype}"
            )
        tensors.append((name, dtype, shape, end - begin, begin))
    # zero-copy layout: ascending, non-overlapping, dense, exact cover
    tensors.sort(key=lambda t: t[4])
    cursor = 0
    for name, _, _, nbytes, begin in tensors:
        if begin != cursor:
            raise ValueError(
                f"layout not dense at {name!r}: begin {begin}, want {cursor}"
            )
        cursor += nbytes
    if cursor != data_len:
        raise ValueError(
            f"tensors cover {cursor} bytes, data section is {data_len}"
        )
    return {
        "tensors": [
            {"name": n, "dtype": d, "shape": s, "nbytes": b}
            for n, d, s, b, _ in tensors
        ],
        "n_tensors": len(tensors),
        "total_bytes": data_len,
        "metadata": meta,
    }


# ---------------------------------------------------------------------------
# NPY / NPZ
# ---------------------------------------------------------------------------


def _parse_npy_header(text: str) -> tuple[str, bool, tuple[int, ...]]:
    """The canonical ``{'descr': ..., 'fortran_order': ..., 'shape':
    ...}`` dict, parsed with a tiny scanner (never ``eval``)."""
    s = text.strip()
    if not (s.startswith("{") and s.rstrip(", \t\n").endswith("}")):
        raise ValueError("npy header is not a dict literal")
    body = s[1 : s.rindex("}")]
    fields: dict[str, str] = {}
    i, n = 0, len(body)
    while i < n:
        while i < n and body[i] in " ,\t\n":
            i += 1
        if i >= n:
            break
        if body[i] not in "'\"":
            raise ValueError(f"expected quoted key at {i}")
        q = body[i]
        j = body.index(q, i + 1)
        key = body[i + 1 : j]
        i = j + 1
        while i < n and body[i] in " \t":
            i += 1
        if i >= n or body[i] != ":":
            raise ValueError(f"expected ':' after key {key!r}")
        i += 1
        while i < n and body[i] in " \t":
            i += 1
        if i < n and body[i] in "'\"":
            q = body[i]
            j = body.index(q, i + 1)
            fields[key] = body[i + 1 : j]
            i = j + 1
        elif i < n and body[i] == "(":
            j = body.index(")", i)
            fields[key] = body[i : j + 1]
            i = j + 1
        else:
            j = i
            while j < n and body[j] not in ",":
                j += 1
            fields[key] = body[i:j].strip()
            i = j
    for req in ("descr", "fortran_order", "shape"):
        if req not in fields:
            raise ValueError(f"npy header missing {req!r}")
    descr = fields["descr"]
    fo_raw = fields["fortran_order"]
    if fo_raw not in ("True", "False"):
        raise ValueError(f"bad fortran_order {fo_raw!r}")
    shape_raw = fields["shape"].strip()
    if not (shape_raw.startswith("(") and shape_raw.endswith(")")):
        raise ValueError(f"bad shape {shape_raw!r}")
    parts = [p.strip() for p in shape_raw[1:-1].split(",") if p.strip()]
    try:
        shape = tuple(int(p) for p in parts)
    except ValueError as exc:
        raise ValueError(f"non-integer shape {shape_raw!r}") from exc
    return descr, fo_raw == "True", shape


def encode_npy(descr: str, shape: tuple[int, ...], raw: bytes) -> bytes:
    shape_txt = (
        f"({shape[0]},)" if len(shape) == 1 else "(" + ", ".join(map(str, shape)) + ")"
    )
    header = (
        f"{{'descr': '{descr}', 'fortran_order': False, "
        f"'shape': {shape_txt}, }}"
    )
    # pad so magic(6)+ver(2)+hlen(2)+header is a multiple of 64, per spec
    base = 6 + 2 + 2
    pad = (64 - (base + len(header) + 1) % 64) % 64
    header = header + " " * pad + "\n"
    return (
        b"\x93NUMPY\x01\x00"
        + struct.pack("<H", len(header))
        + header.encode("latin-1")
        + raw
    )


def decode_npy(payload: bytes) -> dict:
    """REAL NPY walk: magic/version, header-length field, dedicated
    dict parse, element/byte arithmetic; little-endian integer payloads
    decode to exact values."""
    if payload[:6] != b"\x93NUMPY":
        raise ValueError("not an NPY file (bad magic)")
    if len(payload) < 10:
        raise ValueError("truncated NPY preamble")
    major, minor = payload[6], payload[7]
    if major == 1:
        (hlen,) = struct.unpack("<H", payload[8:10])
        data_at = 10 + hlen
    elif major == 2:
        if len(payload) < 12:
            raise ValueError("truncated NPY v2 header length")
        (hlen,) = struct.unpack("<I", payload[8:12])
        data_at = 12 + hlen
    else:
        raise ValueError(f"unsupported NPY version {major}.{minor}")
    if data_at > len(payload):
        raise ValueError("header extends past end")
    try:
        header_txt = payload[data_at - hlen : data_at].decode("latin-1")
    except UnicodeDecodeError as exc:  # pragma: no cover - latin1 total
        raise ValueError("undecodable header") from exc
    descr, fortran, shape = _parse_npy_header(header_txt)
    if descr not in _NPY_ITEMSIZE:
        raise ValueError(f"unsupported descr {descr!r}")
    n_el = 1
    for s in shape:
        n_el *= s
    nbytes = n_el * _NPY_ITEMSIZE[descr]
    data = payload[data_at:]
    if len(data) != nbytes:
        raise ValueError(
            f"data section is {len(data)} bytes, header implies {nbytes}"
        )
    values = None
    if descr in ("<i8", "<i4", "<i2", "|i1"):
        width = _NPY_ITEMSIZE[descr]
        values = [
            int.from_bytes(data[k : k + width], "little", signed=True)
            for k in range(0, nbytes, width)
        ]
    return {
        "descr": descr,
        "fortran_order": fortran,
        "shape": shape,
        "n_elements": n_el,
        "nbytes": nbytes,
        "values": values,
    }


def decode_npz(payload: bytes) -> dict[str, dict]:
    """NPZ = ZIP of .npy members: the package's real central-directory
    walk, then the NPY walk per member (names lose their ``.npy``)."""
    out = {}
    for m in decode_zip(payload):
        name = m["name"]
        if not name.endswith(".npy"):
            raise ValueError(f"non-npy member {name!r} in npz")
        out[name[:-4]] = decode_npy(m["content"])
    if not out:
        raise ValueError("empty npz")
    return out


# ---------------------------------------------------------------------------
# planted corpus + queries
# ---------------------------------------------------------------------------


def _st_payload(doc_id: int) -> bytes:
    k = 2 + doc_id % 3
    tensors = []
    for t in range(k):
        rows, cols = 2 + (doc_id + t) % 4, 3 + t % 3
        dtype = ("F32", "I64", "F16")[t % 3]
        nbytes = rows * cols * _ST_ITEMSIZE[dtype]
        tensors.append(
            (
                f"layer{t}.weight",
                dtype,
                [rows, cols],
                bytes((doc_id + t + j) % 256 for j in range(nbytes)),
            )
        )
    return encode_safetensors(
        tensors, metadata={"format": "pt", "doc": str(doc_id)}
    )


def _st_stats(p: bytes) -> dict:
    m = decode_safetensors(p)
    n_el = sum(t["shape"][0] * t["shape"][1] for t in m["tensors"])
    return {
        "n_tensors": m["n_tensors"],
        "n_elements": n_el,
        "total_bytes": m["total_bytes"],
        "name_len_sum": sum(len(t["name"]) for t in m["tensors"]),
    }


@query(
    "mm_safetensors_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
    t AS (
      SELECT doc_id, k, u.i - 1 AS t,
             (2 + (doc_id + u.i - 1) % 4) AS rows_,
             (3 + (u.i - 1) % 3) AS cols_,
             list_extract([4, 8, 2], CAST(1 + (u.i - 1) % 3 AS INT))
               AS itemsize
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS u(i))
    SELECT doc_id,
           CAST(max(k) AS BIGINT) AS n_tensors,
           CAST(sum(rows_ * cols_) AS BIGINT) AS n_elements,
           CAST(sum(rows_ * cols_ * itemsize) AS BIGINT) AS total_bytes,
           CAST(sum(length('layer' || CAST(t AS VARCHAR) || '.weight'))
                AS BIGINT) AS name_len_sum
    FROM t GROUP BY doc_id
    """,
)
def mm_safetensors_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-artifact audit end-to-end: per document a spec-valid
    .safetensors blob (mixed F32/I64/F16 tensors, dense ascending
    offsets, string metadata) walked back with full layout validation
    — offset arithmetic vs shape*itemsize, density, exact data-section
    cover.  The oracle re-derives tensor/element/byte counts and name
    lengths from the planting formulas."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _st_payload)
    return decode_payloads(
        mm,
        _st_stats,
        "n_tensors long, n_elements long, total_bytes long, name_len_sum long",
    )


def _npz_payload(doc_id: int) -> bytes:
    k = 1 + doc_id % 3
    members = []
    for a in range(k):
        n = 4 + (doc_id + a) % 6
        vals = [(doc_id * 5 + a * 3 + j) % 1000 - 100 for j in range(n)]
        raw = b"".join(v.to_bytes(8, "little", signed=True) for v in vals)
        members.append(
            (f"arr_{a}.npy", encode_npy("<i8", (n,), raw), a % 2 == 1)
        )
    return encode_zip(members)


def _npz_stats(p: bytes) -> dict:
    arrs = decode_npz(p)
    vals = [v for a in arrs.values() for v in a["values"]]
    return {
        "n_arrays": len(arrs),
        "n_elements": len(vals),
        "value_sum": sum(vals),
        "value_min": min(vals),
        "value_max": max(vals),
    }


@query(
    "mm_decode_npz_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id, 1 + doc_id % 3 AS k FROM documents),
    arr AS (
      SELECT doc_id, k, u.i - 1 AS a,
             4 + (doc_id + u.i - 1) % 6 AS n
      FROM d, unnest(generate_series(1, CAST(k AS INT))) AS u(i)),
    el AS (
      SELECT doc_id, a, n,
             (doc_id * 5 + a * 3 + (v.j - 1)) % 1000 - 100 AS val
      FROM arr, unnest(generate_series(1, CAST(n AS INT))) AS v(j))
    SELECT doc_id,
           CAST(count(DISTINCT a) AS BIGINT) AS n_arrays,
           CAST(count(*) AS BIGINT) AS n_elements,
           CAST(sum(val) AS BIGINT) AS value_sum,
           CAST(min(val) AS BIGINT) AS value_min,
           CAST(max(val) AS BIGINT) AS value_max
    FROM el GROUP BY doc_id
    """,
)
def mm_decode_npz_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container composition three layers deep: NPZ (a real ZIP walked
    via the central directory, mixing stored and deflated members) of
    NPY arrays (magic/version/header-dict walk with a dedicated
    parser, never ``eval``) of signed int64 values (exact decode,
    including negatives).  The oracle re-derives array/element counts
    and value sums/extrema from the planting formulas."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _npz_payload)
    return decode_payloads(
        mm,
        _npz_stats,
        "n_arrays long, n_elements long, value_sum long, value_min long, "
        "value_max long",
    )
