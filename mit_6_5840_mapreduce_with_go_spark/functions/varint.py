"""ULEB128 varints: the integer encoding shared by the protobuf wire
format (TFRecord / tf.Example), Thrift's compact protocol (Parquet
footers) and Avro.  Thrift and Avro store signed integers zigzag-mapped
on top of it (``zigzag``)."""

from __future__ import annotations


def read_varint(buf: bytes, i: int) -> tuple[int, int]:
    """ULEB128 at ``buf[i:]`` -> (value, next_offset).  Hostile input
    fails with ValueError: a truncated encoding, or one longer than 64
    bits."""
    out = 0
    shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        if shift > 63:
            raise ValueError("varint longer than 64 bits")
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7


def write_varint(v: int) -> bytes:
    """ULEB128 encoding of a non-negative ``v``."""
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag(u: int) -> int:
    """Zigzag decode: 0, 1, 2, 3, ... -> 0, -1, 1, -2, ..."""
    return (u >> 1) ^ -(u & 1)
