"""Real baseline-JPEG decode inside the multimodal mapInPandas leg.

Closes the last decode stub class: after PPM (``multimodal.decode_ppm``)
and PNG (``multimodal2.decode_png``), this module decodes baseline
sequential JPEG (ITU-T T.81, public spec) with NO imaging library —
marker walk, DQT/DHT table parsing, canonical Huffman decode of the
entropy-coded segment (with FF00 byte unstuffing), DC prediction +
EXTEND sign recovery, zigzag dequantization, float 2-D IDCT, level
shift, clamp.  Supported surface = 8-bit baseline, grayscale AND
3-component YCbCr color in both 4:4:4 (all 1x1) and real-world 4:2:0
(Y at 2x2, chroma 1x1, MCU-interleaved, box-upsampled) layouts, with
fixed-point integer YCbCr->RGB conversion (libjpeg convention);
everything else raises ValueError (progressive, other sampling
layouts, arithmetic coding, restart intervals are rejected, not
silently mis-decoded).

JPEG is lossy, which would normally make a cross-engine value oracle
impossible — no SQL engine can re-run an IDCT bit-for-bit.  The
end-to-end query sidesteps that with DC-exact payloads: images built
from CONSTANT 8x8 blocks with an all-ones quantization table have one
nonzero (DC) coefficient per block, and the IDCT of a DC-only block is
a constant the pipeline reproduces EXACTLY (the only float involved is
0.125 * C0^2 * 8 * v, error ~1e-14, annihilated by the final round).
So the decoder runs its full real path — Huffman, prediction,
dequantize, IDCT — while the DuckDB oracle recomputes every decoded
pixel from the integer block formula.  Unit tests additionally
round-trip NON-constant blocks through the encoder's FDCT at quant=1
(error bound <= 1 gray level) and reject malformed streams.

No reference counterpart — north-star LLM-pipeline addition alongside
multimodal.py / multimodal2.py.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .payloads import decode_payloads, synth_payloads

# -- shared constant tables (ITU-T T.81 Annex K, public spec) --------------

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# standard luminance Huffman tables: (#codes of length 1..16, symbols)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

_C = [1.0 / math.sqrt(2.0)] + [1.0] * 7
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16.0) for u in range(8)] for x in range(8)]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical JPEG assignment (T.81 C.2)."""
    if len(bits) != 16:
        raise ValueError(f"DHT BITS list has {len(bits)} entries (want 16)")
    if sum(bits) > len(vals):
        raise ValueError(
            f"DHT declares {sum(bits)} codes but carries {len(vals)} symbols"
        )
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the decoder's bit-at-a-time walk."""
    return {(l, c): s for s, (c, l) in _canonical_codes(bits, vals).items()}


# -- encoder (exists to put the decoder under load) ------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-pad final byte
        return bytes(self.out)

    def restart(self, n: int) -> None:
        """Close the current restart interval: 1-pad to a byte boundary
        (through ``write``, so an all-ones pad byte still gets its FF00
        stuffing) and emit RSTn — the marker itself is raw, never
        stuffed (T.81 E.1.2: markers are not entropy data)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


# FDCT as one 64x64 basis matmul (r13 optimization, guide §4.2): the
# scalar quadruple loop was 4096 pure-Python multiply-adds per block —
# the single hottest line of the JPEG fixture encoders (~80% of
# mm_decode_jpeg_color_stats' per-task CPU; 59x faster as a numpy
# matmul).  Row c = coefficient (v*8+u), column p = pixel (y*8+x), the
# 0.25*C[u]*C[v] scale folded into the basis.  Summation order differs
# from the scalar loop by last-ulp floats only; the query fixtures are
# DC-exact (constant blocks → AC terms ~1e-13 vs the 0.5 rounding
# margin, DC an exact multiple of 0.125), so every quantized
# coefficient is bit-identical — oracle-verified at three SFs.
_FDCT_BASIS = np.array(
    [
        [
            0.25 * _C[u] * _C[v] * _COS[x][u] * _COS[y][v]
            for y in range(8)
            for x in range(8)
        ]
        for v in range(8)
        for u in range(8)
    ]
)


def _fdct2d(block: list[list[float]]) -> list[list[float]]:
    b = np.asarray(block, dtype=np.float64).reshape(64)
    return (_FDCT_BASIS @ b).reshape(8, 8).tolist()


def _encode_block(bw, dc_codes, ac_codes, blk, prev_dc: int) -> int:
    """FDCT + all-ones quantize + zigzag + Huffman-encode one 8x8 block;
    returns the new DC predictor for this component."""
    coef = _fdct2d(blk)
    q = [int(round(coef[i // 8][i % 8])) for i in range(64)]
    zz = [q[ZIGZAG[i]] for i in range(64)]
    diff = zz[0] - prev_dc
    cat = diff.bit_length() if diff else 0
    code, length = dc_codes[cat]
    bw.write(code, length)
    if cat:
        bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            if run == 16:
                code, length = ac_codes[0xF0]  # ZRL
                bw.write(code, length)
                run = 0
            continue
        size = abs(zz[i]).bit_length()
        code, length = ac_codes[(run << 4) | size]
        bw.write(code, length)
        v = zz[i]
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return zz[0]


def _encode_jpeg(
    width: int, height: int, comps, *, restart_interval: int = 0
) -> bytes:
    """Baseline JPEG with an all-ones quant table: markers, Annex-K
    Huffman tables (shared by every component), MCU-interleaved FDCT +
    zigzag + canonical Huffman entropy coding with byte stuffing, one DC
    predictor per component.  ``comps`` is a list of ``(h, v, planefn)``
    sampling factors + sample function IN THAT COMPONENT'S OWN
    RESOLUTION.  width/height must be multiples of the MCU size (8*Hmax
    x 8*Vmax) — no edge-replication leg, keeping oracles exact pixel
    formulas.

    ``restart_interval`` > 0 emits a DRI segment and, after every
    ``restart_interval`` MCUs (except the last), byte-aligns the scan
    and inserts RST0-7 cycling modulo 8, resetting every DC predictor —
    the T.81 restart discipline real-world encoders use for error
    resilience and parallel decode."""
    hmax = max(h for h, _, _ in comps)
    vmax = max(v for _, v, _ in comps)
    if width % (8 * hmax) or height % (8 * vmax):
        raise ValueError(
            f"encoder requires dimensions divisible by the MCU size "
            f"({8 * hmax}x{8 * vmax})"
        )
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bw = _BitWriter()
    preds = [0] * len(comps)
    n_mcus = (height // (8 * vmax)) * (width // (8 * hmax))
    mcu = 0
    for my in range(height // (8 * vmax)):
        for mx in range(width // (8 * hmax)):
            for ci, (ch, cv, fn) in enumerate(comps):
                for bv in range(cv):
                    for bu in range(ch):
                        ox, oy = 8 * (mx * ch + bu), 8 * (my * cv + bv)
                        blk = [
                            [float(fn(ox + x, oy + y) - 128) for x in range(8)]
                            for y in range(8)
                        ]
                        preds[ci] = _encode_block(bw, dc_codes, ac_codes, blk, preds[ci])
            mcu += 1
            if (
                restart_interval
                and mcu < n_mcus
                and mcu % restart_interval == 0
            ):
                bw.restart(mcu // restart_interval - 1)
                preds = [0] * len(comps)
    scan = bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))
    sof_comps = b"".join(
        bytes([ci + 1, (ch << 4) | cv, 0]) for ci, (ch, cv, _) in enumerate(comps)
    )
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, len(comps)) + sof_comps,
    )
    dht = seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)) + seg(
        0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    )
    sos_comps = b"".join(bytes([ci + 1, 0x00]) for ci in range(len(comps)))
    sos = seg(0xFFDA, bytes([len(comps)]) + sos_comps + bytes([0, 63, 0]))
    dri = (
        seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return b"\xff\xd8" + dqt + sof + dht + dri + sos + scan + b"\xff\xd9"


def encode_jpeg_gray(
    width: int, height: int, pixel, *, restart_interval: int = 0
) -> bytes:
    """Baseline grayscale JPEG ('lossless-for-DC' all-ones quant table);
    width/height must be multiples of 8."""
    return _encode_jpeg(
        width, height, [(1, 1, pixel)], restart_interval=restart_interval
    )


def encode_jpeg_ycbcr(
    width: int,
    height: int,
    yfn,
    cbfn,
    crfn,
    *,
    subsample: bool = True,
    restart_interval: int = 0,
) -> bytes:
    """Baseline color JPEG straight from YCbCr plane functions (no RGB
    source needed — the query defines the planes directly).  With
    ``subsample`` the layout is real-world 4:2:0 (Y at 2x2, chroma at
    1x1 — chroma fns are called at HALF resolution; dims must be
    multiples of 16); otherwise 4:4:4 (dims multiples of 8)."""
    if subsample:
        return _encode_jpeg(
            width,
            height,
            [(2, 2, yfn), (1, 1, cbfn), (1, 1, crfn)],
            restart_interval=restart_interval,
        )
    return _encode_jpeg(
        width,
        height,
        [(1, 1, yfn), (1, 1, cbfn), (1, 1, crfn)],
        restart_interval=restart_interval,
    )


# -- decoder ---------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with FF00
    unstuffing.  Restart markers are consumed ONLY at byte-aligned
    interval boundaries via ``sync_restart`` — an FFxx marker
    encountered mid-symbol (inside ``bit``) is corruption and raises."""

    def __init__(self, data: bytes, start: int) -> None:
        self.data = data
        self.i = start
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if not self.nbits:
            if self.i >= len(self.data):
                raise ValueError("entropy segment exhausted mid-symbol")
            b = self.data[self.i]
            self.i += 1
            if b == 0xFF:
                if self.i >= len(self.data):
                    raise ValueError("dangling FF in entropy segment")
                m = self.data[self.i]
                if m == 0x00:
                    self.i += 1
                elif m == 0xD9:  # EOI reached while padding bits remain
                    self.i -= 1
                    b = 0xFF  # padding read; caller stops at EOI
                else:
                    raise ValueError(f"unexpected marker FF{m:02X} in scan")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self, n: int) -> None:
        """Consume the RSTn marker closing a restart interval: discard
        the current byte's remaining bits (the encoder's 1-padding —
        its FF00 stuffing, if any, was already skipped when the byte
        loaded), then require exactly FF D(n mod 8) next (T.81 E.2.4:
        the 3-bit counter must cycle in order — a skipped or repeated
        index means a lost interval)."""
        self.nbits = 0
        if self.i + 2 > len(self.data):
            raise ValueError("truncated restart marker")
        want = 0xD0 + (n & 7)
        got = self.data[self.i : self.i + 2]
        if got[0] != 0xFF or got[1] != want:
            raise ValueError(
                f"expected restart marker FF{want:02X}, "
                f"got {got[0]:02X}{got[1]:02X}"
            )
        self.i += 2


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: recover the signed value from size bits."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _huff_decode(br: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | br.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in scan")


# IDCT as one 64x64 basis matmul: row p = pixel (y*8+x), column c =
# coefficient (v*8+u).  numpy does the 4096 multiply-adds in C; for the
# DC-only blocks the oracle depends on, the single product
# B[p,0]*coef[0] rounds to the exact constant (error ~1e-13 vs the 0.5
# round margin), same as the scalar triple loop it replaces.
_IDCT_BASIS = np.array(
    [
        [
            0.25 * _C[u] * _C[v] * _COS[x][u] * _COS[y][v]
            for v in range(8)
            for u in range(8)
        ]
        for y in range(8)
        for x in range(8)
    ]
)


def _idct2d(coef: list[int]) -> list[int]:
    s = _IDCT_BASIS @ np.asarray(coef, dtype=np.float64)
    return list(
        np.clip(np.rint(s).astype(np.int64) + 128, 0, 255)
    )


def _parse_jpeg(payload: bytes) -> dict:
    """Shared baseline-JPEG parser: marker walk, DQT/DHT parse, SOF0
    geometry (1 or 3 components; sampling all-1x1, or chroma-subsampled
    with Y at 2x2 / 2x1 / 1x2 / 4x1 — 4:2:0, 4:2:2, 4:4:0, 4:1:1 — and
    chroma at 1x1), MCU-interleaved canonical Huffman
    entropy decode with FF00 unstuffing, one DC predictor PER COMPONENT
    (T.81 F.2.1.3.1), zigzag dequantize, float IDCT, level shift +
    clamp, and DRI/RST0-7 restart intervals (byte-aligned marker
    consumption, cyclic-index verification, per-interval DC predictor
    reset — T.81 E.2.4).  Returns each component plane at its NATURAL
    resolution.  Raises ValueError on malformed or out-of-surface input
    (progressive, arithmetic coding, 16-bit tables, partial MCUs, other
    sampling layouts)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    dims: tuple[int, int] | None = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, h, v, tq)
    scan_tabs: dict[int, tuple[int, int]] = {}  # cid -> (dc table, ac table)
    restart_interval = 0
    while i + 4 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at offset {i}")
        marker = payload[i + 1]
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
        data = payload[i + 4 : i + 2 + seg_len]
        if len(data) != seg_len - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(data):
                pq, tq = data[j] >> 4, data[j] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables not supported")
                qtables[tq] = list(data[j + 1 : j + 65])
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(data):
                tc, th = data[j] >> 4, data[j] & 0xF
                bits = list(data[j + 1 : j + 17])
                n = sum(bits)
                vals = list(data[j + 17 : j + 17 + n])
                htables[(tc, th)] = _decode_map(bits, vals)
                j += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, ncomp = struct.unpack(">BHHB", data[:6])
            if prec != 8:
                raise ValueError(f"unsupported sample precision {prec}")
            if ncomp not in (1, 3):
                raise ValueError(f"{ncomp}-component images not supported")
            if len(data) < 6 + 3 * ncomp:
                raise ValueError("truncated SOF segment")
            for c in range(ncomp):
                cid, samp, tq = data[6 + 3 * c : 9 + 3 * c]
                if not (1 <= samp >> 4 <= 4 and 1 <= samp & 0xF <= 4):
                    raise ValueError(
                        f"invalid sampling factors {samp >> 4}x{samp & 0xF}"
                    )
                comps.append((cid, samp >> 4, samp & 0xF, tq))
            samps = [(h_, v_) for _, h_, v_, _ in comps]
            # grayscale 1x1; or 3 components with chroma at 1x1 and Y at
            # any of the real-world factors: 4:4:4 (1x1), 4:2:0 (2x2),
            # 4:2:2 (2x1), 4:4:0 (1x2), 4:1:1 (4x1).  The MCU walk and
            # the replication upsample are generic in (h, v), so the
            # gate only excludes layouts with subsampled NON-chroma
            # components or chroma factors > 1 (never emitted by real
            # encoders; would need fractional upsampling ratios).
            if not (
                all(s == (1, 1) for s in samps)
                or (
                    len(samps) == 3
                    and samps[1] == (1, 1)
                    and samps[2] == (1, 1)
                    and samps[0] in ((2, 2), (2, 1), (1, 2), (4, 1))
                )
            ):
                raise ValueError(
                    "subsampling not supported (only 1x1 everywhere, or "
                    "3-component with chroma 1x1 and Y in "
                    "2x2/2x1/1x2/4x1)"
                )
            dims = (w, h)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(f"non-baseline SOF FF{marker:02X} not supported")
        elif marker == 0xDD:  # DRI: restart interval in MCUs (0 = none)
            restart_interval = struct.unpack(">H", data[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if dims is None:
                raise ValueError("SOS before SOF")
            if data[0] != len(comps):
                raise ValueError("scan must cover every frame component")
            for c in range(data[0]):
                cid, tabs = data[1 + 2 * c : 3 + 2 * c]
                scan_tabs[cid] = (tabs >> 4, tabs & 0xF)
            if [data[1 + 2 * c] for c in range(data[0])] != [c[0] for c in comps]:
                raise ValueError("scan component order must match the frame")
            i = i + 2 + seg_len
            break
        i += 2 + seg_len
    else:
        raise ValueError("no SOS marker found")
    width, height = dims
    hmax = max(h_ for _, h_, _, _ in comps)
    vmax = max(v_ for _, _, v_, _ in comps)
    if width % (8 * hmax) or height % (8 * vmax):
        raise ValueError(
            f"partial MCUs not supported (dims must be {8 * hmax}x"
            f"{8 * vmax}-aligned)"
        )
    plane_dims = [
        (width * h_ // hmax, height * v_ // vmax) for _, h_, v_, _ in comps
    ]
    planes = [bytearray(pw * ph) for pw, ph in plane_dims]
    tabs = []
    for cid, _, _, tq in comps:
        q = qtables.get(tq)
        dc = htables.get((0, scan_tabs[cid][0]))
        ac = htables.get((1, scan_tabs[cid][1]))
        if q is None or dc is None or ac is None:
            raise ValueError("missing quantization or Huffman table")
        tabs.append((q, dc, ac))
    br = _BitReader(payload, i)
    preds = [0] * len(comps)
    mcu = 0
    for my in range(height // (8 * vmax)):
        for mx in range(width // (8 * hmax)):
            if (
                restart_interval
                and mcu
                and mcu % restart_interval == 0
            ):
                br.sync_restart(mcu // restart_interval - 1)
                preds = [0] * len(comps)
            mcu += 1
            for ci, (_, ch, cv, _) in enumerate(comps):
                q, dc, ac = tabs[ci]
                pw = plane_dims[ci][0]
                for bv in range(cv):
                    for bu in range(ch):
                        coef = [0] * 64
                        cat = _huff_decode(br, dc)
                        diff = _extend(br.bits(cat), cat) if cat else 0
                        preds[ci] += diff
                        coef[0] = preds[ci] * q[0]
                        k = 1
                        while k < 64:
                            sym = _huff_decode(br, ac)
                            if sym == 0x00:  # EOB
                                break
                            run, size = sym >> 4, sym & 0xF
                            if size == 0:
                                if run != 15:
                                    raise ValueError(
                                        f"invalid AC symbol {sym:02X}"
                                    )
                                k += 16  # ZRL
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC run overflows block")
                            coef[ZIGZAG[k]] = _extend(br.bits(size), size) * q[k]
                            k += 1
                        blk = _idct2d(coef)
                        ox, oy = 8 * (mx * ch + bu), 8 * (my * cv + bv)
                        for y in range(8):
                            row0 = (oy + y) * pw + ox
                            planes[ci][row0 : row0 + 8] = bytes(
                                blk[y * 8 : y * 8 + 8]
                            )
    if payload[br.i : br.i + 2] != b"\xff\xd9":
        raise ValueError("missing EOI after scan")
    return {
        "width": width,
        "height": height,
        "planes": planes,
        "plane_dims": plane_dims,
        "samplings": [(h_, v_) for _, h_, v_, _ in comps],
    }


def _gray_stats(p: dict) -> dict:
    """Integer-exact pixel statistics of a parsed single-plane image —
    shared by the baseline and progressive (multimodal8) decode paths."""
    if len(p["planes"]) != 1:
        raise ValueError("color JPEG — use decode_jpeg_color")
    pixels = p["planes"][0]
    return {
        "width": p["width"],
        "height": p["height"],
        "n_px": len(pixels),
        "sum_px": sum(pixels),
        "min_px": min(pixels),
        "max_px": max(pixels),
    }


def decode_jpeg_gray(payload: bytes) -> dict:
    """REAL baseline-JPEG decoder, grayscale surface: see ``_parse_jpeg``
    for the shared path.  Returns dimensions plus integer-exact
    statistics of the reconstructed pixels."""
    return _gray_stats(_parse_jpeg(payload))


# libjpeg-convention fixed-point YCbCr->RGB (JFIF inverse, x65536,
# floor-shifted with +0.5 rounding bias) — INTEGER-EXACT, so a SQL
# oracle can recompute decoded RGB bit-for-bit (a float 1.402*(Cr-128)
# would be engine-rounding territory).  Same literals appear in the
# mm_decode_jpeg_color_stats oracle; change together.
_FIX_RV = 91881  # round(1.402    * 65536)
_FIX_GU = 22554  # round(0.344136 * 65536)
_FIX_GV = 46802  # round(0.714136 * 65536)
_FIX_BU = 116130  # round(1.772   * 65536)


def _color_stats(p: dict) -> dict:
    """Integer-exact RGB statistics of a parsed 3-plane image (box
    chroma upsample + fixed-point YCbCr->RGB) — shared by the baseline
    and progressive (multimodal8) decode paths."""
    if len(p["planes"]) != 3:
        raise ValueError("grayscale JPEG — use decode_jpeg_gray")
    width, height = p["width"], p["height"]
    (ysh, ysv) = p["samplings"][0]
    (cbw, cbh) = p["plane_dims"][1]
    # vectorized upsample + conversion: numpy int64 ops are exact and
    # its arithmetic right shift floors, matching the scalar `>>` path
    yp = np.frombuffer(bytes(p["planes"][0]), np.uint8).astype(np.int64)
    yp = yp.reshape(height, width)
    cbp = np.frombuffer(bytes(p["planes"][1]), np.uint8).astype(np.int64)
    crp = np.frombuffer(bytes(p["planes"][2]), np.uint8).astype(np.int64)
    # chroma coordinate = luma coordinate scaled by sampling ratio
    cb = np.repeat(np.repeat(cbp.reshape(cbh, cbw), ysv, 0), ysh, 1) - 128
    cr = np.repeat(np.repeat(crp.reshape(cbh, cbw), ysv, 0), ysh, 1) - 128
    r = np.clip(yp + ((_FIX_RV * cr + 32768) >> 16), 0, 255)
    g = np.clip(yp - ((_FIX_GU * cb + _FIX_GV * cr + 32768) >> 16), 0, 255)
    b = np.clip(yp + ((_FIX_BU * cb + 32768) >> 16), 0, 255)
    return {
        "width": width,
        "height": height,
        "n_px": width * height,
        "sum_r": int(r.sum()),
        "sum_g": int(g.sum()),
        "sum_b": int(b.sum()),
        "min_rgb": int(min(r.min(), g.min(), b.min())),
        "max_rgb": int(max(r.max(), g.max(), b.max())),
    }


def decode_jpeg_color(payload: bytes) -> dict:
    """REAL baseline color-JPEG decoder: the shared ``_parse_jpeg`` path
    (4:4:4 or real-world 4:2:0), chroma upsampled by replication (box),
    fixed-point integer YCbCr->RGB.  Returns dimensions plus
    integer-exact statistics of the reconstructed RGB raster."""
    return _color_stats(_parse_jpeg(payload))


# -- end-to-end query ------------------------------------------------------


def _block_val(doc_id: int, bx: int, by: int) -> int:
    return (doc_id * 11 + bx * 17 + by * 29) % 256


def _jpeg_payload(d: int) -> bytes:
    w, h = 8 * (2 + d % 3), 8 * (2 + d % 2)
    # a third of the corpus carries DRI/RSTn restart markers (interval 1 or 2
    # MCUs — small enough to cycle RST0-7 past the modulo-8 wrap); decoded
    # pixels are restart-invariant, so the oracle is unchanged and a broken
    # restart path breaks the value hash
    return encode_jpeg_gray(
        w,
        h,
        lambda x, y: _block_val(d, x // 8, y // 8),
        restart_interval=d % 3,
    )


@query(
    "mm_decode_jpeg_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             8 * (2 + doc_id % 3) AS w,
             8 * (2 + doc_id % 2) AS h
      FROM documents),
    px AS (
      SELECT doc_id, w, h,
             (doc_id * 11
              + (((t.i - 1) % w) // 8) * 17
              + (((t.i - 1) // w) // 8) * 29) % 256 AS v
      FROM d, unnest(generate_series(1, CAST(w * h AS INT))) AS t(i))
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(v) AS BIGINT) AS sum_px,
           CAST(min(v) AS BIGINT) AS min_px,
           CAST(max(v) AS BIGINT) AS max_px,
           round(CAST(sum(v) AS BIGINT) * 1.0 / count(*), 6) AS mean_px
    FROM px GROUP BY 1, 2, 3
    """,
)
def mm_decode_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-format decode end-to-end: per document, encode a
    baseline grayscale JPEG whose pixels are constant per 8x8 block
    (block value from the integer formula ``_block_val``, all-ones
    quant table) in one Arrow-batched ``mapInPandas`` stage, decode it
    with ``decode_jpeg_gray`` — Huffman, DC prediction, dequantize,
    IDCT — in the next, and emit statistics of the reconstructed
    raster.  DC-only blocks make the lossy pipeline exactly invertible
    (see module docstring), so the DuckDB oracle recomputes every
    decoded pixel from the block formula and the hash only matches if
    the full entropy-decode path is byte-correct.

    Scale shape: identical to mm_decode_png_stats — two narrow
    mapInPandas stages, no shuffle, payloads never on the driver; at
    100 TB the encode stage is replaced by real image bytes from the
    lake."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _jpeg_payload)
    stats = decode_payloads(
        mm,
        decode_jpeg_gray,
        "width long, height long, n_px long, sum_px long, min_px long, "
        "max_px long",
    )
    return stats.withColumn(
        "mean_px", F.round(F.col("sum_px") * 1.0 / F.col("n_px"), 6)
    )


# Per-MCU YCbCr constants for the color query (pure-integer formulas the
# oracle mirrors; the chroma plane sees half-resolution coordinates under
# 4:2:0, so its MCU index there is x//8, y//8).
def _mcu_ycbcr(doc_id: int, mx: int, my: int) -> tuple[int, int, int]:
    return (
        (doc_id * 13 + mx * 23 + my * 41) % 256,
        (doc_id * 7 + mx * 19 + my * 31) % 256,
        (doc_id * 5 + mx * 29 + my * 37) % 256,
    )


def _jpeg_color_payload(d: int) -> bytes:
    w, h = 16 * (1 + d % 2), 16 * (1 + d % 3)
    # restart markers on a third of the corpus (see the grayscale twin):
    # interleaved-MCU restarts reset ALL three DC predictors, so a missed reset
    # is value-visible
    return encode_jpeg_ycbcr(
        w,
        h,
        lambda x, y: _mcu_ycbcr(d, x // 16, y // 16)[0],
        lambda x, y: _mcu_ycbcr(d, x // 8, y // 8)[1],
        lambda x, y: _mcu_ycbcr(d, x // 8, y // 8)[2],
        subsample=True,
        restart_interval=d % 3,
    )


@query(
    "mm_decode_jpeg_color_stats",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             16 * (1 + doc_id % 2) AS w,
             16 * (1 + doc_id % 3) AS h
      FROM documents),
    m AS (
      SELECT doc_id, w, h,
             (t.i - 1) % (w // 16) AS mx,
             (t.i - 1) // (w // 16) AS my
      FROM d, unnest(generate_series(1, CAST((w // 16) * (h // 16) AS INT)))
              AS t(i)),
    c AS (
      SELECT doc_id, w, h,
             (doc_id * 13 + mx * 23 + my * 41) % 256       AS yy,
             (doc_id * 7 + mx * 19 + my * 31) % 256 - 128  AS cb,
             (doc_id * 5 + mx * 29 + my * 37) % 256 - 128  AS cr
      FROM m),
    rgb AS (
      -- Python's >> floors; DuckDB's integer // truncates toward zero.
      -- Bias each numerator by +256*65536 (larger than any |negative|
      -- term here) so the division is on non-negative values, where the
      -- two agree, then subtract the bias.
      SELECT doc_id, w, h,
             greatest(0, least(255, yy +
               ((91881 * cr + 32768 + 16777216) // 65536 - 256))) AS r,
             greatest(0, least(255, yy -
               ((22554 * cb + 46802 * cr + 32768 + 16777216) // 65536
                - 256))) AS g,
             greatest(0, least(255, yy +
               ((116130 * cb + 32768 + 16777216) // 65536 - 256))) AS b
      FROM c)
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_px,
           CAST(256 * sum(r) AS BIGINT) AS sum_r,
           CAST(256 * sum(g) AS BIGINT) AS sum_g,
           CAST(256 * sum(b) AS BIGINT) AS sum_b,
           CAST(least(min(r), min(g), min(b)) AS BIGINT) AS min_rgb,
           CAST(greatest(max(r), max(g), max(b)) AS BIGINT) AS max_rgb,
           round(CAST(256 * (sum(r) + sum(g) + sum(b)) AS BIGINT) * 1.0
                 / (3 * w * h), 6) AS mean_rgb
    FROM rgb GROUP BY doc_id, w, h
    """,
)
def mm_decode_jpeg_color_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL color-JPEG decode end-to-end over the real-world 4:2:0
    layout: per document, encode a baseline YCbCr JPEG with constant
    16x16 MCUs (planes from the integer formulas in ``_mcu_ycbcr``,
    all-ones quant table) in one Arrow-batched ``mapInPandas`` stage,
    decode it with ``decode_jpeg_color`` — MCU-interleaved Huffman
    decode with per-component DC prediction, IDCT, box chroma
    upsampling, fixed-point integer YCbCr->RGB — in the next, and emit
    statistics of the reconstructed RGB raster.  DC-exact MCUs plus the
    integer conversion make every decoded RGB value an exact integer
    formula the DuckDB oracle recomputes (256 identical pixels per MCU,
    so sums are 256x the per-MCU values), including the G-channel's
    negative fixed-point floor-shifts — a wrong MCU block order,
    swapped chroma planes, mis-aligned upsample, or off-by-one in the
    conversion all break the hash.

    Scale shape: identical to mm_decode_jpeg_stats — two narrow
    mapInPandas stages, no shuffle, payloads never on the driver."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _jpeg_color_payload)
    stats = decode_payloads(
        mm,
        decode_jpeg_color,
        "width long, height long, n_px long, sum_r long, sum_g long, "
        "sum_b long, min_rgb long, max_rgb long",
    )
    return stats.withColumn(
        "mean_rgb",
        F.round(
            (F.col("sum_r") + F.col("sum_g") + F.col("sum_b")) * 1.0
            / (3 * F.col("n_px")),
            6,
        ),
    )
