"""REAL progressive JPEG (SOF2) codec — the last stubbed decode surface
from the round-5 multimodal suite.  Implements ITU-T T.81 Annex G
DCT-progressive mode from the public spec, pure Python/numpy:

- **decoder**: multi-scan marker walk (tables may arrive between
  scans), per-component coefficient accumulation across scans, DC
  first/refinement scans (interleaved MCU order, per-component
  predictors, point transform), AC first/refinement scans
  (single-component raster order, EOBRUN end-of-band runs, ZRL,
  successive-approximation correction bits), DRI/RST0-7 restart
  intervals (per-scan units: interleaved MCUs for DC scans, blocks for
  AC scans; predictor/EOB-run resets, cyclic-index verification),
  final dequantize + IDCT + level shift per component.
- **encoder** (exists to put the decoder under load, like the baseline
  twin in multimodal3.py): a real 4-phase scan script — DC first at
  Al=1, DC refinement, per-component AC first at a configurable Al,
  optional per-component AC refinement — producing spec-conformant
  streams that libjpeg-class decoders would accept.

Successive-approximation arithmetic follows the spec's two different
point transforms: DC uses an ARITHMETIC shift (floor — G.1.2.1), AC
shifts the MAGNITUDE (toward zero — G.1.2.2); the refinement decode
reconstructs DC exactly because ``((x >> 1) << 1) | (x & 1) == x`` in
two's complement, and moves AC magnitudes from ``m << Al`` toward their
true value one bit at a time (G.1.2.3).

Reference parity note: the reference engine (Go MapReduce labs,
/root/reference/src/mr/) has no image surface at all; this module
exists for the multimodal ingest parity goal (SURVEY.md §2 multimodal
family) and is implemented from the public T.81 spec only.

Scale shape: identical to mm_decode_jpeg_stats — two stateless
Arrow-batched mapInPandas stages, no shuffle, payloads never on the
driver.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from .multimodal3 import (
    ZIGZAG,
    _BitReader,
    _BitWriter,
    _DC_BITS,
    _DC_VALS,
    _block_val,
    _canonical_codes,
    _color_stats,
    _decode_map,
    _encode_jpeg,
    _extend,
    _fdct2d,
    _gray_stats,
    _huff_decode,
    _idct2d,
    _mcu_ycbcr,
    decode_jpeg_color,
)
from .payloads import decode_payloads, synth_payloads

# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------

# The baseline Annex-K AC table has no EOBn symbols (r<<4 for r>=1) —
# those exist only in progressive mode, where real encoders ship custom
# Huffman tables in the DHT.  Ours is the simplest spec-legal table: all
# 176 symbols the progressive AC scans can emit (EOB0-EOB14, ZRL, and
# (run,size) for size 1-10) as flat 8-bit canonical codes — 176 < 255
# leaves the all-ones code unused as T.81 C.2 requires.  Compression is
# not the point; exercising the decoder's full symbol space is.
_PROG_AC_VALS = sorted(
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_PROG_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_PROG_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]


def _coef_blocks(width: int, height: int, fn) -> list[list[list[int]]]:
    """FDCT + all-ones quantize every 8x8 block of one component plane;
    returns blocks[by][bx] as 64 ZIGZAG-ordered coefficients."""
    out = []
    for by in range(height // 8):
        row = []
        for bx in range(width // 8):
            blk = [
                [float(fn(bx * 8 + x, by * 8 + y) - 128) for x in range(8)]
                for y in range(8)
            ]
            c = _fdct2d(blk)
            q = [int(round(c[i // 8][i % 8])) for i in range(64)]
            row.append([q[ZIGZAG[i]] for i in range(64)])
        out.append(row)
    return out


def _emit_dc_first(
    bw, dc_codes, blocks_per_comp, mcus, al: int, ri: int = 0
) -> None:
    """DC first scan (Ss=Se=0, Ah=0): interleaved MCU order, diffs of
    the point-transformed DC (arithmetic shift — G.1.2.1); restart
    markers + predictor resets every ``ri`` MCUs."""
    preds = [0] * len(blocks_per_comp)
    for idx, mcu in enumerate(mcus):
        if ri and idx and idx % ri == 0:
            bw.restart(idx // ri - 1)
            preds = [0] * len(blocks_per_comp)
        for ci, by, bx in mcu:
            v = blocks_per_comp[ci][by][bx][0] >> al
            diff = v - preds[ci]
            preds[ci] = v
            cat = abs(diff).bit_length()
            code, length = dc_codes[cat]
            bw.write(code, length)
            if cat:
                bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)


def _emit_dc_refine(bw, blocks_per_comp, mcus, al: int, ri: int = 0) -> None:
    """DC refinement scan: one raw bit per block (no Huffman)."""
    for idx, mcu in enumerate(mcus):
        if ri and idx and idx % ri == 0:
            bw.restart(idx // ri - 1)
        for ci, by, bx in mcu:
            bw.write((blocks_per_comp[ci][by][bx][0] >> al) & 1, 1)


class _AcFirstEmitter:
    """AC first scan for ONE component (Ss=1..Se, Ah=0): runs + EOBRUN
    accumulated across blocks, magnitudes point-transformed toward zero
    (G.1.2.2)."""

    def __init__(self, bw, ac_codes, al: int, ss: int = 1, se: int = 63) -> None:
        self.bw, self.ac, self.al, self.eobrun = bw, ac_codes, al, 0
        self.ss, self.se = ss, se

    def _flush_eob(self) -> None:
        if self.eobrun:
            nbits = self.eobrun.bit_length() - 1
            code, length = self.ac[nbits << 4]
            self.bw.write(code, length)
            if nbits:
                self.bw.write(self.eobrun - (1 << nbits), nbits)
            self.eobrun = 0

    def block(self, coefs: list[int]) -> None:
        vals = [
            (abs(c) >> self.al) * (1 if c >= 0 else -1) for c in coefs
        ]
        last = max(
            (k for k in range(self.ss, self.se + 1) if vals[k]),
            default=self.ss - 1,
        )
        if last < self.ss:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self._flush_eob()
            return
        self._flush_eob()
        run = 0
        for k in range(self.ss, last + 1):
            v = vals[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = self.ac[0xF0]
                self.bw.write(code, length)
                run -= 16
            size = abs(v).bit_length()
            code, length = self.ac[(run << 4) | size]
            self.bw.write(code, length)
            self.bw.write(v if v > 0 else v + (1 << size) - 1, size)
            run = 0
        if last < self.se:
            self.eobrun = 1

    def done(self) -> None:
        self._flush_eob()


class _AcRefineEmitter:
    """AC refinement scan for ONE component (Ah=Al+1 -> Al, G.1.2.3):
    newly visible +-1 coefficients plus correction bits for
    history-nonzero positions.  Two correction buffers, per the spec's
    emission discipline: ``be`` holds bits attached to the PENDING
    end-of-band run (emitted right after the EOB symbol — the decoder
    reads them while walking the run blocks' nonzero positions), ``br``
    holds the current block's bits since the last emitted symbol
    (emitted right after each ZRL/coefficient symbol — the decoder
    reads them during that symbol's advance walk).  The ZRL loop's
    ``k <= eob`` guard folds trailing zero runs into the EOB run
    instead."""

    def __init__(self, bw, ac_codes, al: int, ss: int = 1, se: int = 63) -> None:
        self.bw, self.ac, self.al = bw, ac_codes, al
        self.ss, self.se = ss, se
        self.eobrun = 0
        self.be: list[int] = []  # bits riding with the pending EOB run

    def _sym(self, sym: int, extra: tuple[int, int] | None = None) -> None:
        code, length = self.ac[sym]
        self.bw.write(code, length)
        if extra is not None:
            self.bw.write(*extra)

    def _bits(self, bits: list[int]) -> None:
        for b in bits:
            self.bw.write(b, 1)

    def _flush_eob(self) -> None:
        if self.eobrun:
            nbits = self.eobrun.bit_length() - 1
            self._sym(
                nbits << 4,
                (self.eobrun - (1 << nbits), nbits) if nbits else None,
            )
            self._bits(self.be)
            self.be = []
            self.eobrun = 0

    def block(self, coefs: list[int]) -> None:
        al = self.al
        absv = [abs(c) >> al for c in coefs]
        eob = max(
            (k for k in range(self.ss, self.se + 1) if absv[k] == 1),
            default=0,
        )
        r = 0
        br: list[int] = []
        for k in range(self.ss, self.se + 1):
            temp = absv[k]
            if temp == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                self._flush_eob()
                self._sym(0xF0)
                r -= 16
                self._bits(br)
                br = []
            if temp > 1:  # history-nonzero: one correction bit
                br.append(temp & 1)
                continue
            # newly visible at this bit position
            self._flush_eob()
            self._sym((r << 4) | 1, (1 if coefs[k] >= 0 else 0, 1))
            self._bits(br)
            br = []
            r = 0
        if r > 0 or br:
            self.eobrun += 1
            self.be.extend(br)
            if self.eobrun == 0x7FFF:
                self._flush_eob()

    def done(self) -> None:
        self._flush_eob()


def encode_jpeg_progressive(
    width: int, height: int, comps, *, ac_al: int = 0,
    restart_interval: int = 0,
    ac_bands: list[tuple[int, int]] | None = None,
) -> bytes:
    """Progressive (SOF2) JPEG with an all-ones quant table and the
    standard Annex-K Huffman tables.  ``comps`` as in the baseline
    encoder: ``(h, v, planefn)`` per component, plane fns in their OWN
    resolution; dims must be MCU-aligned.  Scan script: DC first
    (Al=1) -> DC refinement -> per-component AC first (Al=``ac_al``)
    -> per-component AC refinement for each bit down to 0 when
    ``ac_al`` > 0.  ``ac_bands`` splits the AC spectrum into multiple
    spectral-selection bands (default ``[(1, 63)]``), each its own
    scan per component — the libjpeg-style script sends (1, 5) before
    (6, 63) so low frequencies render first; bands must be disjoint,
    in order, and cover 1..63.  ``restart_interval`` > 0 emits a DRI
    segment and
    per-scan RSTn markers every that many restart units (interleaved
    MCUs in the DC scans, single blocks in the non-interleaved AC
    scans), resetting DC predictors / flushing EOB runs at each
    boundary — the marker index cycle starts at RST0 in EVERY scan."""
    hmax = max(h for h, _, _ in comps)
    vmax = max(v for _, v, _ in comps)
    if width % (8 * hmax) or height % (8 * vmax):
        raise ValueError(
            f"encoder requires dimensions divisible by the MCU size "
            f"({8 * hmax}x{8 * vmax})"
        )
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_PROG_AC_BITS, _PROG_AC_VALS)
    blocks = []
    for ch, cv, fn in comps:
        pw, ph = width * ch // hmax, height * cv // vmax
        blocks.append(_coef_blocks(pw, ph, fn))
    # interleaved MCU order (grouped per restart unit) for the DC scans
    mcus: list[list[tuple[int, int, int]]] = []
    for my in range(height // (8 * vmax)):
        for mx in range(width // (8 * hmax)):
            mcu = []
            for ci, (ch, cv, _) in enumerate(comps):
                for bv in range(cv):
                    for bu in range(ch):
                        mcu.append((ci, my * cv + bv, mx * ch + bu))
            mcus.append(mcu)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    def sos(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])  # DC/AC table 0 for every scan
        return seg(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))

    ri = restart_interval
    bands = list(ac_bands) if ac_bands else [(1, 63)]
    flat_bands = [k for lo, hi in bands for k in range(lo, hi + 1)]
    if flat_bands != list(range(1, 64)):
        raise ValueError(
            "ac_bands must be disjoint, ordered, and cover 1..63"
        )

    def ac_scan(emitter_cls, ci: int, al: int, ss: int, se: int) -> bytes:
        bw = _BitWriter()
        em = emitter_cls(bw, ac_codes, al, ss, se)
        flat = [blk for row in blocks[ci] for blk in row]
        for idx, blk in enumerate(flat):
            if ri and idx and idx % ri == 0:
                em.done()  # EOB runs cannot cross a restart boundary
                bw.restart(idx // ri - 1)
            em.block(blk)
        em.done()
        return bw.flush()

    scans = []
    # DC first + refine, interleaved over all components
    bw = _BitWriter()
    _emit_dc_first(bw, dc_codes, blocks, mcus, 1, ri)
    scans.append(sos(list(range(1, len(comps) + 1)), 0, 0, 0, 1) + bw.flush())
    bw = _BitWriter()
    _emit_dc_refine(bw, blocks, mcus, 0, ri)
    scans.append(sos(list(range(1, len(comps) + 1)), 0, 0, 1, 0) + bw.flush())
    # AC: per band, one first scan per component at ac_al, then
    # refinements to 0 (low-frequency bands first, libjpeg-style)
    for lo, hi in bands:
        for ci in range(len(comps)):
            scans.append(
                sos([ci + 1], lo, hi, 0, ac_al)
                + ac_scan(_AcFirstEmitter, ci, ac_al, lo, hi)
            )
    for al in range(ac_al - 1, -1, -1):
        for lo, hi in bands:
            for ci in range(len(comps)):
                scans.append(
                    sos([ci + 1], lo, hi, al + 1, al)
                    + ac_scan(_AcRefineEmitter, ci, al, lo, hi)
                )

    dqt = seg(0xFFDB, bytes([0x00]) + bytes([1] * 64))
    sof_comps = b"".join(
        bytes([ci + 1, (ch << 4) | cv, 0])
        for ci, (ch, cv, _) in enumerate(comps)
    )
    sof = seg(
        0xFFC2,
        struct.pack(">BHHB", 8, height, width, len(comps)) + sof_comps,
    )
    dht = seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)) + seg(
        0xFFC4, bytes([0x10]) + bytes(_PROG_AC_BITS) + bytes(_PROG_AC_VALS)
    )
    dri = seg(0xFFDD, struct.pack(">H", ri)) if ri else b""
    return b"\xff\xd8" + dqt + sof + dht + dri + b"".join(scans) + b"\xff\xd9"


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------


def _entropy_end(payload: bytes, start: int) -> int:
    """Index of the first real marker (not FF00 stuffing, not RSTn)
    after ``start`` — the end of one scan's entropy-coded segment."""
    i = start
    n = len(payload)
    while i + 1 < n:
        if payload[i] == 0xFF and payload[i + 1] not in range(0xD0, 0xD8):
            if payload[i + 1] != 0x00:
                return i
            i += 2
        else:
            i += 1
    raise ValueError("entropy segment runs past end of payload")


def _decode_dc_scan(
    br, coef, mcus, dc_tabs, ah: int, al: int, ri: int = 0
) -> None:
    """``mcus``: restart units — each a list of (ci, by, bx) blocks (an
    interleaved MCU, or a single block in a non-interleaved scan).
    Every ``ri`` units the scan byte-aligns on RSTn and resets every DC
    predictor (T.81 E.2.4 applies per scan in progressive mode)."""
    preds = [0] * len(dc_tabs)
    for idx, mcu in enumerate(mcus):
        if ri and idx and idx % ri == 0:
            br.sync_restart(idx // ri - 1)
            preds = [0] * len(dc_tabs)
        for ci, by, bx in mcu:
            if ah == 0:  # first scan: Huffman-coded diffs of DC >> Al
                cat = _huff_decode(br, dc_tabs[ci])
                diff = _extend(br.bits(cat), cat) if cat else 0
                preds[ci] += diff
                coef[ci][by][bx][0] = preds[ci] << al
            elif br.bit():  # refinement: one raw bit per block
                coef[ci][by][bx][0] |= 1 << al


def _decode_ac_first(br, blocks, ac_tab, ss, se, al, ri: int = 0) -> None:
    eobrun = 0
    for idx, blk in enumerate(blocks):
        if ri and idx and idx % ri == 0:
            if eobrun:
                raise ValueError("EOB run crosses a restart boundary")
            br.sync_restart(idx // ri - 1)
        if eobrun:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            rs = _huff_decode(br, ac_tab)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:
                    k += 16  # ZRL
                    continue
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.bits(r)
                break
            k += r
            if k > se:
                raise ValueError("AC run overflows band")
            blk[k] = _extend(br.bits(s), s) << al
            k += 1


def _decode_ac_refine(br, blocks, ac_tab, ss, se, al, ri: int = 0) -> None:
    """G.2: refine history-nonzero coefficients by one bit and place
    newly visible +-(1<<Al) ones; EOBRUN covers whole blocks whose
    remaining coefficients only need correction bits."""
    p1, m1 = 1 << al, -1 << al
    eobrun = 0

    def correct(blk, k) -> None:
        if br.bit() and (blk[k] & p1) == 0:
            blk[k] += p1 if blk[k] > 0 else m1

    for idx, blk in enumerate(blocks):
        if ri and idx and idx % ri == 0:
            if eobrun:
                raise ValueError("EOB run crosses a restart boundary")
            br.sync_restart(idx // ri - 1)
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _huff_decode(br, ac_tab)
                r, s = rs >> 4, rs & 0xF
                newval = 0
                if s == 0:
                    if r != 15:
                        # FULL count here (unlike the first-scan path):
                        # the breaking block still owes its tail-
                        # correction walk, which decrements below
                        eobrun = 1 << r
                        if r:
                            eobrun += br.bits(r)
                        break
                    # ZRL: 16 zero-history positions with corrections
                elif s == 1:
                    newval = p1 if br.bit() else m1
                else:
                    raise ValueError(
                        f"invalid refinement symbol {rs:02X} (s must be 0/1)"
                    )
                while k <= se:
                    if blk[k] != 0:
                        correct(blk, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("refinement run overflows band")
                    blk[k] = newval
                k += 1
        if eobrun:
            while k <= se:
                if blk[k] != 0:
                    correct(blk, k)
                k += 1
            eobrun -= 1


def decode_jpeg_progressive(payload: bytes) -> dict:
    """REAL progressive-JPEG decoder: see the module docstring for the
    scan coverage.  Returns the same parsed dict as multimodal3's
    ``_parse_jpeg`` (planes at natural resolution).  Raises ValueError
    on malformed or out-of-surface input (baseline SOF0 — use
    ``decode_jpeg_gray``/``decode_jpeg_color`` —, arithmetic coding,
    partial MCUs, EOB runs crossing a restart boundary)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    dims: tuple[int, int] | None = None
    comps: list[tuple[int, int, int, int]] = []  # (cid, h, v, tq)
    coef: list[list[list[list[int]]]] = []  # [ci][by][bx][64]
    block_dims: list[tuple[int, int]] = []
    got_scan = False
    restart_interval = 0
    while i + 2 <= len(payload):
        if payload[i] != 0xFF:
            raise ValueError(f"expected marker at offset {i}")
        marker = payload[i + 1]
        if marker == 0xD9:
            break
        if i + 4 > len(payload):
            raise ValueError("truncated marker segment")
        seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
        if marker != 0xDA and i + 2 + seg_len > len(payload):
            raise ValueError(
                f"truncated marker segment 0xFF{marker:02X} at offset {i}"
            )
        data = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            j = 0
            while j < len(data):
                pq, tq = data[j] >> 4, data[j] & 0xF
                if pq:
                    raise ValueError("16-bit quant tables not supported")
                qtables[tq] = list(data[j + 1 : j + 65])
                j += 65
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(data):
                tc, th = data[j] >> 4, data[j] & 0xF
                bits = list(data[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(data[j + 17 : j + 17 + nv])
                htables[(tc, th)] = _decode_map(bits, vals)
                j += 17 + nv
        elif marker == 0xC2:  # SOF2 progressive
            if data[0] != 8:
                raise ValueError("only 8-bit precision supported")
            h, w, nf = struct.unpack(">HHB", data[1:6])
            if len(data) < 6 + 3 * nf:
                raise ValueError("truncated SOF2 segment")
            for c in range(nf):
                cid, hv, tq = data[6 + 3 * c : 9 + 3 * c]
                if not (1 <= hv >> 4 <= 4 and 1 <= hv & 0xF <= 4):
                    raise ValueError(
                        f"invalid sampling factors {hv >> 4}x{hv & 0xF}"
                    )
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            dims = (w, h)
            hmax = max(h_ for _, h_, _, _ in comps)
            vmax = max(v_ for _, _, v_, _ in comps)
            if w % (8 * hmax) or h % (8 * vmax):
                raise ValueError(
                    f"partial MCUs not supported (dims must be "
                    f"{8 * hmax}x{8 * vmax}-aligned)"
                )
            for _, ch, cv, _ in comps:
                bw_, bh_ = w * ch // hmax // 8, h * cv // vmax // 8
                block_dims.append((bw_, bh_))
                coef.append(
                    [[[0] * 64 for _ in range(bw_)] for _ in range(bh_)]
                )
        elif marker == 0xC0 or marker in (
            0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
        ):
            raise ValueError(
                f"SOF FF{marker:02X} is not progressive — use the "
                f"baseline decoder" if marker in (0xC0, 0xC1)
                else f"SOF FF{marker:02X} not supported"
            )
        elif marker == 0xDD:  # DRI: restart interval in scan units
            restart_interval = struct.unpack(">H", data[:2])[0]
        elif marker == 0xDA:  # one scan
            if dims is None:
                raise ValueError("SOS before SOF")
            if len(data) < seg_len - 2 or not data:
                raise ValueError("truncated SOS header")
            ns = data[0]
            if len(data) < 1 + 2 * ns + 3:
                raise ValueError("truncated SOS header")
            scan_comps = []  # (component index, dc table, ac table)
            for c in range(ns):
                cid, tabs = data[1 + 2 * c : 3 + 2 * c]
                ci = next(
                    (j for j, cc in enumerate(comps) if cc[0] == cid), None
                )
                if ci is None:
                    raise ValueError(f"scan references unknown component {cid}")
                scan_comps.append((ci, tabs >> 4, tabs & 0xF))
            ss, se, ahal = data[1 + 2 * ns : 4 + 2 * ns]
            if not (ss <= se <= 63):
                raise ValueError(f"invalid spectral band Ss={ss} Se={se}")
            ah, al = ahal >> 4, ahal & 0xF
            data_start = i + 2 + seg_len
            data_end = _entropy_end(payload, data_start)
            br = _BitReader(payload[:data_end], data_start)
            if ss == 0:  # DC scan (interleaved or single-component)
                if se != 0:
                    raise ValueError("DC scan must have Se=0 (G.1.1.1)")
                hmax = max(h_ for _, h_, _, _ in comps)
                vmax = max(v_ for _, _, v_, _ in comps)
                # restart units: interleaved MCUs, or single blocks in
                # a non-interleaved scan (T.81 E.2.4 / G.1)
                mcus = []
                if ns == 1:
                    ci = scan_comps[0][0]
                    bw_, bh_ = block_dims[ci]
                    mcus = [
                        [(ci, by, bx)]
                        for by in range(bh_)
                        for bx in range(bw_)
                    ]
                else:
                    for my in range(dims[1] // (8 * vmax)):
                        for mx in range(dims[0] // (8 * hmax)):
                            mcu = []
                            for ci, _, _ in scan_comps:
                                _, ch, cv, _ = comps[ci]
                                for bv in range(cv):
                                    for bu in range(ch):
                                        mcu.append(
                                            (ci, my * cv + bv, mx * ch + bu)
                                        )
                            mcus.append(mcu)
                if ah == 0:
                    dc_tabs = []
                    for ci, td, _ in scan_comps:
                        t = htables.get((0, td))
                        if t is None:
                            raise ValueError("missing DC Huffman table")
                        dc_tabs.append(t)
                    # remap: order's ci indexes comps; dc table per comp
                    tab_by_ci = {
                        ci: dc_tabs[j]
                        for j, (ci, _, _) in enumerate(scan_comps)
                    }
                    _decode_dc_scan(
                        br,
                        coef,
                        mcus,
                        [
                            tab_by_ci.get(ci, dc_tabs[0])
                            for ci in range(len(comps))
                        ],
                        ah,
                        al,
                        restart_interval,
                    )
                else:
                    _decode_dc_scan(
                        br, coef, mcus, [None] * len(comps), ah, al,
                        restart_interval,
                    )
            else:  # AC scan: exactly one component (G.1.1.1.1)
                if ns != 1:
                    raise ValueError("AC scans must be single-component")
                ci, _, ta = scan_comps[0]
                t = htables.get((1, ta))
                if t is None:
                    raise ValueError("missing AC Huffman table")
                bw_, bh_ = block_dims[ci]
                blocks = [
                    coef[ci][by][bx] for by in range(bh_) for bx in range(bw_)
                ]
                if ah == 0:
                    _decode_ac_first(br, blocks, t, ss, se, al, restart_interval)
                else:
                    _decode_ac_refine(br, blocks, t, ss, se, al, restart_interval)
            got_scan = True
            i = data_end
            continue
        elif marker in range(0xD0, 0xD8):
            raise ValueError("restart marker outside a scan")
        i += 2 + seg_len
    else:
        raise ValueError("missing EOI")
    if not got_scan or dims is None:
        raise ValueError("no scan decoded")
    # dequantize + IDCT + assemble planes at natural resolution
    planes = []
    plane_dims = []
    for ci, (_, ch, cv, tq) in enumerate(comps):
        q = qtables.get(tq)
        if q is None:
            raise ValueError("missing quantization table")
        bw_, bh_ = block_dims[ci]
        pw, ph = bw_ * 8, bh_ * 8
        plane = bytearray(pw * ph)
        for by in range(bh_):
            for bx in range(bw_):
                zz = coef[ci][by][bx]
                nat = [0] * 64
                for k in range(64):
                    nat[ZIGZAG[k]] = zz[k] * q[k]
                blk = _idct2d(nat)
                for y in range(8):
                    row0 = (by * 8 + y) * pw + bx * 8
                    plane[row0 : row0 + 8] = bytes(blk[y * 8 : y * 8 + 8])
        planes.append(plane)
        plane_dims.append((pw, ph))
    return {
        "width": dims[0],
        "height": dims[1],
        "planes": planes,
        "plane_dims": plane_dims,
        "samplings": [(h_, v_) for _, h_, v_, _ in comps],
    }


def decode_jpeg_progressive_gray(payload: bytes) -> dict:
    """Grayscale stats surface over the progressive decode (same output
    contract as multimodal3.decode_jpeg_gray)."""
    return _gray_stats(decode_jpeg_progressive(payload))


def decode_jpeg_progressive_color(payload: bytes) -> dict:
    """RGB stats surface over the progressive decode (same output
    contract as multimodal3.decode_jpeg_color)."""
    return _color_stats(decode_jpeg_progressive(payload))


# --------------------------------------------------------------------------
# end-to-end query
# --------------------------------------------------------------------------


def _progressive_payload(d: int) -> bytes:
    w, h = 8 * (2 + d % 3), 8 * (2 + d % 2)
    # a third of the corpus carries DRI/RSTn (interval 1-2 units, cycling past
    # RST7 in every scan) — decoded pixels are restart-invariant, so the oracle
    # is unchanged and a broken per-scan restart path breaks the value hash
    return encode_jpeg_progressive(
        w,
        h,
        [(1, 1, lambda x, y: _block_val(d, x // 8, y // 8))],
        ac_al=1,
        restart_interval=d % 3,
    )


def progressive_stats_pipeline(docs: DataFrame) -> DataFrame:
    """The two stateless mapInPandas stages shared by the batch query
    and its Structured Streaming twin (streaming/decode.py): encode the
    planted SOF2 stream per doc_id, decode it scan-by-scan, emit pixel
    stats.  Stateless => runs unchanged per micro-batch."""
    mm = synth_payloads(docs, _progressive_payload)
    stats = decode_payloads(
        mm,
        decode_jpeg_progressive_gray,
        "width long, height long, n_px long, sum_px long, min_px long, "
        "max_px long",
    )
    return stats.withColumn(
        "mean_px", F.round(F.col("sum_px") * 1.0 / F.col("n_px"), 6)
    )


@query(
    "mm_decode_jpeg_progressive_stats",
    # Identical pixel oracle to mm_decode_jpeg_stats: progressive vs
    # baseline is pure FRAMING of the same DC-exact coefficients, so the
    # reconstruction formula — and therefore the SQL — is unchanged; the
    # hash only matches if the multi-scan successive-approximation path
    # reassembles every coefficient bit-exactly.
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
           round(sum(v) * 1.0 / count(*), 6) AS mean_px
    FROM px GROUP BY doc_id, w, h
    """,
)
def mm_decode_jpeg_progressive_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL progressive-JPEG decode end-to-end: per document, encode an
    SOF2 stream of the SAME planted raster as mm_decode_jpeg_stats
    (constant 8x8 blocks, all-ones quant) with the 4-phase scan script —
    DC first at Al=1, DC refinement, AC first at Al=1, AC refinement —
    in one Arrow-batched mapInPandas stage, then reassemble it scan by
    scan with ``decode_jpeg_progressive`` in the next.  The oracle is
    byte-identical to the baseline query's (progressive is framing, not
    math), so a broken EOBRUN, refinement-bit, or scan-order path breaks
    the value hash.

    Scale shape: two narrow mapInPandas stages, no shuffle, payloads
    never on the driver — identical to every decode query in the family.
    """
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")
    return progressive_stats_pipeline(docs)


# --------------------------------------------------------------------------
# 4:2:2 color query — oracle-gates the widened sampling surface
# --------------------------------------------------------------------------


def _jpeg422_payload(d: int) -> bytes:
    w, h = 16 * (1 + d % 2), 8 * (1 + d % 3)
    return _encode_jpeg(
        w,
        h,
        [
            (2, 1, lambda x, y: _mcu_ycbcr(d, x // 16, y // 8)[0]),
            (1, 1, lambda x, y: _mcu_ycbcr(d, x // 8, y // 8)[1]),
            (1, 1, lambda x, y: _mcu_ycbcr(d, x // 8, y // 8)[2]),
        ],
        restart_interval=d % 3,
    )


@query(
    "mm_decode_jpeg422_stats",
    # Same structure as the 4:2:0 oracle (multimodal3.py), adjusted for
    # the 16x8 MCU: 128 identical pixels per MCU, chroma blocks at
    # (mx, my) of the half-horizontal-resolution plane.  Same biased
    # integer division trick: Python's >> floors, DuckDB's // truncates
    # toward zero; bias the numerator positive so they agree.
    oracle="""
    WITH d AS (
      SELECT doc_id,
             16 * (1 + doc_id % 2) AS w,
             8 * (1 + doc_id % 3) AS h
      FROM documents),
    m AS (
      SELECT doc_id, w, h,
             (t.i - 1) % (w // 16) AS mx,
             (t.i - 1) // (w // 16) AS my
      FROM d, unnest(generate_series(1, CAST((w // 16) * (h // 8) AS INT)))
              AS t(i)),
    c AS (
      SELECT doc_id, w, h,
             (doc_id * 13 + mx * 23 + my * 41) % 256       AS yy,
             (doc_id * 7 + mx * 19 + my * 31) % 256 - 128  AS cb,
             (doc_id * 5 + mx * 29 + my * 37) % 256 - 128  AS cr
      FROM m),
    rgb AS (
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
           CAST(128 * sum(r) AS BIGINT) AS sum_r,
           CAST(128 * sum(g) AS BIGINT) AS sum_g,
           CAST(128 * sum(b) AS BIGINT) AS sum_b,
           CAST(least(min(r), min(g), min(b)) AS BIGINT) AS min_rgb,
           CAST(greatest(max(r), max(g), max(b)) AS BIGINT) AS max_rgb,
           round(CAST(128 * (sum(r) + sum(g) + sum(b)) AS BIGINT) * 1.0
                 / (3 * w * h), 6) AS mean_rgb
    FROM rgb GROUP BY doc_id, w, h
    """,
)
def mm_decode_jpeg422_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL color-JPEG decode over the broadcast-video 4:2:2 layout
    (Y 2x1, chroma 1x1 — 16x8 MCUs, chroma half-resolution horizontally
    only): the round-6 sampling-surface widening, oracle-gated like its
    4:2:0 twin.  Per document, encode constant-16x8-MCU planes (same
    ``_mcu_ycbcr`` integer formulas), a third of the corpus with
    DRI/RSTn restart markers, decode with the shared baseline path, and
    emit integer-exact RGB statistics (128 identical pixels per MCU).

    Scale shape: two narrow mapInPandas stages, no shuffle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _jpeg422_payload)
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


# --------------------------------------------------------------------------
# progressive color query — the full real-world scan-script shape
# --------------------------------------------------------------------------


def _jpeg_progressive_color_payload(d: int) -> bytes:
    w, h = 16 * (1 + d % 2), 16 * (1 + d % 3)
    return encode_jpeg_progressive(
        w,
        h,
        [
            (2, 2, lambda x, y: _mcu_ycbcr(d, x // 16, y // 16)[0]),
            (1, 1, lambda x, y: _mcu_ycbcr(d, x // 8, y // 8)[1]),
            (1, 1, lambda x, y: _mcu_ycbcr(d, x // 8, y // 8)[2]),
        ],
        ac_al=1,
        ac_bands=[(1, 5), (6, 63)],
        restart_interval=d % 3,
    )


@query(
    "mm_decode_jpeg_progressive_color_stats",
    # Byte-identical to the mm_decode_jpeg_color_stats oracle
    # (multimodal3.py): progressive framing — multi-scan, multi-band,
    # successive approximation, restarts — reconstructs the SAME
    # DC-exact coefficients, so the pixel formula and the SQL do not
    # change; only a correct multi-scan reassembly matches the hash.
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
def mm_decode_jpeg_progressive_color_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL progressive color decode with the full real-world scan
    script: 4:2:0 SOF2 streams (same planted 16x16-MCU corpus as the
    baseline color query) encoded with the libjpeg-style progression —
    interleaved DC first at Al=1, DC refinement, per-component AC over
    TWO spectral-selection bands (1-5 then 6-63) at Al=1, then two
    per-band refinement sweeps — with restart markers on a third of the
    corpus.  Eleven scans per image; the oracle is byte-identical to
    the baseline color query's, so every multi-scan path (band
    boundaries, per-grid block walks, refinement bits, EOB runs split
    by restarts) must reassemble bit-exactly to match.

    Scale shape: two narrow mapInPandas stages, no shuffle."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True).select("doc_id")

    mm = synth_payloads(docs, _jpeg_progressive_color_payload)
    stats = decode_payloads(
        mm,
        decode_jpeg_progressive_color,
        "width long, height long, n_px long, "
        "sum_r long, sum_g long, sum_b long, min_rgb long, max_rgb long",
    )
    return stats.withColumn(
        "mean_rgb",
        F.round(
            (F.col("sum_r") + F.col("sum_g") + F.col("sum_b")) * 1.0
            / (3 * F.col("n_px")),
            6,
        ),
    )
