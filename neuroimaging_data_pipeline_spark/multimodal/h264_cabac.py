"""H.264 CABAC entropy layer (ITU-T H.264 clause 9.3) for I and P
slices, implemented from the published spec:

- the binary arithmetic DECODING engine (9.3.3.2): 9-bit offset
  register, rangeTabLPS (Table 9-44), state transitions (Table 9-45),
  decision / bypass / terminate decoding with renormalization;
- the matching arithmetic ENCODER (9.3.4): low/range registers,
  outstanding-bit carry resolution (PutBit), bypass and terminate
  encoding, the final flush that plants the rbsp_stop_one_bit;
- context-variable initialization (9.3.1.1) from an (m, n) table: the
  I-slice column of the published tables for every context an intra
  4:2:0 slice can touch. The P/B columns are not transcribed;
  h264_cabac_inter takes an explicit P table instead;
- binarizations (9.3.2) and context selection (9.3.3.1.1): the I and
  P mb_type trees with the mid-string I_PCM terminate bin, sub_mb_type,
  mb_skip_flag, unary ref_idx, UEG3 mvd, coded_block_pattern,
  mb_qp_delta, the Intra_4x4 mode flags and residual_block_cabac
  (7.3.5.3.3: coded_block_flag, significance map, UEG0 levels);
- ONE macroblock layer for I and P slices (_encode_cabac_mbs /
  _decode_cabac_mbs) that codes only this syntax. Prediction,
  transform, quantization and reconstruction come from the intra layer
  of h264_intra.py; motion, P_Skip and inter prediction from the
  _InterSlice of h264_inter.py; slice headers, SPS and PPS from
  h264.py, whose header writers add cabac_init_idc and the
  cabac_alignment_one_bits for a CABAC PPS.

The encoders emit Intra_16x16 (DC) and I_4x4 macroblocks in I slices
and Intra_16x16 plus every P partition in P slices; I_PCM, and I_4x4
in P slices, raise NotImplementedError. Conformance: the engine and
the I-slice tables are transcribed from the published spec; the
encoder<->decoder round trip is bit-exact by construction
(tests/test_h264_cabac.py, byte pins in tests/test_h264_stream_pins.py),
and a capability-gated ffmpeg cross-pin checks decoder parity against
libavcodec where ffmpeg is installed.

Reference parity: preprocess_parallel.sh shells out to external tools
for any video-adjacent work; this is the engine-side equivalent for
H.264 corpora (SURVEY.md multimodal lane).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.bitio import BitReader, BitWriter
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _ep_remove,
    _nal,
    _pad_planes,
    _parse_pps,
    _parse_slice_header,
    _parse_sps,
    _pps_rbsp,
    _slice_header,
    _split_nals,
    _sps_rbsp,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    _MODE_NEEDS,
    _ZBLK,
    _ZIGA,
    _ZIGA1,
    _MbGrid,
    _cbp_luma,
    _chroma_qp,
    _i4x4_fwd,
    _i16_fwd,
    _i16_preds,
    _pred_mode4,
    _recon_inter_mb,
    _residual_from_target,
    _store_chroma,
    _store_i4x4,
    _store_i16,
)

# ---------------------------------------------------------------------------
# Arithmetic coding engine (9.3.3.2 decode / 9.3.4 encode)
# ---------------------------------------------------------------------------

# Table 9-44: rangeTabLPS[pStateIdx][qCodIRangeIdx]
_RANGE_LPS = (
    (128, 176, 208, 240), (128, 167, 197, 227), (128, 158, 187, 216),
    (123, 150, 178, 205), (116, 142, 169, 195), (111, 135, 160, 185),
    (105, 128, 152, 175), (100, 122, 144, 166), (95, 116, 137, 158),
    (90, 110, 130, 150), (85, 104, 123, 142), (81, 99, 117, 135),
    (77, 94, 111, 128), (73, 89, 105, 122), (69, 85, 100, 116),
    (66, 80, 95, 110), (62, 76, 90, 104), (59, 72, 86, 99),
    (56, 69, 81, 94), (53, 65, 77, 89), (51, 62, 73, 85),
    (48, 59, 69, 80), (46, 56, 66, 76), (43, 53, 63, 72),
    (41, 50, 59, 69), (39, 48, 56, 65), (37, 45, 54, 62),
    (35, 43, 51, 59), (33, 41, 48, 56), (32, 39, 46, 53),
    (30, 37, 43, 50), (28, 35, 41, 48), (27, 33, 39, 45),
    (25, 31, 37, 43), (24, 30, 35, 41), (23, 28, 33, 39),
    (22, 27, 32, 37), (21, 26, 30, 35), (20, 24, 29, 33),
    (19, 23, 27, 31), (18, 22, 26, 30), (17, 21, 25, 28),
    (16, 20, 23, 27), (15, 19, 22, 25), (14, 18, 21, 24),
    (14, 17, 20, 23), (13, 16, 19, 22), (12, 15, 18, 21),
    (12, 14, 17, 20), (11, 14, 16, 19), (11, 13, 15, 18),
    (10, 12, 15, 17), (10, 12, 14, 16), (9, 11, 13, 15),
    (9, 11, 12, 14), (8, 10, 12, 14), (8, 9, 11, 13),
    (7, 9, 11, 12), (7, 9, 10, 12), (7, 8, 10, 11),
    (6, 8, 9, 11), (6, 7, 9, 10), (6, 7, 8, 9),
    (2, 2, 2, 2),
)

# Table 9-45: transIdxLPS (transIdxMPS is min(pStateIdx + 1, 62))
_TRANS_LPS = (
    0, 0, 1, 2, 2, 4, 4, 5, 6, 7, 8, 9, 9, 11, 11, 12,
    13, 13, 15, 15, 16, 16, 18, 18, 19, 19, 21, 21, 23, 23, 24, 24,
    25, 26, 26, 27, 27, 28, 29, 29, 30, 30, 30, 31, 32, 32, 33, 33,
    33, 34, 34, 35, 35, 35, 36, 36, 36, 37, 37, 37, 38, 38, 38, 63,
)

# I-slice context initialization (9.3.1.1): ctxIdx -> (m, n), the
# I-slice column of the published tables, for every context reachable
# in a frame-coded intra 4:2:0 slice. P/B-only contexts (11..59,
# mb_skip/sub_mb/motion) and field-coded maps (277..398) are omitted
# on purpose — touching one raises a KeyError, which is the honest
# behavior for an intra-only decoder.
_CTX_INIT_I: dict[int, tuple[int, int]] = {}


def _ctx_fill(start: int, pairs) -> None:
    for off, mn in enumerate(pairs):
        _CTX_INIT_I[start + off] = mn


# mb_type (I), ctxIdx 3..10
_ctx_fill(3, [
    (20, -15), (2, 54), (3, 74), (-28, 127),
    (-23, 104), (-6, 53), (-1, 54), (7, 51),
])
# mb_qp_delta 60..63, intra_chroma_pred_mode 64..67,
# prev_intra4x4_pred_mode_flag 68, rem_intra4x4_pred_mode 69
_ctx_fill(60, [
    (0, 41), (0, 63), (0, 63), (0, 63),
    (-9, 83), (4, 86), (0, 97), (-7, 72),
    (13, 41), (3, 62),
])
# coded_block_pattern: luma 73..76, chroma 77..84
_ctx_fill(73, [
    (-17, 127), (-13, 102), (0, 82), (-7, 74),
    (-21, 107), (-27, 127), (-31, 127), (-24, 127),
    (-18, 95), (-27, 127), (-21, 114), (-30, 127),
])
# coded_block_flag 85..104 (ctxBlockCat 0..4, 4 contexts each)
_ctx_fill(85, [
    (-17, 123), (-12, 115), (-16, 122), (-11, 115),
    (-12, 63), (-2, 68), (-15, 84), (-13, 104),
    (-3, 70), (-8, 93), (-10, 90), (-30, 127),
    (-1, 74), (-6, 97), (-7, 91), (-20, 127),
    (-4, 56), (-5, 82), (-7, 76), (-22, 125),
])
# significant_coeff_flag, frame-coded, 105..165
_ctx_fill(105, [
    (-7, 93), (-11, 87), (-3, 77), (-5, 71), (-4, 63),
    (-4, 68), (-12, 84), (-7, 62), (-7, 65), (8, 61),
    (5, 56), (-2, 66), (1, 64), (0, 61), (-2, 78),
    (1, 50), (7, 52), (10, 35), (0, 44), (11, 38),
    (1, 45), (0, 46), (5, 44), (31, 17), (1, 51),
    (7, 50), (28, 19), (16, 33), (14, 62), (-13, 108),
    (-15, 100), (-13, 101), (-13, 91), (-12, 94), (-10, 88),
    (-16, 84), (-10, 86), (-7, 83), (-13, 87), (-19, 94),
    (1, 70), (0, 72), (-5, 74), (18, 59), (-8, 102),
    (-15, 100), (0, 95), (-4, 75), (2, 72), (-11, 75),
    (-3, 71), (15, 46), (-13, 69), (0, 62), (0, 65),
    (21, 37), (-15, 72), (9, 57), (16, 54), (0, 62),
    (12, 72),
])
# last_significant_coeff_flag, frame-coded, 166..226
_ctx_fill(166, [
    (24, 0), (15, 9), (8, 25), (13, 18), (15, 9),
    (13, 19), (10, 37), (12, 18), (6, 29), (20, 33),
    (15, 30), (4, 45), (1, 58), (0, 62), (7, 61),
    (12, 38), (11, 45), (15, 39), (11, 42), (13, 44),
    (16, 45), (12, 41), (10, 49), (30, 34), (18, 42),
    (10, 55), (17, 51), (17, 46), (0, 89), (26, -19),
    (22, -17), (26, -17), (30, -25), (28, -20), (33, -23),
    (37, -27), (33, -23), (40, -28), (38, -17), (33, -11),
    (40, -15), (41, -6), (38, 1), (41, 17), (30, -6),
    (27, 3), (26, 22), (37, -16), (35, -4), (38, -8),
    (38, -3), (37, 3), (38, 5), (42, 0), (35, 16),
    (39, 22), (14, 48), (27, 37), (21, 60), (12, 68),
    (2, 97),
])
# coeff_abs_level_minus1, 227..275
_ctx_fill(227, [
    (-3, 71), (-6, 42), (-5, 50), (-3, 54), (-2, 62),
    (0, 58), (1, 63), (-2, 72), (-1, 74), (-9, 91),
    (-5, 67), (-4, 76), (-4, 77), (-6, 76), (10, 58),
    (-1, 76), (-1, 83), (-7, 99), (-14, 95), (2, 95),
    (0, 76), (-5, 82), (0, 79), (-11, 104), (-2, 75),
    (-3, 75), (0, 70), (-2, 84), (-9, 85), (-13, 89),
    (-1, 85), (-13, 94), (-9, 92), (-14, 107), (-10, 103),
    (-11, 97), (-12, 73), (-5, 70), (-12, 88), (-11, 89),
    (-15, 103), (-8, 91), (-8, 91), (-8, 91), (-9, 93),
    (-1, 73), (-2, 73), (-7, 81), (0, 64),
])

# syntax-element context offsets per ctxBlockCat (0: Intra16x16 luma
# DC, 1: Intra16x16 luma AC, 2: luma 4x4, 3: chroma DC, 4: chroma AC)
_CBF_OFF = (85, 89, 93, 97, 101)
_SIG_OFF = (105, 120, 134, 149, 152)
_LAST_OFF = (166, 181, 195, 210, 213)
_LEVEL_OFF = (227, 237, 247, 257, 266)


class _Ctx:
    """Per-slice context variable array (9.3.1.1 initialization) from
    an (m, n) table: the I-slice one by default."""

    __slots__ = ("state", "mps")

    def __init__(self, qp: int, table: dict = _CTX_INIT_I) -> None:
        self.state = {}
        self.mps = {}
        q = min(max(qp, 0), 51)
        for ctx, (m, n) in table.items():
            pre = min(max(1, ((m * q) >> 4) + n), 126)
            if pre <= 63:
                self.state[ctx], self.mps[ctx] = 63 - pre, 0
            else:
                self.state[ctx], self.mps[ctx] = pre - 64, 1


class _Enc:
    """Arithmetic encoder (9.3.4): writes into a BitWriter that must be
    byte-aligned (cabac_alignment_one_bit already written).

    r14: the hot paths (``decision``, ``bypass``) inline the
    renormalization loop and fold emitted bits into a local integer
    accumulator that is flushed to the BitWriter in chunks — one writer
    call per ~KB instead of per bit (the r13 profile charged ~40% of
    m33's encode CPU to the per-bit _put/_renorm/u call chain). The
    put/outstanding semantics — including the swallowed FIRST bit and
    the k inverted outstanding bits after each put — are replicated
    exactly, so the emitted bitstream is unchanged bit for bit."""

    __slots__ = ("w", "low", "range", "outstanding", "first",
                 "acc", "nb")

    #: flush the accumulator down to _KEEP bits once it crosses _LIM
    #: (keeps bigint shifts bounded; any split point preserves the
    #: MSB-first stream; 512/64 measured fastest — larger windows make
    #: every bin shift a big accumulator)
    _LIM = 512
    _KEEP = 64

    def __init__(self, w: BitWriter) -> None:
        self.w = w
        self.low = 0
        self.range = 510
        self.outstanding = 0
        self.first = True
        self.acc = 0
        self.nb = 0

    def _put(self, b: int) -> None:
        if self.first:
            self.first = False
        else:
            self.acc = (self.acc << 1) | b
            self.nb += 1
        k = self.outstanding
        if k:
            # k copies of (1-b) as ONE accumulated field
            self.acc = (self.acc << k) | (0 if b else (1 << k) - 1)
            self.nb += k
            self.outstanding = 0

    def _renorm(self) -> None:
        while self.range < 256:
            if self.low >= 512:
                self.low -= 512
                self._put(1)
            elif self.low < 256:
                self._put(0)
            else:
                self.low -= 256
                self.outstanding += 1
            self.range <<= 1
            self.low <<= 1

    def decision(self, ctxs: _Ctx, ctx: int, b: int) -> None:
        st = ctxs.state[ctx]
        rng = self.range
        lps = _RANGE_LPS[st][(rng >> 6) & 3]
        rng -= lps
        low = self.low
        if b != ctxs.mps[ctx]:
            low += rng
            rng = lps
            if st == 0:
                ctxs.mps[ctx] = 1 - ctxs.mps[ctx]
            ctxs.state[ctx] = _TRANS_LPS[st]
        else:
            ctxs.state[ctx] = st + 1 if st < 62 else 62
        if rng < 256:
            acc = self.acc
            nb = self.nb
            out = self.outstanding
            first = self.first
            while rng < 256:
                if 256 <= low < 512:
                    low -= 256
                    out += 1
                else:
                    if low >= 512:
                        low -= 512
                        if first:
                            first = False
                        else:
                            acc = (acc << 1) | 1
                            nb += 1
                        if out:
                            acc <<= out
                            nb += out
                            out = 0
                    else:
                        if first:
                            first = False
                        else:
                            acc <<= 1
                            nb += 1
                        if out:
                            acc = (acc << out) | ((1 << out) - 1)
                            nb += out
                            out = 0
                rng <<= 1
                low <<= 1
            if nb >= self._LIM:
                cut = nb - self._KEEP
                self.w.u(acc >> self._KEEP, cut)
                acc &= (1 << self._KEEP) - 1
                nb = self._KEEP
            self.acc = acc
            self.nb = nb
            self.outstanding = out
            self.first = first
        self.range = rng
        self.low = low

    def bypass(self, b: int) -> None:
        low = self.low << 1
        if b:
            low += self.range
        if low >= 1024:
            low -= 1024
            self._put(1)
        elif low < 512:
            self._put(0)
        else:
            low -= 512
            self.outstanding += 1
        self.low = low
        if self.nb >= self._LIM:
            cut = self.nb - self._KEEP
            self.w.u(self.acc >> self._KEEP, cut)
            self.acc &= (1 << self._KEEP) - 1
            self.nb = self._KEEP

    def terminate(self, b: int) -> None:
        self.range -= 2
        if b:
            self.low += self.range
            self._flush()
        else:
            self._renorm()

    def _flush(self) -> None:
        self.range = 2
        self._renorm()
        self._put((self.low >> 9) & 1)
        # the final two bits carry the rbsp_stop_one_bit
        self.acc = (self.acc << 2) | (((self.low >> 7) & 3) | 1)
        self.nb += 2
        if self.nb:
            self.w.u(self.acc, self.nb)
            self.acc = 0
            self.nb = 0


class _Dec:
    """Arithmetic decoder (9.3.3.2). Reads zero-fill past the end of
    the buffer (renormalization legally consumes a few bits beyond
    the last meaningful one)."""

    def __init__(self, data: bytes, pos_bits: int) -> None:
        self.data = data
        self.pos = pos_bits
        self.range = 510
        self.offset = 0
        for _ in range(9):
            self.offset = (self.offset << 1) | self._bit()

    def _bit(self) -> int:
        i = self.pos
        self.pos += 1
        byte = i >> 3
        if byte >= len(self.data):
            return 0
        return (self.data[byte] >> (7 - (i & 7))) & 1

    def decision(self, ctxs: _Ctx, ctx: int) -> int:
        # hot loop: local caching + inlined renorm bit fetch (same
        # math as the attribute-access form, bit-for-bit)
        rng = self.range
        off = self.offset
        st = ctxs.state[ctx]
        mps = ctxs.mps[ctx]
        lps = _RANGE_LPS[st][(rng >> 6) & 3]
        rng -= lps
        if off >= rng:
            b = 1 - mps
            off -= rng
            rng = lps
            if st == 0:
                ctxs.mps[ctx] = b
            ctxs.state[ctx] = _TRANS_LPS[st]
        else:
            b = mps
            if st < 62:
                ctxs.state[ctx] = st + 1
        if rng < 256:
            data = self.data
            pos = self.pos
            n = len(data)
            while rng < 256:
                rng <<= 1
                i = pos >> 3
                off = (off << 1) | (
                    (data[i] >> (7 - (pos & 7))) & 1 if i < n else 0
                )
                pos += 1
            self.pos = pos
        self.range = rng
        self.offset = off
        return b

    def bypass(self) -> int:
        pos = self.pos
        self.pos = pos + 1
        i = pos >> 3
        bit = (self.data[i] >> (7 - (pos & 7))) & 1 if i < len(self.data) else 0
        off = (self.offset << 1) | bit
        if off >= self.range:
            self.offset = off - self.range
            return 1
        self.offset = off
        return 0

    def terminate(self) -> int:
        self.range -= 2
        if self.offset >= self.range:
            return 1
        while self.range < 256:
            self.range <<= 1
            self.offset = (self.offset << 1) | self._bit()
        return 0


# ---------------------------------------------------------------------------
# Residual block coding (7.3.5.3.3 syntax, 9.3.2.3 binarization)
# ---------------------------------------------------------------------------


def _sig_inc(cat: int, i: int) -> int:
    # 4:2:0 chroma DC: Min(levelListIdx / NumC8x8, 2) with NumC8x8=1
    return min(i, 2) if cat == 3 else i


def _enc_residual(
    enc: _Enc, ctxs: _Ctx, coeffs: list[int], cat: int, cbf_inc: int
) -> int:
    """Encode one residual block (coeffs in scan order). Returns the
    coded_block_flag value (for neighbor-context tracking)."""
    n = len(coeffs)
    cbf = 1 if any(coeffs) else 0
    enc.decision(ctxs, _CBF_OFF[cat] + cbf_inc, cbf)
    if not cbf:
        return 0
    last = max(i for i, c in enumerate(coeffs) if c)
    for i in range(n - 1):
        sig = 1 if coeffs[i] else 0
        enc.decision(ctxs, _SIG_OFF[cat] + _sig_inc(cat, i), sig)
        if sig:
            enc.decision(
                ctxs, _LAST_OFF[cat] + _sig_inc(cat, i), 1 if i == last else 0
            )
            if i == last:
                break
    eq1 = gt1 = 0
    for i in range(last, -1, -1):
        c = coeffs[i]
        if not c:
            continue
        mag = abs(c) - 1
        inc0 = 0 if gt1 else min(4, 1 + eq1)
        incn = 5 + min(4 - (1 if cat == 3 else 0), gt1)
        base = _LEVEL_OFF[cat]
        prefix = min(mag, 14)
        for k in range(prefix):
            enc.decision(ctxs, base + (inc0 if k == 0 else incn), 1)
        if prefix < 14:
            enc.decision(ctxs, base + (inc0 if prefix == 0 else incn), 0)
        else:
            # UEG0 suffix, bypass-coded
            v = mag - 14
            k = 0
            while v >= (1 << k):
                enc.bypass(1)
                v -= 1 << k
                k += 1
            enc.bypass(0)
            for kk in range(k - 1, -1, -1):
                enc.bypass((v >> kk) & 1)
        enc.bypass(1 if c < 0 else 0)
        if abs(c) == 1:
            eq1 += 1
        else:
            gt1 += 1
    return 1


def _dec_residual(
    dec: _Dec, ctxs: _Ctx, cat: int, cbf_inc: int, n: int
) -> tuple[list[int], int]:
    """Decode one residual block; returns (coeffs in scan order,
    coded_block_flag)."""
    cbf = dec.decision(ctxs, _CBF_OFF[cat] + cbf_inc)
    coeffs = [0] * n
    if not cbf:
        return coeffs, 0
    sig = [0] * n
    last = n - 1
    for i in range(n - 1):
        if dec.decision(ctxs, _SIG_OFF[cat] + _sig_inc(cat, i)):
            sig[i] = 1
            if dec.decision(ctxs, _LAST_OFF[cat] + _sig_inc(cat, i)):
                last = i
                break
    else:
        sig[n - 1] = 1
    eq1 = gt1 = 0
    for i in range(last, -1, -1):
        if not sig[i]:
            continue
        inc0 = 0 if gt1 else min(4, 1 + eq1)
        incn = 5 + min(4 - (1 if cat == 3 else 0), gt1)
        base = _LEVEL_OFF[cat]
        mag = 0
        while mag < 14 and dec.decision(
            ctxs, base + (inc0 if mag == 0 else incn)
        ):
            mag += 1
        if mag == 14:
            k = 0
            while dec.bypass():
                mag += 1 << k
                k += 1
            for kk in range(k - 1, -1, -1):
                mag += dec.bypass() << kk
        level = mag + 1
        if dec.bypass():
            level = -level
        coeffs[i] = level
        if abs(level) == 1:
            eq1 += 1
        else:
            gt1 += 1
    return coeffs, 1


# ---------------------------------------------------------------------------
# Neighbour state and context selection (9.3.3.1.1)
# ---------------------------------------------------------------------------


def _nb(grid, x, y, n, unav):
    """The entries of ``grid`` left of and above block (x, y), with n
    blocks per macroblock side; ``unav`` for a block outside the
    picture. With n > 1 a block inside the current macroblock is
    ``unav`` too, where 9.3.3.1.1.9 reads its coded_block_flag: the
    pinned streams are coded with this rule, so changing it changes
    their bytes."""
    return (grid[y, x - 1] if x and not x % n else unav,
            grid[y - 1, x] if y and not y % n else unav)


def _cbf_inc(grid, x, y, n, unav) -> int:
    """coded_block_flag ctxIdxInc (9.3.3.1.1.9) of block (x, y) of a
    flag grid; ``unav`` is 1 in an intra macroblock, 0 in an inter
    one."""
    a, b = _nb(grid, x, y, n, unav)
    return int(a) + 2 * int(b)


class _MbState:
    """Per-slice neighbour state of the CABAC macroblock layer, the same
    for the encoder and the decoder: the _MbGrid ``g`` being coded (its
    nnz and cnnz grids hold the coded_block_flag of every luma and
    chroma AC 4x4 block, its mode grid marks the I_4x4 macroblocks)
    and, per macroblock, the coded_block_pattern, the skip flag and the
    coded_block_flag of the luma DC and both chroma DC blocks; per 4x4
    block the absolute mvd components; whether the last mb_qp_delta
    was nonzero. Every macroblock left of or above the current one is
    already coded (one slice per picture), so availability is the
    picture edge alone."""

    def __init__(self, g: _MbGrid) -> None:
        self.g = g
        mbh, mbw = g.nnz.shape[0] // 4, g.nnz.shape[1] // 4
        self.cbp = np.zeros((mbh, mbw), np.int64)
        self.skip = np.zeros((mbh, mbw), bool)
        self.dc = np.zeros((3, mbh, mbw), np.int64)
        self.absmvd = np.zeros((mbh * 4, mbw * 4, 2), np.int64)
        self.qpd_nz = 0

    def mb_type_inc(self, mx, my) -> int:
        """I-slice mb_type bin 0 (9.3.3.1.1.3): neighbours not I_4x4."""
        return sum(int(m < 0) for m in _nb(self.g.modes4, mx * 4, my * 4,
                                           4, 0))

    def skip_inc(self, mx, my) -> int:
        """mb_skip_flag (9.3.3.1.1.1): neighbours not skipped."""
        return sum(not s for s in _nb(self.skip, mx, my, 1, True))

    def cbp_luma_ctx(self, mx, my, blk, cur) -> int:
        """coded_block_pattern luma bin ``blk`` (9.3.3.1.1.4): the left
        and upper 8x8 blocks whose bit is 0, the current macroblock's
        bits taken from ``cur``."""
        a = (cur >> (blk - 1) if blk & 1 else
             self.cbp[my, mx - 1] >> (blk + 1) if mx else 1) & 1
        b = (cur >> (blk - 2) if blk & 2 else
             self.cbp[my - 1, mx] >> (blk + 2) if my else 1) & 1
        return 73 + (1 - int(a)) + 2 * (1 - int(b))

    def cbp_chroma_ctx(self, mx, my, b) -> int:
        """coded_block_pattern chroma bin ``b``: neighbours whose
        CodedBlockPatternChroma exceeds ``b``."""
        a, u = _nb(self.cbp, mx, my, 1, 0)
        return 77 + 4 * b + int(a >> 4 > b) + 2 * int(u >> 4 > b)

    def mvd_inc(self, gx, gy, comp) -> int:
        """mvd bin 0 (9.3.3.1.1.7): absMvdComp(A) + absMvdComp(B)
        against the 3 / 32 thresholds."""
        e = sum(_nb(self.absmvd[..., comp], gx, gy, 1, 0))
        return 0 if e < 3 else 1 if e <= 32 else 2


# ---------------------------------------------------------------------------
# Binarizations (9.3.2)
# ---------------------------------------------------------------------------

# P mb_type prefix bins (ctx 14..16) by mb_type: P_L0_16x16, P_L0_L0_16x8,
# P_L0_L0_8x16, P_8x8; 5 is the prefix of every intra mb_type
_MB_BIN = {0: (0, 0, 0), 1: (0, 1, 1), 2: (0, 1, 0), 3: (0, 0, 1), 5: (1,)}
# P sub_mb_type bins (ctx 21..23): P_L0_8x8, 8x4, 4x8, 4x4
_SUB_BIN = {0: (1,), 1: (0, 0), 2: (0, 1, 1), 3: (0, 1, 0)}
_MB_OF_BINS = {b: t for t, b in _MB_BIN.items()}
_SUB_OF_BINS = {b: t for t, b in _SUB_BIN.items()}
# contexts of an intra mb_type's bins per slice type: bin 0, then the
# bins after the I_PCM terminate (luma CBP, chroma CBP != 0, chroma CBP
# == 2, the two prediction-mode bins). Bin 0 of an I slice adds the
# neighbour increment. In P slices 9.3.3.1.2 puts the chroma CBP == 2
# bin on 19 and P mb_type prefix bin 2 after a 1 on 17; this layer uses
# 20 and 16, as the pinned P streams (synthetic init tables) do.
_I_LAYOUT = (3, 6, 7, 8, 9, 10)
_P_LAYOUT = (17, 18, 19, 20, 20, 20)


def _enc_bins(enc: _Enc, ctxs: _Ctx, base: int, bins) -> None:
    for i, b in enumerate(bins):
        enc.decision(ctxs, base + i, b)


def _dec_bins(dec: _Dec, ctxs: _Ctx, base: int, codes: dict) -> int:
    """Read bins on contexts base, base + 1, ... until they spell a key
    of the prefix-free ``codes``."""
    bins = ()
    while bins not in codes:
        bins += (dec.decision(ctxs, base + len(bins)),)
    return codes[bins]


def _enc_intra_type(enc: _Enc, ctxs: _Ctx, lay, inc: int,
                    itype: int) -> None:
    """I mb_type ``itype`` (0 I_4x4, 1..24 Intra_16x16; Table 9-36)
    over the context layout ``lay``."""
    enc.decision(ctxs, lay[0] + inc, int(itype > 0))
    if itype:
        enc.terminate(0)  # not I_PCM
        t = itype - 1
        cbpc = t // 4 % 3
        enc.decision(ctxs, lay[1], int(t >= 12))
        enc.decision(ctxs, lay[2], int(cbpc > 0))
        if cbpc:
            enc.decision(ctxs, lay[3], int(cbpc == 2))
        enc.decision(ctxs, lay[4], t >> 1 & 1)
        enc.decision(ctxs, lay[5], t & 1)


def _dec_intra_type(dec: _Dec, ctxs: _Ctx, lay, inc: int) -> int:
    if not dec.decision(ctxs, lay[0] + inc):
        return 0
    if dec.terminate():
        raise NotImplementedError(
            "I_PCM inside a CABAC slice — this encoder never emits it")
    t = 12 * dec.decision(ctxs, lay[1])
    if dec.decision(ctxs, lay[2]):
        t += 8 if dec.decision(ctxs, lay[3]) else 4
    t += 2 * dec.decision(ctxs, lay[4])
    return 1 + t + dec.decision(ctxs, lay[5])


def _enc_mb_type(enc, ctxs, st: _MbState, mx, my, p: bool,
                 mb_type: int) -> None:
    """mb_type of an I slice (the I mb_type) or a P slice (0..3 inter,
    5 + the I mb_type for intra; 9.3.2.5)."""
    if not p:
        _enc_intra_type(enc, ctxs, _I_LAYOUT, st.mb_type_inc(mx, my),
                        mb_type)
        return
    _enc_bins(enc, ctxs, 14, _MB_BIN[min(mb_type, 5)])
    if mb_type >= 5:
        _enc_intra_type(enc, ctxs, _P_LAYOUT, 0, mb_type - 5)


def _dec_mb_type(dec, ctxs, st: _MbState, mx, my, p: bool) -> int:
    if not p:
        return _dec_intra_type(dec, ctxs, _I_LAYOUT, st.mb_type_inc(mx, my))
    t = _dec_bins(dec, ctxs, 14, _MB_OF_BINS)
    if t < 5:
        return t
    t = _dec_intra_type(dec, ctxs, _P_LAYOUT, 0)
    if not t:
        raise NotImplementedError(
            "I_4x4 inside a CABAC P slice — P_CTX_IDS has no context for "
            "its prediction modes")
    return 5 + t


def _ref_ctx(k: int, inc: int) -> int:
    """ref_idx bin k: 54 + inc, then 58, then 59 (unary, 9.3.3.1.1.6)."""
    return 54 + inc if k == 0 else min(57 + k, 59)


def _enc_mvd(enc: _Enc, ctxs: _Ctx, base: int, inc: int,
             mvd: int) -> None:
    """UEG3 (9.3.2.3): TU prefix cMax 9 over base + {inc, 3, 4, 5,
    6, 6, ...}, EG3 bypass suffix for |mvd| >= 9, bypass sign."""
    a = abs(mvd)
    prefix = min(a, 9)
    for k in range(prefix):
        ctx = base + (inc if k == 0 else min(k + 2, 6))
        enc.decision(ctxs, ctx, 1)
    if prefix < 9:
        ctx = base + (inc if prefix == 0 else min(prefix + 2, 6))
        enc.decision(ctxs, ctx, 0)
    else:
        # EG3 suffix of (a - 9)
        v = a - 9
        k = 3
        while v >= (1 << k):
            enc.bypass(1)
            v -= 1 << k
            k += 1
        enc.bypass(0)
        for i in range(k - 1, -1, -1):
            enc.bypass((v >> i) & 1)
    if a:
        enc.bypass(1 if mvd < 0 else 0)


def _dec_mvd(dec: _Dec, ctxs: _Ctx, base: int, inc: int) -> int:
    a = 0
    while a < 9:
        ctx = base + (inc if a == 0 else min(a + 2, 6))
        if not dec.decision(ctxs, ctx):
            break
        a += 1
    if a == 9:
        k = 3
        while dec.bypass():
            a += 1 << k
            k += 1
            if k > 30:
                raise ValueError("runaway mvd exponent")
        v = 0
        for _ in range(k):
            v = (v << 1) | dec.bypass()
        a += v
    if a and dec.bypass():
        return -a
    return a


class _CabacPut:
    """The encoder side of _InterSlice.motion in a CABAC P slice:
    ref_idx as unary bins, each mvd component as UEG3 bins, with their
    neighbour increments at the partition's 4x4 position, ``refs``
    being the slice's list-0 refIdx grid. The refIdx of the current
    macroblock's partitions enter that grid only with their motion
    vectors, after every ref_idx of the macroblock is coded, where
    9.3.3.1.1.6 reads them as soon as they are coded; the pinned P
    streams are coded with this rule."""

    def __init__(self, coder, ctxs: _Ctx, st: _MbState, refs) -> None:
        self.coder, self.ctxs, self.st, self.refs = coder, ctxs, st, refs

    def ref_inc(self, gx, gy) -> int:
        a, b = _nb(self.refs, gx, gy, 1, 0)
        return int(a > 0) + 2 * int(b > 0)

    def ref(self, v: int, n: int, gx, gy) -> int:
        inc = self.ref_inc(gx, gy)
        for k in range(v + 1):
            self.coder.decision(self.ctxs, _ref_ctx(k, inc), int(k < v))
        return v

    def mv(self, pred, mv, gx, gy, w4, h4):
        for comp in (0, 1):
            d = int(mv[comp] - pred[comp])
            _enc_mvd(self.coder, self.ctxs, 40 + 7 * comp,
                     self.st.mvd_inc(gx, gy, comp), d)
            self.st.absmvd[gy : gy + h4, gx : gx + w4, comp] = abs(d)
        return mv


class _CabacGet(_CabacPut):
    """The decoder side: reads what _CabacPut writes. A ref_idx at or
    past the active count raises ValueError."""

    def ref(self, v: int, n: int, gx, gy) -> int:
        inc = self.ref_inc(gx, gy)
        v = 0
        while self.coder.decision(self.ctxs, _ref_ctx(v, inc)):
            v += 1
            if v >= n:
                raise ValueError(f"ref_idx {v} out of range ({n} active)")
        return v

    def mv(self, pred, mv, gx, gy, w4, h4):
        out = np.empty(2, np.int64)
        for comp in (0, 1):
            d = _dec_mvd(self.coder, self.ctxs, 40 + 7 * comp,
                         self.st.mvd_inc(gx, gy, comp))
            out[comp] = pred[comp] + d
            self.st.absmvd[gy : gy + h4, gx : gx + w4, comp] = abs(d)
        return out


def _enc_mb_qp_delta(enc: _Enc, ctxs: _Ctx, st: _MbState, delta: int) -> None:
    """mb_qp_delta as mapped unary bins on 60 + inc, 62, 63, ..."""
    ctx = 60 + st.qpd_nz
    for k in range(2 * delta - 1 if delta > 0 else -2 * delta):
        enc.decision(ctxs, ctx, 1)
        ctx = 62 if k == 0 else 63
    enc.decision(ctxs, ctx, 0)
    st.qpd_nz = int(delta != 0)


def _dec_mb_qp_delta(dec: _Dec, ctxs: _Ctx, st: _MbState) -> int:
    """Read what _enc_mb_qp_delta writes; a value outside 7.4.5's
    -26..+25 raises ValueError."""
    mapped, ctx = 0, 60 + st.qpd_nz
    while mapped <= 52 and dec.decision(ctxs, ctx):
        mapped += 1
        ctx = 62 if mapped == 1 else 63
    delta = (mapped + 1) // 2 if mapped % 2 else -(mapped // 2)
    if not -26 <= delta <= 25:
        raise ValueError(f"mb_qp_delta {delta} outside -26..25")
    st.qpd_nz = int(delta != 0)
    return delta


# ---------------------------------------------------------------------------
# The macroblock layer of I and P slices
# ---------------------------------------------------------------------------


def _enc_residuals(enc: _Enc, ctxs: _Ctx, st: _MbState, mx, my, intra,
                   cbp, luma, cdcz, cacz, zdc=None) -> None:
    """coded_block_pattern (carried by the mb_type of an Intra_16x16
    macroblock, whose luma DC levels ``zdc`` then lead and whose
    ``luma`` levels are AC only), mb_qp_delta 0 when anything is coded,
    then the residual blocks (7.3.5.3) with their coded_block_flags.
    ``intra`` is the flag value of a neighbour outside the picture."""
    g = st.g
    if zdc is None:
        for blk in range(4):
            enc.decision(ctxs, st.cbp_luma_ctx(mx, my, blk, cbp),
                         cbp >> blk & 1)
        enc.decision(ctxs, st.cbp_chroma_ctx(mx, my, 0), int(cbp > 15))
        if cbp > 15:
            enc.decision(ctxs, st.cbp_chroma_ctx(mx, my, 1), int(cbp > 31))
    st.cbp[my, mx] = cbp
    if cbp or zdc is not None:
        _enc_mb_qp_delta(enc, ctxs, st, 0)
    else:
        st.qpd_nz = 0
    if zdc is not None:
        st.dc[0, my, mx] = _enc_residual(
            enc, ctxs, zdc.ravel()[_ZIGA].tolist(), 0,
            _cbf_inc(st.dc[0], mx, my, 1, 1))
    cat, zig = (2, _ZIGA) if zdc is None else (1, _ZIGA1)
    for k, (bx, by) in enumerate(_ZBLK):
        gx, gy = mx * 4 + bx, my * 4 + by
        g.nnz[gy, gx] = cbp >> (k >> 2) & 1 and _enc_residual(
            enc, ctxs, luma[by, bx].ravel()[zig].tolist(), cat,
            _cbf_inc(g.nnz, gx, gy, 4, intra))
    for pi in (0, 1):
        st.dc[1 + pi, my, mx] = cbp > 15 and _enc_residual(
            enc, ctxs, cdcz[pi].ravel().tolist(), 3,
            _cbf_inc(st.dc[1 + pi], mx, my, 1, intra))
    for pi, cnnz in enumerate(g.cnnz):
        for k in range(4):
            cx, cy = mx * 2 + (k & 1), my * 2 + (k >> 1)
            cnnz[cy, cx] = cbp > 31 and _enc_residual(
                enc, ctxs, cacz[pi][k >> 1, k & 1].ravel()[_ZIGA1].tolist(),
                4, _cbf_inc(cnnz, cx, cy, 2, intra))


def _dec_residuals(dec: _Dec, ctxs: _Ctx, st: _MbState, mx, my, intra,
                   cbp=None):
    """Parse what _enc_residuals writes (``cbp`` given by the mb_type
    of an Intra_16x16 macroblock). Returns (cbp, mb_qp_delta, luma DC
    levels or None, luma levels (4, 4, 4, 4), chroma DC levels (2, 2,
    2), chroma AC levels (2, 2, 2, 4, 4))."""
    g, i16 = st.g, cbp is not None
    if not i16:
        cbp = 0
        for blk in range(4):
            cbp |= dec.decision(ctxs, st.cbp_luma_ctx(mx, my, blk, cbp)) << blk
        if dec.decision(ctxs, st.cbp_chroma_ctx(mx, my, 0)):
            cbp |= 32 if dec.decision(ctxs, st.cbp_chroma_ctx(mx, my, 1)) \
                else 16
    st.cbp[my, mx] = cbp
    qpd = 0
    if cbp or i16:
        qpd = _dec_mb_qp_delta(dec, ctxs, st)
    else:
        st.qpd_nz = 0
    zdc = None
    if i16:
        zdc = np.zeros(16, np.int64)
        zdc[_ZIGA], st.dc[0, my, mx] = _dec_residual(
            dec, ctxs, 0, _cbf_inc(st.dc[0], mx, my, 1, 1), 16)
        zdc = zdc.reshape(4, 4)
    cat, zig = (1, _ZIGA1) if i16 else (2, _ZIGA)
    luma = np.zeros((4, 4, 16), np.int64)
    for k, (bx, by) in enumerate(_ZBLK):
        gx, gy = mx * 4 + bx, my * 4 + by
        g.nnz[gy, gx] = 0
        if cbp >> (k >> 2) & 1:
            luma[by, bx, zig], g.nnz[gy, gx] = _dec_residual(
                dec, ctxs, cat, _cbf_inc(g.nnz, gx, gy, 4, intra), len(zig))
    cdcz = np.zeros((2, 4), np.int64)
    cacz = np.zeros((2, 4, 16), np.int64)
    for pi in (0, 1):
        st.dc[1 + pi, my, mx] = 0
        if cbp > 15:
            cdcz[pi], st.dc[1 + pi, my, mx] = _dec_residual(
                dec, ctxs, 3, _cbf_inc(st.dc[1 + pi], mx, my, 1, intra), 4)
    for pi, cnnz in enumerate(g.cnnz):
        for k in range(4):
            cx, cy = mx * 2 + (k & 1), my * 2 + (k >> 1)
            cnnz[cy, cx] = 0
            if cbp > 31:
                cacz[pi, k, _ZIGA1], cnnz[cy, cx] = _dec_residual(
                    dec, ctxs, 4, _cbf_inc(cnnz, cx, cy, 2, intra), 15)
    return (cbp, qpd, zdc, luma.reshape(4, 4, 4, 4), cdcz.reshape(2, 2, 2),
            cacz.reshape(2, 2, 2, 4, 4))


def _enc_intra_mb(enc: _Enc, ctxs: _Ctx, st: _MbState, src, spec, mx, my,
                  qp, base) -> None:
    """An intra macroblock from its mb_spec into an I (``base`` 0) or P
    (``base`` 5) slice: ("i16",) Intra_16x16 DC, or in I slices
    ("i4", mode) I_4x4 — transformed and reconstructed by h264_intra."""
    g, p = st.g, base > 0
    if spec[0] == "i16":
        pred, cpred, acz, zdc, cdcz, cacz, cbpc = _i16_fwd(g, src, mx, my,
                                                          qp, 2, 0)
        cbpl = 0 if acz is None else 15
        _enc_mb_type(enc, ctxs, st, mx, my, p,
                     base + 3 + 4 * cbpc + (cbpl and 12))
        enc.decision(ctxs, 64, 0)  # intra_chroma_pred_mode: DC
        _enc_residuals(enc, ctxs, st, mx, my, 1, cbpl | cbpc << 4, acz,
                       cdcz, cacz, zdc)
        _store_i16(g, mx, my, pred, cpred, acz, zdc, cdcz, cacz, cbpc, qp)
        return
    if p or spec[0] != "i4":
        raise NotImplementedError(
            f"{spec[0]!r} inside a CABAC {'P' if p else 'I'} slice — only "
            "Intra_16x16 (and I_4x4 in I slices) is emitted")
    zl, cpred, cdcz, cacz, cbpc = _i4x4_fwd(g, src, mx, my, qp, spec[1])
    _enc_mb_type(enc, ctxs, st, mx, my, False, 0)
    for bx, by in _ZBLK:
        gx, gy = mx * 4 + bx, my * 4 + by
        pm4, m = _pred_mode4(g.modes4, gx, gy), int(g.modes4[gy, gx])
        enc.decision(ctxs, 68, int(m == pm4))
        if m != pm4:
            rem = m - (m > pm4)
            for k in range(3):
                enc.decision(ctxs, 69, rem >> k & 1)
    enc.decision(ctxs, 64, 0)  # intra_chroma_pred_mode: DC
    _enc_residuals(enc, ctxs, st, mx, my, 1, _cbp_luma(zl) | cbpc << 4, zl,
                   cdcz, cacz)
    _store_chroma(g, mx, my, cpred, cdcz, cacz, cbpc, _chroma_qp(qp))


def _dec_intra_mb(dec: _Dec, ctxs: _Ctx, st: _MbState, mx, my, itype,
                  qp) -> int:
    """Decode an intra macroblock after its I mb_type ``itype`` into
    the grid. Returns the updated QP."""
    g = st.g
    if itype == 0:
        for bx, by in _ZBLK:
            gx, gy = mx * 4 + bx, my * 4 + by
            pm4 = _pred_mode4(g.modes4, gx, gy)
            if dec.decision(ctxs, 68):
                g.modes4[gy, gx] = pm4
            else:
                rem = (dec.decision(ctxs, 69) | dec.decision(ctxs, 69) << 1
                       | dec.decision(ctxs, 69) << 2)
                g.modes4[gy, gx] = rem + (rem >= pm4)
    if dec.decision(ctxs, 64):
        raise NotImplementedError(
            "chroma prediction mode != DC — only DC is implemented")
    t = itype - 1
    cbp, qpd, zdc, luma, cdcz, cacz = _dec_residuals(
        dec, ctxs, st, mx, my, 1,
        None if itype == 0 else (15 if t >= 12 else 0) | t // 4 % 3 << 4)
    qp = (qp + qpd) % 52
    if itype:
        _store_i16(g, mx, my, *_i16_preds(g, mx, my, t % 4, 0),
                   luma if cbp & 15 else None, zdc, cdcz, cacz, cbp >> 4, qp)
    else:
        _store_i4x4(g, mx, my, 0, luma, cdcz, cacz, cbp >> 4, qp)
    return qp


def _encode_cabac_mbs(sl: BitWriter, ctxs: _Ctx, g: _MbGrid, src, specs,
                      qp: int, sc=None) -> None:
    """The macroblock layer of one CABAC slice into ``sl`` after its
    header: one mb_spec per macroblock in raster order, coded from the
    source planes ``src`` into ``g``. ``sc`` is the _InterSlice of a P
    slice (None: an I slice, intra specs only). mb_skip_flag leads
    every P macroblock and end_of_slice_flag follows every macroblock;
    the slice data ends with its stop bit, zero-aligned."""
    enc, st = _Enc(sl), _MbState(g)
    mbw, last, qpc = g.nnz.shape[1] // 4, len(specs) - 1, _chroma_qp(qp)
    if sc is not None:
        io = _CabacPut(enc, ctxs, st, sc.mvs[0].ref)
    for addr, spec in enumerate(specs):
        mx, my = addr % mbw, addr // mbw
        if sc is not None:
            enc.decision(ctxs, 11 + st.skip_inc(mx, my),
                         int(spec[0] == "skip"))
        if spec[0] == "skip":
            sc.skip(mx, my)
            st.skip[my, mx] = True
            st.qpd_nz = 0
        elif spec[0] in ("i16", "i4", "ipcm"):
            _enc_intra_mb(enc, ctxs, st, src, spec, mx, my, qp,
                          0 if sc is None else 5)
            if sc is not None:
                sc.mark_intra(mx, my)
        else:
            mb_type, subs, mode, parts = sc.spec_parts(spec, mx, my)
            _enc_mb_type(enc, ctxs, st, mx, my, True, mb_type)
            for t in subs:
                _enc_bins(enc, ctxs, 21, _SUB_BIN[t])
            sc.motion(io, mx, my, mode, parts)
            py, pcb, pcr = sc.predict(mx, my, parts)
            cbp, zl, cdcz, cacz = _residual_from_target(
                src, mx, my, py, pcb, pcr, qp, qpc)
            _enc_residuals(enc, ctxs, st, mx, my, 0, cbp, zl, cdcz, cacz)
            _recon_inter_mb(g.recon, mx, my, py, pcb, pcr, cbp, zl, cdcz,
                            cacz, qp, qpc)
        enc.terminate(int(addr == last))
    sl.align_zero()


def _decode_cabac_mbs(r: BitReader, ctxs: _Ctx, g: _MbGrid, qp: int,
                      sc=None) -> None:
    """Decode what _encode_cabac_mbs writes, from the reader's
    (aligned) position into ``g``. end_of_slice_flag must be 1 after
    the last macroblock and 0 after every other (ValueError)."""
    dec, st = _Dec(r.data, r.pos), _MbState(g)
    mbh, mbw = g.nnz.shape[0] // 4, g.nnz.shape[1] // 4
    p = sc is not None
    if p:
        io = _CabacGet(dec, ctxs, st, sc.mvs[0].ref)

        def read_sub():
            return _dec_bins(dec, ctxs, 21, _SUB_OF_BINS)

    for addr in range(mbw * mbh):
        mx, my = addr % mbw, addr // mbw
        if p and dec.decision(ctxs, 11 + st.skip_inc(mx, my)):
            sc.skip(mx, my)
            st.skip[my, mx] = True
            st.qpd_nz = 0
        else:
            mb_type = _dec_mb_type(dec, ctxs, st, mx, my, p)
            if not p or mb_type >= 5:
                qp = _dec_intra_mb(dec, ctxs, st, mx, my, mb_type - 5 * p,
                                   qp)
                if p:
                    sc.mark_intra(mx, my)
            else:
                mode, parts, nra = sc.read_parts(read_sub, mb_type, mx, my)
                sc.motion(io, mx, my, mode, parts, nra)
                py, pcb, pcr = sc.predict(mx, my, parts)
                cbp, qpd, _, zl, cdcz, cacz = _dec_residuals(
                    dec, ctxs, st, mx, my, 0)
                qp = (qp + qpd) % 52
                _recon_inter_mb(g.recon, mx, my, py, pcb, pcr, cbp, zl,
                                cdcz, cacz, qp, _chroma_qp(qp))
        end = dec.terminate()
        if end != (addr == mbw * mbh - 1):
            raise ValueError(
                f"end_of_slice_flag {end} at mb ({mx},{my}) of "
                f"{mbw}x{mbh} — CABAC desync")


# ---------------------------------------------------------------------------
# I-slice entry points
# ---------------------------------------------------------------------------


def _encode_cabac_idr(src, qp: int, i4x4_mode: int):
    """A CABAC IDR I slice of the whole-macroblock planes ``src``:
    Intra_16x16 (DC) on the (mx + my)-even checkerboard and I_4x4
    (preferred luma mode ``i4x4_mode``, DC at edges) on the odd cells,
    so mb_type, CBP and coded_block_flag contexts see both neighbour
    classes in one slice. Returns (NAL bytes, _MbGrid)."""
    if not 0 <= qp <= 51:
        raise ValueError("QP must be in 0..51")
    mbh, mbw = src[0].shape[0] // 16, src[0].shape[1] // 16
    sl = BitWriter()
    _slice_header(sl, qp, 0, (1, (0, 0)), cabac=True)
    g = _MbGrid(mbw, mbh)
    specs = [("i4", i4x4_mode) if (a % mbw + a // mbw) % 2 else ("i16",)
             for a in range(mbw * mbh)]
    _encode_cabac_mbs(sl, _Ctx(qp), g, src, specs, qp)
    return _nal(3, 5, sl.bytes_()), g


def encode_h264_cabac_intra(
    y: np.ndarray,
    cb: np.ndarray | None = None,
    cr: np.ndarray | None = None,
    qp: int = 0,
    i4x4_mode: int = 2,
) -> tuple[bytes, np.ndarray, np.ndarray, np.ndarray]:
    """Encode one IDR frame as a CABAC I slice of MIXED macroblocks:
    Intra_16x16 (DC prediction) on the (mx+my)-even checkerboard,
    I_4x4 (preferred luma mode ``i4x4_mode``, DC fallback at edges)
    on the odd cells — so mb_type, CBP and coded_block_flag contexts
    exercise both neighbor classes in one slice. Returns
    (annex_b_bytes, recon_y, recon_cb, recon_cr); the recon planes
    are the decoder-mirrored bit-exact contract, same as the CAVLC
    encoders."""
    if i4x4_mode not in _MODE_NEEDS:
        raise ValueError("luma 4x4 mode must be 0..8")
    src = _pad_planes(y, cb, cr)
    h, w = np.shape(y)
    nal, g = _encode_cabac_idr(src, qp, i4x4_mode)
    stream = (
        _nal(3, 7, _sps_rbsp(-(-w // 16), -(-h // 16), w, h))
        + _nal(3, 8, _pps_rbsp(cabac=True, deblock=True))
        + nal
    )
    return (stream, *g.frame(0, 0, w, h))


def decode_h264_cabac(payload: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode the IDR picture of an Annex B CABAC stream (Intra_16x16 +
    I_4x4, 4:2:0, frame-coded) to (y, cb, cr) planes."""
    sps = pps = planes = None
    for nal in _split_nals(bytes(payload)):
        ntype = nal[0] & 0x1F
        rbsp = _ep_remove(nal[1:])
        if ntype == 7:
            sps = _parse_sps(rbsp)
        elif ntype == 8:
            pps = _parse_pps(rbsp)
            if not pps["cabac"]:
                raise ValueError(
                    "CAVLC PPS given to the CABAC decoder — use "
                    "h264_intra.decode_h264_frame, which dispatches"
                )
        elif ntype == 5:
            if sps is None or pps is None:
                raise ValueError("IDR slice before its SPS and PPS")
            r = BitReader(rbsp)
            qp, _ = _parse_slice_header(r, sps, pps)
            g = _MbGrid(sps["mbw"], sps["mbh"])
            _decode_cabac_mbs(r, _Ctx(qp), g, qp)
            planes = g.frame(sps["x0"], sps["y0"], sps["w"], sps["h"])
    if planes is None:
        raise ValueError("no IDR slice found")
    return planes


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def synthesize_h264_cabac_frames(
    docs: DataFrame,
    id_col: str = "doc_id",
    mb_cols: int = 2,
    mb_rows: int = 2,
) -> DataFrame:
    """Per-document 32x32 CABAC IDR frame (2x2 macroblocks — the
    smallest frame where every neighbor-context class of mb_type,
    CBP and coded_block_flag fires, with the I16/I4x4 checkerboard
    giving each macroblock a neighbor of the OTHER class): luma
    per-4x4-constant v = (id*13 + gy*41 + gx*59) % 256 with the
    I_4x4 preferred mode cycling over the constant-prediction modes
    (vertical/horizontal/DC by id%3), chroma constant per 4x4 block
    with (id*23 + cy*31 + cx*41) % 256 / (id*29 + cy*37 + cx*43)
    % 256 — NONZERO chroma DC+AC residuals through the cat3/cat4
    coded_block_flag / significance / level contexts (r10 fixture
    sweep: the r9 chroma-DC 16x shrink hid for eight rounds behind
    constant-128 chroma; per-4x4-constant chroma is exact at QP 0
    through the fixed 2x2 Hadamard path, so the oracle now pins the
    chroma scale independently). Remaining luma modes are covered by
    the random-plane bit-exact round-trips in
    tests/test_h264_cabac.py."""
    out_schema = f"{id_col} long, content binary"

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                i = int(i)
                h, w = mb_rows * 16, mb_cols * 16
                gy, gx = np.mgrid[0 : h // 4, 0 : w // 4]
                y = ((i * 13 + gy * 41 + gx * 59) % 256).repeat(4, 0).repeat(4, 1)
                cy_, cx_ = np.mgrid[0 : h // 8, 0 : w // 8]
                cb = ((i * 23 + cy_ * 31 + cx_ * 41) % 256).repeat(
                    4, 0
                ).repeat(4, 1).astype(np.uint8)
                cr = ((i * 29 + cy_ * 37 + cx_ * 43) % 256).repeat(
                    4, 0
                ).repeat(4, 1).astype(np.uint8)
                stream, ryp, rcbp, rcrp = encode_h264_cabac_intra(
                    y.astype(np.uint8), cb, cr, qp=0, i4x4_mode=i % 3,
                )
                # QP-0 exactness contract: the fixture formulas ARE
                # the decoded output (loud here, recomputed by the
                # oracle there)
                if not (
                    np.array_equal(ryp, y) and np.array_equal(rcbp, cb)
                    and np.array_equal(rcrp, cr)
                ):
                    raise AssertionError(
                        f"doc {i}: QP-0 per-4x4-constant encode not "
                        "exact — fixture contract broken"
                    )
                ids.append(i)
                blobs.append(stream)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "content": pd.Series(blobs, dtype=object),
                }
            )

    return docs.select(id_col).mapInPandas(build, out_schema)


def h264_cabac_frame_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode CABAC streams and emit plane statistics the oracle
    recomputes from the fixture formulas."""
    out_schema = (
        f"{id_col} long, width int, height int, mean_y double,"
        " sum_y long, sum_cb long, sum_cr long"
    )

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, content in zip(pdf[id_col], pdf[content_col]):
                y, cb, cr = decode_h264_cabac(bytes(content))
                rows.append(
                    (
                        int(i),
                        int(y.shape[1]),
                        int(y.shape[0]),
                        float(y.mean()),
                        int(y.sum()),
                        int(cb.sum()),
                        int(cr.sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "mean_y",
                         "sum_y", "sum_cb", "sum_cr"],
            )

    return media.mapInPandas(feat, out_schema)
