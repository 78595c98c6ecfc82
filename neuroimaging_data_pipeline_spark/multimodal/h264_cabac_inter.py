"""H.264 CABAC entropy layer for P slices (clause 9.3, inter syntax).

r10: the MACHINERY half of the "CABAC inter" gate. Everything the
published spec defines ALGORITHMICALLY is implemented and pinned:

- the inter binarizations (9.3.2.5): P mb_type prefix tree
  ('000' P_L0_16x16, '011' 16x8, '010' 8x16, '001' P_8x8) over
  ctxIdx 14..16, P sub_mb_type ('1' 8x8, '00' 8x4, '011' 4x8,
  '010' 4x4) over 21..23, unary ref_idx over 54/58/59 with the
  refIdxZeroFlag neighbor increment, and mvd as UEG3 (TU prefix
  cMax 9 over 40..46 / 47..53 with the absMvdComp-sum bin-0
  increment thresholds 3/32, EG3 bypass suffix, bypass sign);
- mb_skip_flag with the condTermFlag neighbor contexts (11..13);
- INTER coded_block_flag neighbor derivation (9.3.3.1.1.9: an
  unavailable neighbor contributes 0 when the current macroblock is
  inter — the opposite of the intra rule the I-slice module uses);
- the full P macroblock layer: skip, 16x16/16x8/8x16 partitions,
  P_8x8 sub-partitions, te(v)-equivalent ref_idx at nra 2, CBP,
  mb_qp_delta and cat-2/3/4 residuals through the SHARED arithmetic
  engine, residual coder and reconstruction helpers (h264_cabac /
  h264_inter) — encoder<->decoder bit-exact by construction;
- INTRA-IN-P (r11): Intra_16x16 macroblocks inside CABAC P slices —
  the 9.3.2.5 intra mb_type prefix '1' + I-style suffix on contexts
  17..20 with the mid-string terminate bin, intra_chroma_pred_mode,
  cat-0/1 luma + chroma residuals under the INTRA coded_block_flag
  neighbor rule (the parent _MbState increments) bordering inter
  neighbors under the inter rule — so the CABAC P layer is
  structurally COMPLETE and the eventual 9.3.1.1 init-table
  transcription is data-only.

What is NOT here (the honest remaining gate, raised loudly): the
P/B columns of the context-initialization tables (9.3.1.1, the
published (m, n) value tables per cabac_init_idc). Those are pure
DATA; every code path in this module is exercised end-to-end by
injecting an explicit init table (any (m, n) assignment yields a
self-consistent arithmetic code, which is exactly why round trips
pin the MACHINERY while conformance against externally-encoded
CABAC-inter streams stays gated until the spec columns land).
``P_CTX_IDS`` enumerates precisely the contexts a table must cover.

Reference parity: preprocess_parallel.sh:59-182 shells out for
video; CABAC+inter is the profile virtually all real H.264 uses.
"""

from __future__ import annotations

import numpy as np

from neuroimaging_data_pipeline_spark.bitio import BitReader, BitWriter
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _nal,
    _parse_sps,
    _pps_rbsp,
    _split_nals,
    _sps_rbsp,
    _ep_remove,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
    _Ctx,
    _Dec,
    _Enc,
    _MbState,
    _dec_residual,
    _enc_residual,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    _CF,
    _H4,
    _ZBLK,
    _ZIG,
    _ZIGA,
    _ZIGA1,
    _chroma_fwd,
    _chroma_qp,
    _pred8_chroma_dc,
    _pred16,
    _quant,
    _quant_dc4,
    _recon_chroma8,
    _recon_mb16,
)

# Context ids a P-slice init table must cover (beyond the engine):
# mb_skip 11..13, mb_type prefix 14..16 + intra suffix 17..20 (r11:
# intra-in-P), sub_mb_type 21..23, mvd x/y 40..53, ref_idx 54..59,
# mb_qp_delta 60..63, intra_chroma_pred_mode 64..67, CBP 73..84,
# coded_block_flag 85..104, significance maps 105..226, levels
# 227..275.
P_CTX_IDS = tuple(
    list(range(11, 24)) + list(range(40, 68))
    + list(range(73, 276))
)

_MB_BIN = {"16x16": (0, 0, 0), "16x8": (0, 1, 1), "8x16": (0, 1, 0),
           "8x8": (0, 0, 1)}
_SUB_BIN = {"8x8": (1,), "8x4": (0, 0), "4x8": (0, 1, 1),
            "4x4": (0, 1, 0)}


def make_p_ctx(qp: int, init_table: dict) -> _Ctx:
    """Context variables from an EXPLICIT (m, n) table (9.3.1.1
    initialization arithmetic). The spec P/B columns are the
    remaining transcription gate; tests inject synthetic tables."""
    missing = [c for c in P_CTX_IDS if c not in init_table]
    if missing:
        raise NotImplementedError(
            "CABAC P-slice context initialization: the spec (m, n) "
            f"columns are not transcribed (first missing ctxIdx "
            f"{missing[0]} of {len(missing)}); inject an explicit "
            "table to drive the machinery"
        )
    ctxs = _Ctx.__new__(_Ctx)
    ctxs.state, ctxs.mps = {}, {}
    q = min(max(qp, 0), 51)
    for ctx, (m, n) in init_table.items():
        pre = min(max(1, ((m * q) >> 4) + n), 126)
        if pre <= 63:
            ctxs.state[ctx], ctxs.mps[ctx] = 63 - pre, 0
        else:
            ctxs.state[ctx], ctxs.mps[ctx] = pre - 64, 1
    return ctxs


def synthetic_p_init(seed: int = 0) -> dict:
    """A deterministic NON-SPEC init table covering P_CTX_IDS —
    clearly labeled: it exercises the machinery, it does not decode
    externally-encoded streams."""
    return {
        c: (((seed * 3 + c * 5) % 41) - 20, 30 + (seed + c * 7) % 60)
        for c in P_CTX_IDS
    }


class _MbStateP(_MbState):
    """Inter-aware coded_block_flag increments (9.3.3.1.1.9): when
    the CURRENT macroblock is inter, an unavailable or intra-absent
    neighbor block contributes 0 (the intra module hardcodes 1).
    Also tracks skip flags and per-4x4 absolute mvd components."""

    def __init__(self, mbw: int, mbh: int) -> None:
        super().__init__(mbw, mbh)
        self.skip = np.zeros((mbh, mbw), bool)
        self.absmvd = np.zeros((mbh * 4, mbw * 4, 2), np.int64)

    def skip_inc(self, mx: int, my: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0 or not self.coded[ny, nx]:
                return 0
            return 0 if self.skip[ny, nx] else 1

        return cond(mx - 1, my) + cond(mx, my - 1)

    def cbf_inc_luma4_inter(self, gx: int, gy: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0 or not self.coded[ny // 4, nx // 4]:
                return 0
            return int(self.cbf_luma4[ny, nx])

        return cond(gx - 1, gy) + 2 * cond(gx, gy - 1)

    def cbf_inc_cdc_inter(self, mx: int, my: int, pi: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0 or not self.coded[ny, nx]:
                return 0
            return int(self.cbf_cdc[pi][ny, nx])

        return cond(mx - 1, my) + 2 * cond(mx, my - 1)

    def cbf_inc_c4_inter(self, cx: int, cy: int, pi: int) -> int:
        def cond(nx: int, ny: int) -> int:
            if nx < 0 or ny < 0 or not self.coded[ny // 2, nx // 2]:
                return 0
            return int(self.cbf_c4[pi][ny, nx])

        return cond(cx - 1, cy) + 2 * cond(cx, cy - 1)

    def ref_inc(self, gx: int, gy: int, refgrid) -> int:
        """9.3.3.1.1.6: refIdxZeroFlag of the left / above partition
        (> 0 means contribute)."""
        def cond(nx: int, ny: int) -> int:
            h, w = refgrid.shape
            if nx < 0 or ny < 0 or ny >= h or nx >= w:
                return 0
            return 1 if refgrid[ny, nx] > 0 else 0

        return cond(gx - 1, gy) + 2 * cond(gx, gy - 1)

    def mvd_inc(self, gx: int, gy: int, comp: int) -> int:
        """9.3.3.1.1.7: e = absMvdComp(A) + absMvdComp(B); bin 0
        increment 0 / 1 / 2 by the 3 / 32 thresholds."""
        e = 0
        if gx > 0:
            e += int(self.absmvd[gy, gx - 1, comp])
        if gy > 0:
            e += int(self.absmvd[gy - 1, gx, comp])
        if e < 3:
            return 0
        return 1 if e <= 32 else 2


# ---------------------------------------------------------------------------
# Element codecs (encoder + decoder pairs)
# ---------------------------------------------------------------------------


def _enc_mb_type_p(enc: _Enc, ctxs: _Ctx, mode: str) -> None:
    bins = _MB_BIN[mode]
    for i, b in enumerate(bins):
        enc.decision(ctxs, 14 + i, b)


def _enc_mb_type_p_i16(enc: _Enc, ctxs: _Ctx, cbpl15: bool,
                       cbpc: int, pm: int = 2) -> None:
    """Intra_16x16 mb_type inside a P slice (9.3.2.5): prefix '1'
    at ctx 14, then the I-slice-style suffix on the P suffix
    contexts (Table 9-39 ctxIdxOffset 17: binIdx 0 -> 17,
    1 -> terminate, 2 -> 18, 3 -> 19, binIdx >= 4 -> 20)."""
    enc.decision(ctxs, 14, 1)  # intra prefix
    enc.decision(ctxs, 17, 1)  # not I_4x4
    enc.terminate(0)  # not I_PCM
    enc.decision(ctxs, 18, 1 if cbpl15 else 0)
    if cbpc == 0:
        enc.decision(ctxs, 19, 0)
    else:
        enc.decision(ctxs, 19, 1)
        enc.decision(ctxs, 20, 1 if cbpc == 2 else 0)
    enc.decision(ctxs, 20, (pm >> 1) & 1)
    enc.decision(ctxs, 20, pm & 1)


def _dec_mb_type_p(dec: _Dec, ctxs: _Ctx):
    """Inter partition mode string, or the tuple
    ('i16', cbpl15, cbpc, pm) for an intra macroblock (r11)."""
    if dec.decision(ctxs, 14):
        if not dec.decision(ctxs, 17):
            raise NotImplementedError(
                "I_4x4 inside a CABAC P slice — this encoder emits "
                "Intra_16x16 only"
            )
        if dec.terminate():
            raise NotImplementedError(
                "I_PCM inside a CABAC P slice — never emitted"
            )
        cbpl15 = bool(dec.decision(ctxs, 18))
        if dec.decision(ctxs, 19):
            cbpc = 2 if dec.decision(ctxs, 20) else 1
        else:
            cbpc = 0
        pm = (dec.decision(ctxs, 20) << 1) | dec.decision(ctxs, 20)
        return ("i16", cbpl15, cbpc, pm)
    if dec.decision(ctxs, 15):
        return "16x8" if dec.decision(ctxs, 16) else "8x16"
    return "8x8" if dec.decision(ctxs, 16) else "16x16"


def _enc_sub_mb_type(enc: _Enc, ctxs: _Ctx, sm: str) -> None:
    for i, b in enumerate(_SUB_BIN[sm]):
        enc.decision(ctxs, 21 + i, b)


def _dec_sub_mb_type(dec: _Dec, ctxs: _Ctx) -> str:
    if dec.decision(ctxs, 21):
        return "8x8"
    if not dec.decision(ctxs, 22):
        return "8x4"
    return "4x8" if dec.decision(ctxs, 23) else "4x4"


def _enc_ref_idx(enc: _Enc, ctxs: _Ctx, inc: int, ref: int) -> None:
    """Unary ref_idx: bin 0 at 54 + inc, bin 1 at 58, further at 59."""
    for k in range(ref):
        ctx = 54 + inc if k == 0 else (58 if k == 1 else 59)
        enc.decision(ctxs, ctx, 1)
    ctx = 54 + inc if ref == 0 else (58 if ref == 1 else 59)
    enc.decision(ctxs, ctx, 0)


def _dec_ref_idx(dec: _Dec, ctxs: _Ctx, inc: int, nra: int) -> int:
    ref = 0
    while True:
        ctx = 54 + inc if ref == 0 else (58 if ref == 1 else 59)
        if not dec.decision(ctxs, ctx):
            return ref
        ref += 1
        if ref >= nra + 4:
            raise ValueError("runaway ref_idx")


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


def _enc_cbp(enc: _Enc, ctxs: _Ctx, st: _MbStateP, mx: int, my: int,
             cbp_luma: int, cbpc: int) -> None:
    for blk in range(4):
        enc.decision(ctxs, 73 + st.cbp_luma_inc(mx, my, blk, cbp_luma),
                     (cbp_luma >> blk) & 1)
    enc.decision(ctxs, 77 + st.cbp_chroma_inc(mx, my, 0),
                 1 if cbpc > 0 else 0)
    if cbpc > 0:
        enc.decision(ctxs, 77 + st.cbp_chroma_inc(mx, my, 1),
                     1 if cbpc == 2 else 0)


def _dec_cbp(dec: _Dec, ctxs: _Ctx, st: _MbStateP, mx: int,
             my: int) -> tuple[int, int]:
    cbp_luma = 0
    for blk in range(4):
        if dec.decision(
            ctxs, 73 + st.cbp_luma_inc(mx, my, blk, cbp_luma)
        ):
            cbp_luma |= 1 << blk
    cbpc = 0
    if dec.decision(ctxs, 77 + st.cbp_chroma_inc(mx, my, 0)):
        cbpc = 2 if dec.decision(
            ctxs, 77 + st.cbp_chroma_inc(mx, my, 1)
        ) else 1
    return cbp_luma, cbpc


# ---------------------------------------------------------------------------
# Slice-level encoder / decoder
# ---------------------------------------------------------------------------


def _p_slice_header_cabac(sl: BitWriter, qp: int, frame_num: int,
                          nra: int) -> None:
    sl.ue(0)  # first_mb_in_slice
    sl.ue(5)  # slice_type P (all slices)
    sl.ue(0)  # pps id
    sl.u(frame_num % 16, 4)
    if nra != 1:
        sl.u(1, 1)
        sl.ue(nra - 1)
    else:
        sl.u(0, 1)
    sl.u(0, 1)  # ref_pic_list_modification_flag_l0
    sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
    sl.ue(0)  # cabac_init_idc
    sl.se(qp - 26)
    sl.ue(1)  # disable_deblocking_filter_idc
    while sl.n % 8:
        sl.u(1, 1)  # cabac_alignment_one_bit


def _parse_p_slice_header_cabac(r: BitReader) -> tuple[int, int]:
    r.ue()
    stype = r.ue()
    if stype % 5 != 0:
        raise NotImplementedError("only P slices in the CABAC-P path")
    r.ue()
    r.u(4)
    nra = 1
    if r.u(1):
        nra = r.ue() + 1
    if r.u(1):
        raise NotImplementedError("ref_pic_list_modification")
    if r.u(1):
        raise NotImplementedError("adaptive ref marking")
    idc = r.ue()  # cabac_init_idc
    if idc != 0:
        raise NotImplementedError(
            f"cabac_init_idc {idc}: only column 0 is wired"
        )
    qp = 26 + r.se()
    r.ue()  # disable_deblocking_filter_idc
    r.align()
    return qp, nra


def encode_h264_cabac_p_gop(
    frames: list,
    specs_per_p: list,
    qp: int = 0,
    num_refs: int = 1,
    init_table: dict | None = None,
) -> tuple[bytes, list]:
    """CABAC twin of h264_inter.encode_h264_p_gop for the inter
    macroblock classes (skip / 16x16 / 16x8 / 8x16 / P_8x8 with
    per-8x8 ref_idx): a CABAC IDR anchor (the proven I-slice
    encoder) followed by CABAC P slices. ``init_table`` drives the
    P context initialization — REQUIRED until the spec P/B columns
    are transcribed (see module docstring)."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
        encode_h264_cabac_intra,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        _PARTS,
        _SUBPARTS,
        _mc_mb,
        _mv_ref,
        _pad_refs,
        _recon_inter_mb,
        _residual_from_target,
        _MvState,
    )

    if init_table is None:
        raise NotImplementedError(
            "CABAC P slices need the 9.3.1.1 P-column init data "
            "(not transcribed) or an explicit init_table"
        )
    if len(frames) < 2 or len(specs_per_p) != len(frames) - 1:
        raise ValueError("anchor + one spec list per P frame")
    y0, cb0, cr0 = frames[0]
    h, w = y0.shape
    if h % 16 or w % 16:
        raise ValueError("inter sequences require dimensions % 16 == 0")
    mbw, mbh = w // 16, h // 16
    qpc = _chroma_qp(qp)

    intra_stream, r0y, r0cb, r0cr = encode_h264_cabac_intra(
        y0, cb0, cr0, qp=qp
    )
    idr_nal = next(
        n for n in _split_nals(intra_stream) if (n[0] & 0x1F) == 5
    )
    stream = (
        _nal(3, 7, _sps_rbsp(mbw, mbh, w, h, num_refs))
        + _nal(3, 8, _pps_rbsp(cabac=True, deblock=True))
        + b"\x00\x00\x00\x01" + idr_nal
    )
    recons = [(r0y, r0cb, r0cr)]
    refs = [(r0y, r0cb, r0cr)]
    for fi, (target, specs) in enumerate(
        zip(frames[1:], specs_per_p), 1
    ):
        nra = min(num_refs, len(refs))
        padded = _pad_refs([rf for rf in refs[:nra]])
        ry = np.zeros((h, w), np.int64)
        rcb = np.zeros((h // 2, w // 2), np.int64)
        rcr = np.zeros((h // 2, w // 2), np.int64)
        recon = (ry, rcb, rcr)
        mvs = _MvState(mbw, mbh)
        st = _MbStateP(mbw, mbh)
        sl = BitWriter()
        _p_slice_header_cabac(sl, qp, fi, nra)
        ctxs = make_p_ctx(qp, init_table)
        enc = _Enc(sl)
        for my in range(mbh):
            for mx in range(mbw):
                spec = specs[my * mbw + mx]
                kind = spec[0]
                enc.decision(ctxs, 11 + st.skip_inc(mx, my),
                             1 if kind == "skip" else 0)
                if kind == "skip":
                    mv = mvs.skip_mv(mx, my)
                    py, pcb, pcr = _mc_mb(
                        [padded], mx, my, [(0, 0, 4, 4, mv, 0, None, 0)]
                    )
                    ry[my * 16 : my * 16 + 16,
                       mx * 16 : mx * 16 + 16] = np.clip(py, 0, 255)
                    rcb[my * 8 : my * 8 + 8,
                        mx * 8 : mx * 8 + 8] = np.clip(pcb, 0, 255)
                    rcr[my * 8 : my * 8 + 8,
                        mx * 8 : mx * 8 + 8] = np.clip(pcr, 0, 255)
                    mvs.fill(mx * 4, my * 4, 4, 4, mv, 0)
                    st.skip[my, mx] = True
                    st.coded[my, mx] = True
                    st.prev_qp_delta_nz = 0
                    enc.terminate(0)
                    continue
                if kind == "i16":
                    _enc_i16_in_p(enc, ctxs, st, mvs, recon, target,
                                  mx, my, qp, qpc)
                    enc.terminate(
                        1 if my == mbh - 1 and mx == mbw - 1 else 0
                    )
                    continue
                if kind in ("i4", "ipcm"):
                    raise NotImplementedError(
                        "I_4x4 / I_PCM inside a CABAC P slice — "
                        "only Intra_16x16 is emitted"
                    )
                if kind == "8x8":
                    _enc_mb_type_p(enc, ctxs, "8x8")
                    subs = []
                    for entry in spec[1]:
                        sm, mvl, rf = (entry if len(entry) == 3
                                       else (*entry, 0))
                        subs.append(
                            (sm, [np.asarray(m, np.int64) for m in mvl],
                             rf)
                        )
                    for sm, _, _ in subs:
                        _enc_sub_mb_type(enc, ctxs, sm)
                    if nra >= 2:
                        for k, (_, _, rf) in enumerate(subs):
                            gx = mx * 4 + (k & 1) * 2
                            gy = my * 4 + (k >> 1) * 2
                            _enc_ref_idx(
                                enc, ctxs,
                                st.ref_inc(gx, gy, mvs.ref), rf,
                            )
                    placed = []
                    for k, (sm, mvl, rf) in enumerate(subs):
                        ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
                        for (sx4, sy4, w4, h4), mv in zip(
                            _SUBPARTS[sm], mvl
                        ):
                            gx = mx * 4 + ox8 + sx4
                            gy = my * 4 + oy8 + sy4
                            pmv = mvs.predict(gx, gy, w4, rf)
                            for comp, base in ((0, 40), (1, 47)):
                                d = int(mv[comp] - pmv[comp])
                                _enc_mvd(
                                    enc, ctxs, base,
                                    st.mvd_inc(gx, gy, comp), d,
                                )
                                st.absmvd[gy : gy + h4,
                                          gx : gx + w4, comp] = abs(d)
                            mvs.fill(gx, gy, w4, h4, mv, rf)
                            placed.append(
                                (ox8 + sx4, oy8 + sy4, w4, h4, mv, rf,
                                 None, 0)
                            )
                else:
                    mode = kind
                    if mode not in _PARTS:
                        raise ValueError(f"bad P mode {mode!r}")
                    parts = [_mv_ref(e) for e in spec[1]]
                    _enc_mb_type_p(enc, ctxs, mode)
                    if nra >= 2:
                        for pidx, ((ox4, oy4, w4, h4),
                                   (mv, rf)) in enumerate(
                            zip(_PARTS[mode], parts)
                        ):
                            gx, gy = mx * 4 + ox4, my * 4 + oy4
                            _enc_ref_idx(
                                enc, ctxs,
                                st.ref_inc(gx, gy, mvs.ref), rf,
                            )
                    placed = []
                    for pidx, ((ox4, oy4, w4, h4),
                               (mv, rf)) in enumerate(
                        zip(_PARTS[mode], parts)
                    ):
                        gx, gy = mx * 4 + ox4, my * 4 + oy4
                        pmv = mvs.pred_for_partition(
                            mode, pidx, gx, gy, w4, rf
                        )
                        for comp, base in ((0, 40), (1, 47)):
                            d = int(mv[comp] - pmv[comp])
                            _enc_mvd(enc, ctxs, base,
                                     st.mvd_inc(gx, gy, comp), d)
                            st.absmvd[gy : gy + h4,
                                      gx : gx + w4, comp] = abs(d)
                        mvs.fill(gx, gy, w4, h4, mv, rf)
                        placed.append((ox4, oy4, w4, h4, mv, rf, None, 0))
                py, pcb, pcr = _mc_mb([padded], mx, my, placed)
                cbp, zl, cdcz, cacz = _residual_from_target(
                    target, mx, my, py, pcb, pcr, qp, qpc
                )
                cbp_luma, cbpc = cbp & 15, cbp >> 4
                _enc_cbp(enc, ctxs, st, mx, my, cbp_luma, cbpc)
                if cbp:
                    _enc_qp_delta0(enc, ctxs, st)
                else:
                    st.prev_qp_delta_nz = 0
                _code_inter_residuals_enc(
                    enc, ctxs, st, mx, my, cbp_luma, cbpc, zl, cdcz,
                    cacz,
                )
                _recon_inter_mb(recon, mx, my, py, pcb, pcr, cbp,
                                zl, cdcz, cacz, qp, qpc)
                st.skip[my, mx] = False
                st.coded[my, mx] = True
                st.cbp_luma[my, mx] = cbp_luma
                st.cbp_chroma[my, mx] = cbpc
                st.has_lumadc[my, mx] = False
                enc.terminate(
                    1 if my == mbh - 1 and mx == mbw - 1 else 0
                )
        sl.align_zero()
        stream += _nal(2, 1, sl.bytes_())
        recons.append(recon)
        refs.insert(0, recon)
        del refs[num_refs:]
    return stream, recons


def _enc_qp_delta0(enc: _Enc, ctxs: _Ctx, st: _MbStateP) -> None:
    inc = 1 if st.prev_qp_delta_nz else 0
    enc.decision(ctxs, 60 + inc, 0)
    st.prev_qp_delta_nz = 0


def _dec_qp_delta0(dec: _Dec, ctxs: _Ctx, st: _MbStateP) -> None:
    inc = 1 if st.prev_qp_delta_nz else 0
    if dec.decision(ctxs, 60 + inc):
        raise NotImplementedError(
            "nonzero mb_qp_delta in the CABAC-P path"
        )
    st.prev_qp_delta_nz = 0


def _i16_transform(recon, target, mx, my, qp, qpc):
    """Intra_16x16 DC prediction + forward transform/quant for one
    macroblock against the CURRENT reconstruction (identical math to
    the I-slice module). Returns (pred, zdc, acz, cbp_luma,
    {pi: (cpred, cdcz, cacz)}, cbpc)."""
    ry, rcb, rcr = recon
    pred = _pred16(ry, my, mx, 2)
    resid = target[0][my * 16 : my * 16 + 16,
                      mx * 16 : mx * 16 + 16].astype(np.int64) - pred
    blocks = resid.reshape(4, 4, 4, 4).transpose(0, 2, 1, 3)
    wm = np.matmul(np.matmul(_CF, blocks), _CF.T)
    dc = wm[..., 0, 0]
    acz = _quant(wm, qp)
    acz[..., 0, 0] = 0
    zdc = _quant_dc4((_H4 @ dc @ _H4) // 2, qp)
    cbp_luma = 15 if acz.any() else 0
    cpred = (_pred8_chroma_dc(rcb, my, mx), _pred8_chroma_dc(rcr, my, mx))
    cdcz, cacz, cbpc = _chroma_fwd(target, cpred, mx, my, qpc)
    chroma = {pi: (cpred[pi], cdcz[pi], cacz[pi]) for pi in (0, 1)}
    return pred, zdc, acz, cbp_luma, chroma, cbpc


def _i16_in_p_recon_state(st, mvs, mx, my, cbp_luma, cbpc):
    """Shared cross-mb state updates for an intra MB in a P slice:
    the motion field sees an intra block; absMvdComp is 0
    (9.3.3.1.1.7)."""
    mvs.mark_intra(mx, my)
    st.skip[my, mx] = False
    st.coded[my, mx] = True
    st.is_i4x4[my, mx] = False
    st.cbp_luma[my, mx] = cbp_luma
    st.cbp_chroma[my, mx] = cbpc
    st.absmvd[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 0


def _enc_i16_in_p(enc, ctxs, st, mvs, recon, target, mx, my, qp,
                  qpc) -> None:
    """Encode one Intra_16x16 (DC) macroblock inside a CABAC P
    slice and reconstruct it in place. coded_block_flag contexts use
    the INTRA neighbor rule (current mb intra: unavailable neighbor
    contributes 1) — the parent _MbState increments."""
    pred, zdc, acz, cbp_luma, chroma, cbpc = _i16_transform(
        recon, target, mx, my, qp, qpc
    )
    _enc_mb_type_p_i16(enc, ctxs, cbp_luma == 15, cbpc)
    enc.decision(ctxs, 64, 0)  # intra_chroma_pred_mode: DC
    _enc_qp_delta0(enc, ctxs, st)
    dccf = zdc.ravel()[_ZIGA].tolist()
    st.cbf_lumadc[my, mx] = _enc_residual(
        enc, ctxs, dccf, 0, st.cbf_inc_lumadc(mx, my)
    )
    st.has_lumadc[my, mx] = True
    if cbp_luma:
        for bx, by in _ZBLK:
            gx, gy = mx * 4 + bx, my * 4 + by
            cf = acz[by, bx].ravel()[_ZIGA1].tolist()
            st.cbf_luma4[gy, gx] = _enc_residual(
                enc, ctxs, cf, 1, st.cbf_inc_luma4(gx, gy)
            )
    else:
        st.cbf_luma4[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 0
    for pi in (0, 1):
        if cbpc > 0:
            zd = chroma[pi][1]
            cf = [int(zd[0, 0]), int(zd[0, 1]),
                  int(zd[1, 0]), int(zd[1, 1])]
            st.cbf_cdc[pi][my, mx] = _enc_residual(
                enc, ctxs, cf, 3, st.cbf_inc_cdc(mx, my, pi)
            )
        else:
            st.cbf_cdc[pi][my, mx] = 0
    for pi in (0, 1):
        if cbpc > 1:
            az = chroma[pi][2]
            for by in range(2):
                for bx in range(2):
                    cx, cy = mx * 2 + bx, my * 2 + by
                    cf = az[by, bx].ravel()[_ZIGA1].tolist()
                    st.cbf_c4[pi][cy, cx] = _enc_residual(
                        enc, ctxs, cf, 4, st.cbf_inc_c4(cx, cy, pi)
                    )
        else:
            st.cbf_c4[pi][my * 2 : my * 2 + 2,
                          mx * 2 : mx * 2 + 2] = 0
    ry, rcb, rcr = recon
    ry[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = _recon_mb16(
        pred, acz if cbp_luma else None, zdc, qp
    )
    for pi, reconp in ((0, rcb), (1, rcr)):
        cp, zd, az = chroma[pi]
        reconp[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
            _recon_chroma8(cp, az if cbpc > 1 else None,
                           zd if cbpc > 0 else None, qpc)
        )
    _i16_in_p_recon_state(st, mvs, mx, my, cbp_luma, cbpc)


def _dec_i16_in_p(dec, ctxs, st, mvs, recon, mx, my, qp, qpc,
                  cbpl15, cbpc, pm) -> None:
    """Decode the Intra_16x16 payload after _dec_mb_type_p returned
    the intra tuple, and reconstruct in place."""
    cbp_luma = 15 if cbpl15 else 0
    if dec.decision(ctxs, 64):
        raise NotImplementedError(
            "chroma prediction mode != DC inside a CABAC P slice"
        )
    _dec_qp_delta0(dec, ctxs, st)
    dccf, cbf = _dec_residual(
        dec, ctxs, 0, st.cbf_inc_lumadc(mx, my), 16
    )
    zdc = np.zeros(16, np.int64)
    zdc[_ZIGA] = dccf
    zdc = zdc.reshape(4, 4)
    st.cbf_lumadc[my, mx] = cbf
    st.has_lumadc[my, mx] = True
    acz = np.zeros((4, 4, 4, 4), np.int64)
    if cbp_luma:
        for bx, by in _ZBLK:
            gx, gy = mx * 4 + bx, my * 4 + by
            cf, cbf4 = _dec_residual(
                dec, ctxs, 1, st.cbf_inc_luma4(gx, gy), 15
            )
            z = np.zeros(16, np.int64)
            z[_ZIGA1] = cf
            acz[by, bx] = z.reshape(4, 4)
            st.cbf_luma4[gy, gx] = cbf4
    else:
        st.cbf_luma4[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 0
    cdcz = {0: np.zeros((2, 2), np.int64),
            1: np.zeros((2, 2), np.int64)}
    cacz = {0: np.zeros((2, 2, 4, 4), np.int64),
            1: np.zeros((2, 2, 4, 4), np.int64)}
    for pi in (0, 1):
        if cbpc > 0:
            cf, cbf = _dec_residual(
                dec, ctxs, 3, st.cbf_inc_cdc(mx, my, pi), 4
            )
            cdcz[pi] = np.array(
                [[cf[0], cf[1]], [cf[2], cf[3]]], np.int64
            )
            st.cbf_cdc[pi][my, mx] = cbf
        else:
            st.cbf_cdc[pi][my, mx] = 0
    for pi in (0, 1):
        if cbpc > 1:
            for by in range(2):
                for bx in range(2):
                    cx, cy = mx * 2 + bx, my * 2 + by
                    cf, cbf = _dec_residual(
                        dec, ctxs, 4, st.cbf_inc_c4(cx, cy, pi), 15
                    )
                    z = np.zeros(16, np.int64)
                    z[_ZIGA1] = cf
                    cacz[pi][by, bx] = z.reshape(4, 4)
                    st.cbf_c4[pi][cy, cx] = cbf
        else:
            st.cbf_c4[pi][my * 2 : my * 2 + 2,
                          mx * 2 : mx * 2 + 2] = 0
    ry, rcb, rcr = recon
    pred = _pred16(ry, my, mx, pm)
    ry[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = _recon_mb16(
        pred, acz if cbp_luma else None, zdc, qp
    )
    for pi, reconp in ((0, rcb), (1, rcr)):
        cp = _pred8_chroma_dc(reconp, my, mx)
        reconp[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = (
            _recon_chroma8(cp, cacz[pi] if cbpc > 1 else None,
                           cdcz[pi] if cbpc > 0 else None, qpc)
        )
    _i16_in_p_recon_state(st, mvs, mx, my, cbp_luma, cbpc)


def _code_inter_residuals_enc(enc, ctxs, st, mx, my, cbp_luma, cbpc,
                              zl, cdcz, cacz) -> None:
    for g in range(4):
        for k in range(4):
            bx, by = _ZBLK[g * 4 + k]
            gx, gy = mx * 4 + bx, my * 4 + by
            if not cbp_luma & (1 << g):
                st.cbf_luma4[gy, gx] = 0
                continue
            cf = zl[by, bx].ravel()[_ZIGA].tolist()
            st.cbf_luma4[gy, gx] = _enc_residual(
                enc, ctxs, cf, 2, st.cbf_inc_luma4_inter(gx, gy)
            )
    for pi in (0, 1):
        if cbpc > 0:
            zd = cdcz[pi]
            cf = [int(zd[0, 0]), int(zd[0, 1]),
                  int(zd[1, 0]), int(zd[1, 1])]
            st.cbf_cdc[pi][my, mx] = _enc_residual(
                enc, ctxs, cf, 3, st.cbf_inc_cdc_inter(mx, my, pi)
            )
        else:
            st.cbf_cdc[pi][my, mx] = 0
    for pi in (0, 1):
        if cbpc > 1:
            for by in range(2):
                for bx in range(2):
                    cx, cy = mx * 2 + bx, my * 2 + by
                    cf = cacz[pi][by, bx].ravel()[_ZIGA1].tolist()
                    st.cbf_c4[pi][cy, cx] = _enc_residual(
                        enc, ctxs, cf, 4,
                        st.cbf_inc_c4_inter(cx, cy, pi),
                    )
        else:
            st.cbf_c4[pi][my * 2 : my * 2 + 2,
                          mx * 2 : mx * 2 + 2] = 0


def decode_h264_cabac_p(
    payload: bytes, init_table: dict | None = None
) -> list:
    """Decode a CABAC IDR + P stream produced by
    encode_h264_cabac_p_gop. The IDR delegates to the proven CABAC
    intra decoder; P slices decode here with ``init_table`` (the
    9.3.1.1 P columns remain the transcription gate)."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
        decode_h264_cabac,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        _PARTS,
        _SUBPARTS,
        _mc_mb,
        _pad_refs,
        _recon_inter_mb,
        _MvState,
    )

    if init_table is None:
        raise NotImplementedError(
            "CABAC P slices need the 9.3.1.1 P-column init data "
            "(not transcribed) or an explicit init_table"
        )
    sps = None
    sps_rbsp = None
    frames: list = []
    refs: list = []
    for nal in _split_nals(bytes(payload)):
        ntype = nal[0] & 0x1F
        rbsp = _ep_remove(nal[1:])
        if ntype == 7:
            sps = _parse_sps(rbsp)
            sps_rbsp = rbsp
        elif ntype == 5:
            sub = (
                _nal(3, 7, sps_rbsp)
                + _nal(3, 8, _pps_rbsp(cabac=True, deblock=True))
                + b"\x00\x00\x00\x01" + nal
            )
            frame = decode_h264_cabac(sub)
            frames.append(frame)
            refs = [frame]
        elif ntype == 1:
            r = BitReader(rbsp)
            qp, nra = _parse_p_slice_header_cabac(r)
            qpc = _chroma_qp(qp)
            mbw, mbh = sps["mbw"], sps["mbh"]
            h, w = mbh * 16, mbw * 16
            padded = _pad_refs(refs[:nra])
            ry = np.zeros((h, w), np.int64)
            rcb = np.zeros((h // 2, w // 2), np.int64)
            rcr = np.zeros((h // 2, w // 2), np.int64)
            recon = (ry, rcb, rcr)
            mvs = _MvState(mbw, mbh)
            st = _MbStateP(mbw, mbh)
            ctxs = make_p_ctx(qp, init_table)
            dec = _Dec(rbsp, r.pos)
            for my in range(mbh):
                for mx in range(mbw):
                    if dec.decision(ctxs, 11 + st.skip_inc(mx, my)):
                        mv = mvs.skip_mv(mx, my)
                        py, pcb, pcr = _mc_mb(
                            [padded], mx, my,
                            [(0, 0, 4, 4, mv, 0, None, 0)],
                        )
                        ry[my * 16 : my * 16 + 16,
                           mx * 16 : mx * 16 + 16] = np.clip(
                            py, 0, 255)
                        rcb[my * 8 : my * 8 + 8,
                            mx * 8 : mx * 8 + 8] = np.clip(
                            pcb, 0, 255)
                        rcr[my * 8 : my * 8 + 8,
                            mx * 8 : mx * 8 + 8] = np.clip(
                            pcr, 0, 255)
                        mvs.fill(mx * 4, my * 4, 4, 4, mv, 0)
                        st.skip[my, mx] = True
                        st.coded[my, mx] = True
                        st.prev_qp_delta_nz = 0
                        if dec.terminate():
                            break
                        continue
                    mode = _dec_mb_type_p(dec, ctxs)
                    if isinstance(mode, tuple):
                        _, cbpl15, cbpc_i, pm = mode
                        _dec_i16_in_p(dec, ctxs, st, mvs, recon,
                                      mx, my, qp, qpc, cbpl15,
                                      cbpc_i, pm)
                        if dec.terminate():
                            break
                        continue
                    if mode == "8x8":
                        sms = [_dec_sub_mb_type(dec, ctxs)
                               for _ in range(4)]
                        srefs = [0] * 4
                        if nra >= 2:
                            for k in range(4):
                                gx = mx * 4 + (k & 1) * 2
                                gy = my * 4 + (k >> 1) * 2
                                srefs[k] = _dec_ref_idx(
                                    dec, ctxs,
                                    st.ref_inc(gx, gy, mvs.ref), nra,
                                )
                        placed = []
                        for k, sm in enumerate(sms):
                            ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
                            for sx4, sy4, w4, h4 in _SUBPARTS[sm]:
                                gx = mx * 4 + ox8 + sx4
                                gy = my * 4 + oy8 + sy4
                                pmv = mvs.predict(gx, gy, w4,
                                                  srefs[k])
                                mv = np.zeros(2, np.int64)
                                for comp, base in ((0, 40), (1, 47)):
                                    d = _dec_mvd(
                                        dec, ctxs, base,
                                        st.mvd_inc(gx, gy, comp),
                                    )
                                    mv[comp] = pmv[comp] + d
                                    st.absmvd[gy : gy + h4,
                                              gx : gx + w4,
                                              comp] = abs(d)
                                mvs.fill(gx, gy, w4, h4, mv, srefs[k])
                                placed.append(
                                    (ox8 + sx4, oy8 + sy4, w4, h4,
                                     mv, srefs[k], None, 0)
                                )
                    else:
                        nparts = len(_PARTS[mode])
                        prefs = [0] * nparts
                        if nra >= 2:
                            for pidx, (ox4, oy4, w4, h4) in enumerate(
                                _PARTS[mode]
                            ):
                                gx, gy = mx * 4 + ox4, my * 4 + oy4
                                prefs[pidx] = _dec_ref_idx(
                                    dec, ctxs,
                                    st.ref_inc(gx, gy, mvs.ref), nra,
                                )
                        placed = []
                        for pidx, (ox4, oy4, w4, h4) in enumerate(
                            _PARTS[mode]
                        ):
                            gx, gy = mx * 4 + ox4, my * 4 + oy4
                            pmv = mvs.pred_for_partition(
                                mode, pidx, gx, gy, w4, prefs[pidx]
                            )
                            mv = np.zeros(2, np.int64)
                            for comp, base in ((0, 40), (1, 47)):
                                d = _dec_mvd(
                                    dec, ctxs, base,
                                    st.mvd_inc(gx, gy, comp),
                                )
                                mv[comp] = pmv[comp] + d
                                st.absmvd[gy : gy + h4,
                                          gx : gx + w4,
                                          comp] = abs(d)
                            mvs.fill(gx, gy, w4, h4, mv, prefs[pidx])
                            placed.append(
                                (ox4, oy4, w4, h4, mv, prefs[pidx],
                                 None, 0)
                            )
                    py, pcb, pcr = _mc_mb([padded], mx, my, placed)
                    cbp_luma, cbpc = _dec_cbp(dec, ctxs, st, mx, my)
                    if cbp_luma or cbpc:
                        _dec_qp_delta0(dec, ctxs, st)
                    else:
                        st.prev_qp_delta_nz = 0
                    zl, cdcz, cacz = _dec_inter_residuals(
                        dec, ctxs, st, mx, my, cbp_luma, cbpc
                    )
                    _recon_inter_mb(
                        recon, mx, my, py, pcb, pcr,
                        cbp_luma | (cbpc << 4), zl, cdcz, cacz, qp,
                        qpc,
                    )
                    st.skip[my, mx] = False
                    st.coded[my, mx] = True
                    st.cbp_luma[my, mx] = cbp_luma
                    st.cbp_chroma[my, mx] = cbpc
                    st.has_lumadc[my, mx] = False
                    if dec.terminate():
                        break
            frames.append(
                (ry.astype(np.uint8),
                 rcb.astype(np.uint8),
                 rcr.astype(np.uint8))
            )
            refs.insert(0, frames[-1])
            del refs[max(1, sps.get("max_refs", 1)):]
    if not frames:
        raise ValueError("no coded frames")
    return frames


def _dec_inter_residuals(dec, ctxs, st, mx, my, cbp_luma, cbpc):
    zl = np.zeros((4, 4, 4, 4), np.int64)
    for g in range(4):
        for k in range(4):
            bx, by = _ZBLK[g * 4 + k]
            gx, gy = mx * 4 + bx, my * 4 + by
            if not cbp_luma & (1 << g):
                st.cbf_luma4[gy, gx] = 0
                continue
            cf, nz = _dec_residual(
                dec, ctxs, 2, st.cbf_inc_luma4_inter(gx, gy), 16
            )
            st.cbf_luma4[gy, gx] = nz
            for i, pos in enumerate(_ZIG):
                zl[by, bx].flat[pos] = cf[i]
    cdcz = {0: np.zeros((2, 2), np.int64),
            1: np.zeros((2, 2), np.int64)}
    cacz = {0: np.zeros((2, 2, 4, 4), np.int64),
            1: np.zeros((2, 2, 4, 4), np.int64)}
    for pi in (0, 1):
        if cbpc > 0:
            cf, nz = _dec_residual(
                dec, ctxs, 3, st.cbf_inc_cdc_inter(mx, my, pi), 4
            )
            st.cbf_cdc[pi][my, mx] = nz
            cdcz[pi][0, 0], cdcz[pi][0, 1] = cf[0], cf[1]
            cdcz[pi][1, 0], cdcz[pi][1, 1] = cf[2], cf[3]
        else:
            st.cbf_cdc[pi][my, mx] = 0
    for pi in (0, 1):
        if cbpc > 1:
            for by in range(2):
                for bx in range(2):
                    cx, cy = mx * 2 + bx, my * 2 + by
                    cf, nz = _dec_residual(
                        dec, ctxs, 4,
                        st.cbf_inc_c4_inter(cx, cy, pi), 15,
                    )
                    st.cbf_c4[pi][cy, cx] = nz
                    for i, pos in enumerate(_ZIG[1:]):
                        cacz[pi][by, bx].flat[pos] = cf[i]
        else:
            st.cbf_c4[pi][my * 2 : my * 2 + 2,
                          mx * 2 : mx * 2 + 2] = 0
    return zl, cdcz, cacz
