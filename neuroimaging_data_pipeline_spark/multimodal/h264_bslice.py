"""H.264 B-slice prediction (CAVLC) — bi-predictive frames, the last
major inter gate after r9's P_8x8 / intra-in-P / multi-ref work.

What is REAL here (ITU-T H.264 clause references, all from scratch):

- POC TYPE 0 framing: a Main-profile SPS (profile_idc 77 — B slices
  are not allowed in Baseline) carrying
  log2_max_pic_order_cnt_lsb_minus4, and pic_order_cnt_lsb in EVERY
  slice header, so a B frame can reference a future-in-display-order
  frame that was decoded earlier (decode order != output order);
- reference list initialization per 8.2.4.2.3: for a B picture,
  list0 = past references by POC descending then future ascending,
  list1 = future ascending then past descending; one active
  reference per list (the nearest picture in each direction), so no
  ref_idx syntax is present;
- B macroblock types 1..21 (Table 7-14): B_L0/L1/Bi_16x16 and every
  two-partition 16x8 / 8x16 list combination, with the 7.3.5.1
  syntax order (all mvd_l0 first, then all mvd_l1) and PER-LIST
  motion-vector prediction — two independent _MvState fields where a
  partition that does not use a list is 'decoded but predFlagLX = 0'
  (contributes mv (0,0) / refIdx -1 to that list's median, exactly
  like an intra neighbor);
- DEFAULT (unweighted) bi-prediction (8.4.2.3.2,
  weighted_bipred_idc 0): final = (predL0 + predL1 + 1) >> 1 on the
  clipped interpolated samples, luma and chroma;
- intra macroblocks inside B slices (mb_type 23 + intra type:
  I_4x4, Intra_16x16, I_PCM), coded by h264_intra's intra
  macroblock layer; the IDR anchor writes its POC-type-0 header and
  then runs the same layer's slice loop;
- frame_num tracking for non-reference pictures (a B slice repeats
  PrevRefFrameNum + 1) and a DPB keyed by POC that only reference
  pictures (nal_ref_idc > 0) enter;
- the P frames inside a B GOP reuse h264_inter's proven encoder and
  decoder wholesale — their slices are re-headered to insert the
  poc-type-0 pic_order_cnt_lsb field.

- B_8x8 sub-macroblock partitions (second pass): all twelve coded
  Table 7-18 sub_mb_types — per-8x8 list usage l0/l1/bi with
  8x8/8x4/4x8/4x4 splits, per-sub-partition mvd against the z-scan
  per-list median predictor, bi sub-blocks averaged per 8.4.2.3.2;
- DIRECT MODES (fourth pass): B_Skip (mb_skip_run) and
  B_Direct_16x16 — SPATIAL per 8.4.1.2.2 — per-list MinPositive reference
  derivation over the MB neighbors, the median motion predictor,
  directZeroPrediction when neither list has a neighbor reference,
  and the colocated-block colZeroFlag test (direct_8x8_inference:
  each 8x8 reads the colocated CORNER 4x4 of RefPicList1[0], whose
  motion field rides the DPB) AND TEMPORAL per 8.4.1.2.3 (POC-
  distance scaling: distScaleFactor from tb/td, mvL0 = scaled
  colocated MV, mvL1 = mvL0 - mvCol) selected by
  direct_spatial_mv_pred_flag — composing with weighted prediction;
- EXPLICIT WEIGHTED PREDICTION (third pass, weighted_bipred_idc 1):
  pred_weight_table in every B slice header (luma/chroma
  log2_weight_denom, per-list weight/offset with flag-0 defaults),
  uni-directional weighting Clip(((p*w + 2^(d-1)) >> d) + o) and
  weighted bi-prediction Clip(((p0*w0 + p1*w1 + 2^d) >> (d+1)) +
  ((o0+o1+1) >> 1)) per 8.4.2.3.2, formula-pinned in pytest.

B_Direct_8x8 (sub_mb_type 0 inside B_8x8, fifth pass) shares the
same derivation per 8x8.

IMPLICIT weighted bi-prediction (sixth pass, idc 2) derives
logWD-5 weights from POC distances (w1 = distScaleFactor >> 2,
w0 = 64 - w1, 32/32 fallbacks), leaving uni partitions unweighted.

Distinct Cb/Cr explicit weights (wcr/ocr per list) are supported,
including wcr-only entries (writer and resolver both fall back
Cb = wcr per chroma_weight_flag semantics).

REFERENCE B PICTURES (r11, B pyramid): a "bref" entry writes
nal_ref_idc 2 + dec_ref_pic_marking, enters the DPB with its
single-list colocated view (_col_view: L0 motion when predFlagL0,
else L1, per 8.4.1.2), and later B pictures predict from it through
both lists — including temporal/spatial direct reading its motion
(max_num_ref_frames 3: anchor + Bref + P).

Declared gates (raise, never silent): more than one active
reference per list. (Weighted P slices live in h264_inter.py; the
P frames of a B GOP keep weighted_pred_flag 0.)

The encoder<->decoder round trip is bit-exact by construction
(pinned across QPs, every mb_type 1..21, sub-pel fractions and
intra-in-B in tests/test_h264_bslice.py); a capability-gated ffmpeg
cross-pin (display-order reordered) covers machines with ffmpeg.

Reference parity: preprocess_parallel.sh shells out for video; B
frames are the bulk of any broadcast/streaming H.264 corpus.
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
    _parse_sps,
    _read_deblock_fields,
    _split_nals,
    _write_deblock_fields,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    _CBP_INTER,
    _CBP_INTER_INV,
    _PARTS,
    _SUBPARTS,
    _chroma_qp,
    _copy_bits,
    _decode_idr,
    _decode_p_frame,
    _encode_idr,
    _encode_p_frame,
    _mc_mb,
    _MvState,
    _pad_refs,
    _pps_rbsp_deblock,
    _recon_inter_mb,
    _residual_from_target,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    _MbGrid,
    _decode_intra_mb,
    _encode_intra_mb,
    _read_residuals,
    _write_residuals,
)

# Table 7-14 (mb_type 1..21): decode as (partition mode, per-partition
# list usage). 0 = B_Direct_16x16 and 22 = B_8x8 stay gated.
_B_USES = {
    1: ("16x16", ("l0",)),
    2: ("16x16", ("l1",)),
    3: ("16x16", ("bi",)),
    4: ("16x8", ("l0", "l0")),
    5: ("8x16", ("l0", "l0")),
    6: ("16x8", ("l1", "l1")),
    7: ("8x16", ("l1", "l1")),
    8: ("16x8", ("l0", "l1")),
    9: ("8x16", ("l0", "l1")),
    10: ("16x8", ("l1", "l0")),
    11: ("8x16", ("l1", "l0")),
    12: ("16x8", ("l0", "bi")),
    13: ("8x16", ("l0", "bi")),
    14: ("16x8", ("l1", "bi")),
    15: ("8x16", ("l1", "bi")),
    16: ("16x8", ("bi", "l0")),
    17: ("8x16", ("bi", "l0")),
    18: ("16x8", ("bi", "l1")),
    19: ("8x16", ("bi", "l1")),
    20: ("16x8", ("bi", "bi")),
    21: ("8x16", ("bi", "bi")),
}
_B_TYPE = {v: k for k, v in _B_USES.items()}

# Table 7-18 (sub_mb_type in B slices): 0 = B_Direct_8x8 stays gated
_B_SUB_USES = {
    1: ("l0", "8x8"), 2: ("l1", "8x8"), 3: ("bi", "8x8"),
    4: ("l0", "8x4"), 5: ("l0", "4x8"), 6: ("l1", "8x4"),
    7: ("l1", "4x8"), 8: ("bi", "8x4"), 9: ("bi", "4x8"),
    10: ("l0", "4x4"), 11: ("l1", "4x4"), 12: ("bi", "4x4"),
}
_B_SUB_TYPE = {v: k for k, v in _B_SUB_USES.items()}

_POC_BITS = 6  # log2_max_pic_order_cnt_lsb_minus4 = 2


# ---------------------------------------------------------------------------
# Framing (POC type 0)
# ---------------------------------------------------------------------------


def _sps_rbsp_poc0(mbw: int, mbh: int, w: int, h: int) -> bytes:
    """Main-profile SPS with pic_order_cnt_type 0 and two reference
    frames — the framing B slices require."""
    if w % 16 or h % 16:
        raise ValueError("B sequences require dimensions % 16 == 0")
    sps = BitWriter()
    sps.u(77, 8)  # profile_idc: Main (B slices are not in Baseline)
    sps.u(0x40, 8)  # constraint_set1_flag only
    sps.u(20, 8)
    sps.ue(0)  # seq_parameter_set_id
    sps.ue(0)  # log2_max_frame_num_minus4 -> 4-bit frame_num
    sps.ue(0)  # pic_order_cnt_type 0
    sps.ue(_POC_BITS - 4)  # log2_max_pic_order_cnt_lsb_minus4
    sps.ue(3)  # max_num_ref_frames (pyramid: anchor + Bref + P)
    sps.u(0, 1)
    sps.ue(mbw - 1)
    sps.ue(mbh - 1)
    sps.u(1, 1)  # frame_mbs_only_flag
    sps.u(1, 1)  # direct_8x8_inference_flag
    sps.u(0, 1)  # no cropping
    sps.u(0, 1)  # no VUI
    sps.trailing()
    return sps.bytes_()


def _p_reheader_poc0(rbsp: bytes, poc_lsb: int) -> bytes:
    """Insert pic_order_cnt_lsb into a P slice produced by
    h264_inter._encode_p_frame (single-ref layout, no override)."""
    r = BitReader(rbsp)
    first_mb, stype, ppsid = r.ue(), r.ue(), r.ue()
    fn = r.u(4)
    if r.u(1):
        raise ValueError("unexpected num_ref_idx override in P slice")
    lm, am = r.u(1), r.u(1)
    qpd = r.se()
    idc = r.ue()
    w = BitWriter()
    w.ue(first_mb)
    w.ue(stype)
    w.ue(ppsid)
    w.u(fn, 4)
    w.u(poc_lsb % (1 << _POC_BITS), _POC_BITS)
    w.u(0, 1)
    w.u(lm, 1)
    w.u(am, 1)
    w.se(qpd)
    w.ue(idc)
    _copy_bits(r, w, rbsp)
    return w.bytes_()


def _pps_rbsp_deblock_wp(idc: int = 1) -> bytes:
    """CAVLC PPS like h264_inter's deblocking-control PPS but with
    weighted_bipred_idc set: 1 = EXPLICIT (B slice headers carry a
    pred_weight_table), 2 = IMPLICIT (weights derived from POC
    distances, no table)."""
    pps = BitWriter()
    pps.ue(0)
    pps.ue(0)
    pps.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    pps.u(0, 1)
    pps.ue(0)
    pps.ue(0)  # num_ref_idx_l0_default_active_minus1
    pps.ue(0)  # num_ref_idx_l1_default_active_minus1
    pps.u(0, 1)  # weighted_pred_flag (P slices stay unweighted)
    pps.u(idc, 2)  # weighted_bipred_idc
    pps.se(0)
    pps.se(0)
    pps.se(0)
    pps.u(1, 1)  # deblocking_filter_control_present_flag
    pps.u(0, 1)
    pps.u(0, 1)
    pps.trailing()
    return pps.bytes_()


_DEFAULT_W = {"wy": None, "oy": 0, "wc": None, "oc": 0,
              "wcr": None, "ocr": None}


def _norm_weights(weights):
    """Normalize the user weights dict: luma/chroma denominators plus
    per-list (weight, offset) for luma and one shared chroma pair.
    None weights mean 'flag 0' (default 1 << denom, offset 0)."""
    w = {
        "luma_denom": int(weights.get("luma_denom", 0)),
        "chroma_denom": int(weights.get("chroma_denom", 0)),
    }
    for li in ("l0", "l1"):
        e = dict(_DEFAULT_W)
        e.update(weights.get(li, {}))
        w[li] = e
    return w


def _write_pred_weight_table(sl: BitWriter, w) -> None:
    """7.3.3.2 pred_weight_table, one active reference per list."""
    sl.ue(w["luma_denom"])
    sl.ue(w["chroma_denom"])
    for li in ("l0", "l1"):
        e = w[li]
        if e["wy"] is not None:
            sl.u(1, 1)
            sl.se(e["wy"])
            sl.se(e["oy"])
        else:
            sl.u(0, 1)
        if e["wc"] is not None or e.get("wcr") is not None:
            sl.u(1, 1)
            wcb = e["wc"] if e["wc"] is not None else e["wcr"]
            wcr = e.get("wcr") if e.get("wcr") is not None else wcb
            sl.se(wcb)
            sl.se(e["oc"])
            sl.se(wcr)
            sl.se(e.get("ocr") if e.get("ocr") is not None else e["oc"])
        else:
            sl.u(0, 1)


def _resolve_weights(w):
    """Fill flag-0 defaults (1 << denom, offset 0) for prediction."""
    out = {"luma_denom": w["luma_denom"],
           "chroma_denom": w["chroma_denom"]}
    for li in ("l0", "l1"):
        e = dict(w[li])
        if e["wy"] is None:
            e["wy"] = 1 << w["luma_denom"]
            e["oy"] = 0
        if e["wc"] is None and e.get("wcr") is None:
            e["wc"] = 1 << w["chroma_denom"]
            e["oc"] = 0
        elif e["wc"] is None:
            # wcr-only entry: the writer emits wcb = wcr into the
            # bitstream (chroma_weight_flag covers both planes), so the
            # encoder-side resolver must predict Cb with wcr too.
            e["wc"] = e["wcr"]
        if e.get("wcr") is None:
            e["wcr"] = e["wc"]
        if e.get("ocr") is None:
            e["ocr"] = e["oc"]
        out[li] = e
    return out


def _parse_pred_weight_table(r: BitReader):
    w = {"luma_denom": r.ue(), "chroma_denom": r.ue()}
    for li in ("l0", "l1"):
        e = {}
        if r.u(1):
            e["wy"] = r.se()
            e["oy"] = r.se()
        else:
            e["wy"] = 1 << w["luma_denom"]
            e["oy"] = 0
        if r.u(1):
            e["wc"], e["oc"] = r.se(), r.se()
            e["wcr"], e["ocr"] = r.se(), r.se()
        else:
            e["wc"] = 1 << w["chroma_denom"]
            e["oc"] = 0
            e["wcr"] = e["wc"]
            e["ocr"] = 0
        w[li] = e
    return w


def _implicit_weights(tb: int, td: int) -> dict:
    """8.4.2.3.2 IMPLICIT weighted bi-prediction weights from POC
    distances (logWD = 5, offsets 0): w1 = distScaleFactor >> 2 and
    w0 = 64 - w1, falling back to 32/32 when the pictures share a
    POC or the scale leaves [-64, 128]. Uni-predicted partitions are
    unweighted in implicit mode."""
    tb = max(-128, min(127, tb))
    td = max(-128, min(127, td))
    if td == 0:
        w0 = w1 = 32
    else:
        tx = (16384 + abs(td) // 2) // td
        dsf = max(-1024, min(1023, (tb * tx + 32) >> 6))
        w1c = dsf >> 2
        if w1c < -64 or w1c > 128:
            w0 = w1 = 32
        else:
            w1, w0 = w1c, 64 - w1c
    return {"implicit": True, "w0": w0, "w1": w1,
            "l0": None, "l1": None}


def _wp_uni(planes, e, w):
    """8.4.2.3.2 explicit uni-directional weighting, per plane
    (implicit mode leaves uni-predicted partitions unweighted)."""
    if w.get("implicit"):
        return planes
    ldy, ldc = w["luma_denom"], w["chroma_denom"]
    out = []
    for pi, p in enumerate(planes):
        ld = ldy if pi == 0 else ldc
        ww = (e["wy"], e["wc"], e.get("wcr", e["wc"]))[pi]
        oo = (e["oy"], e["oc"], e.get("ocr", e["oc"]))[pi]
        if ld >= 1:
            v = ((p * ww + (1 << (ld - 1))) >> ld) + oo
        else:
            v = p * ww + oo
        out.append(np.clip(v, 0, 255))
    return tuple(out)


def _wp_bi(p0, p1, w):
    """8.4.2.3.2 weighted bi-prediction, per plane (explicit table
    weights, or implicit POC-derived w0/w1 with logWD 5)."""
    if w.get("implicit"):
        w0, w1 = w["w0"], w["w1"]
        return tuple(
            np.clip((a * w0 + b * w1 + 32) >> 6, 0, 255)
            for a, b in zip(p0, p1)
        )
    ldy, ldc = w["luma_denom"], w["chroma_denom"]
    out = []
    for pi, (a, b) in enumerate(zip(p0, p1)):
        ld = ldy if pi == 0 else ldc
        e0, e1 = w["l0"], w["l1"]
        w0 = (e0["wy"], e0["wc"], e0.get("wcr", e0["wc"]))[pi]
        w1 = (e1["wy"], e1["wc"], e1.get("wcr", e1["wc"]))[pi]
        o0 = (e0["oy"], e0["oc"], e0.get("ocr", e0["oc"]))[pi]
        o1 = (e1["oy"], e1["oc"], e1.get("ocr", e1["oc"]))[pi]
        v = ((a * w0 + b * w1 + (1 << ld)) >> (ld + 1)) + (
            (o0 + o1 + 1) >> 1
        )
        out.append(np.clip(v, 0, 255))
    return tuple(out)


def _b_slice_header(sl: BitWriter, qp: int, frame_num: int,
                    poc_lsb: int, weights=None,
                    spatial: bool = True, deblock_idc: int = 1,
                    deblock_offs: tuple = (0, 0),
                    is_ref: bool = False) -> None:
    sl.ue(0)  # first_mb_in_slice
    sl.ue(6)  # slice_type: B (all slices)
    sl.ue(0)  # pic_parameter_set_id
    sl.u(frame_num % 16, 4)
    sl.u(poc_lsb % (1 << _POC_BITS), _POC_BITS)
    sl.u(1 if spatial else 0, 1)  # direct_spatial_mv_pred_flag
    sl.u(0, 1)  # num_ref_idx_active_override (1 per list, PPS default)
    sl.u(0, 1)  # ref_pic_list_modification_flag_l0
    sl.u(0, 1)  # ref_pic_list_modification_flag_l1
    if weights is not None:  # explicit weighted bipred PPS
        _write_pred_weight_table(sl, weights)
    if is_ref:  # reference B (pyramid): dec_ref_pic_marking present
        sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
    sl.se(qp - 26)  # slice_qp_delta
    _write_deblock_fields(sl, deblock_idc, deblock_offs)


def _parse_inter_header(
    r: BitReader, bipred_idc: int = 0, is_ref: bool = False
) -> tuple[str, int, int, dict | None]:
    """Parse a non-IDR slice header under the POC-type-0 SPS.
    Returns (kind 'p'|'b', slice_qp, poc_lsb, weights-or-None,
    direct_spatial_flag, idc, (a_div2, b_div2)); the reader is left
    at the first macroblock element."""
    weights = None
    r.ue()  # first_mb
    stype = r.ue() % 5
    if stype == 0:
        kind = "p"
    elif stype == 1:
        kind = "b"
    else:
        raise NotImplementedError(
            f"slice_type family {stype} — only P and B slices decode"
        )
    r.ue()  # pps id
    r.u(4)  # frame_num
    poc = r.u(_POC_BITS)
    spatial = True
    if kind == "b":
        spatial = bool(r.u(1))
        if r.u(1):
            raise NotImplementedError(
                "num_ref_idx override — one active reference per "
                "list is implemented for B slices"
            )
        if r.u(1):
            raise NotImplementedError("ref_pic_list_modification (l0)")
        if r.u(1):
            raise NotImplementedError("ref_pic_list_modification (l1)")
        if bipred_idc == 1:
            weights = _parse_pred_weight_table(r)
        if is_ref and r.u(1):  # dec_ref_pic_marking (reference B)
            raise NotImplementedError(
                "adaptive ref marking in a B slice")
    else:
        if r.u(1):
            raise NotImplementedError("num_ref_idx override in P slice")
        if r.u(1):
            raise NotImplementedError("ref_pic_list_modification")
        if r.u(1):
            raise NotImplementedError("adaptive ref marking")
    qp = 26 + r.se()
    idc, offs = _read_deblock_fields(r)
    return kind, qp, poc, weights, spatial, idc, offs


# ---------------------------------------------------------------------------
# B-frame encode / decode
# ---------------------------------------------------------------------------


def _part_spec(entry):
    """Normalize a B partition spec: ("l0", mv) | ("l1", mv) |
    ("bi", mv0, mv1) -> (use, mv0 | None, mv1 | None)."""
    use = entry[0]
    if use == "l0":
        return "l0", np.asarray(entry[1], np.int64), None
    if use == "l1":
        return "l1", None, np.asarray(entry[1], np.int64)
    if use == "bi":
        return ("bi", np.asarray(entry[1], np.int64),
                np.asarray(entry[2], np.int64))
    raise ValueError(f"bad B partition use {use!r}")


def _min_positive_ref(state, mx, my):
    """MinPositive of the MB neighbors' refIdx for one list
    (8.4.1.2.2): the minimum non-negative neighbor refIdx, or -1
    when no neighbor predicts from the list."""
    gx, gy = mx * 4, my * 4
    a = state._info(gy, gx - 1)
    b = state._info(gy - 1, gx)
    c = state._info(gy - 1, gx + 4)
    if c is None:
        c = state._info(gy - 1, gx - 1)
    pos = [n[1] for n in (a, b, c) if n is not None and n[1] >= 0]
    return min(pos) if pos else -1


def _spatial_direct(mvs0, mvs1, mx, my, col):
    """8.4.1.2.2 spatial direct luma motion for one macroblock at
    8x8 granularity (direct_8x8_inference_flag = 1: each 8x8 uses
    the colocated CORNER 4x4 of the macroblock). ``col`` is the
    RefPicList1[0] picture's exported motion field (all pictures
    here are short-term). Returns (ref0, ref1,
    [(mv0, mv1) per 8x8]) with refIdx -1 meaning predFlagLX = 0."""
    ref0 = _min_positive_ref(mvs0, mx, my)
    ref1 = _min_positive_ref(mvs1, mx, my)
    if ref0 < 0 and ref1 < 0:  # directZeroPredictionFlag
        zero = np.zeros(2, np.int64)
        return 0, 0, [(zero, zero)] * 4
    mvp0 = (mvs0.predict(mx * 4, my * 4, 4, ref0)
            if ref0 >= 0 else np.zeros(2, np.int64))
    mvp1 = (mvs1.predict(mx * 4, my * 4, 4, ref1)
            if ref1 >= 0 else np.zeros(2, np.int64))
    out = []
    for k in range(4):
        # colocated corner 4x4 of this 8x8 (outer MB corner)
        cgx = mx * 4 + (k & 1) * 3
        cgy = my * 4 + (k >> 1) * 3
        col_inter = bool(col["inter"][cgy, cgx])
        col_zero = (
            col_inter
            and int(col["ref"][cgy, cgx]) == 0
            and abs(int(col["mv"][cgy, cgx, 0])) <= 1
            and abs(int(col["mv"][cgy, cgx, 1])) <= 1
        )
        m0 = (np.zeros(2, np.int64)
              if (ref0 == 0 and col_zero) else mvp0.copy())
        m1 = (np.zeros(2, np.int64)
              if (ref1 == 0 and col_zero) else mvp1.copy())
        out.append((m0, m1))
    return ref0, ref1, out


def _bi_combine(p0, p1):
    return tuple((a + b + 1) >> 1 for a, b in zip(p0, p1))


def _temporal_direct(mx, my, col, tb, td):
    """8.4.1.2.3 temporal direct luma motion at 8x8 granularity:
    scale the colocated block's motion by the POC distances
    (tb = POCcur - POC(list0 ref), td = POC(list1 ref) -
    POC(list0 ref), both clipped to [-128, 127]); an intra colocated
    block contributes zero motion. Both lists predict (refIdx 0)."""
    tb = max(-128, min(127, tb))
    td = max(-128, min(127, td))
    tx = (16384 + abs(td) // 2) // td
    dsf = max(-1024, min(1023, (tb * tx + 32) >> 6))
    out = []
    for k in range(4):
        cgx = mx * 4 + (k & 1) * 3
        cgy = my * 4 + (k >> 1) * 3
        if col["inter"][cgy, cgx]:
            mvcol = col["mv"][cgy, cgx].astype(np.int64)
        else:
            mvcol = np.zeros(2, np.int64)
        m0 = (dsf * mvcol + 128) >> 8
        m1 = m0 - mvcol
        out.append((m0, m1))
    return out


def _intra_motion(mbw: int, mbh: int) -> dict:
    """Motion field of an all-intra picture (the IDR anchor)."""
    return {
        "mv": np.zeros((mbh * 4, mbw * 4, 2), np.int64),
        "ref": np.full((mbh * 4, mbw * 4), -1, np.int64),
        "inter": np.zeros((mbh * 4, mbw * 4), bool),
    }


def _direct_mb(mvs0, mvs1, mx, my, col, padded0, padded1, weights,
               mode="spatial", tbtd=None):
    """Direct prediction for one whole macroblock (B_Skip /
    B_Direct_16x16), spatial or temporal: derive per-8x8 motion,
    motion-compensate with the same (possibly weighted) combination
    rules as coded MBs, and fill both lists' motion states. Returns
    (py, pcb, pcr)."""
    if mode == "temporal":
        ref0, ref1 = 0, 0
        mvpairs = _temporal_direct(mx, my, col, *tbtd)
    else:
        ref0, ref1, mvpairs = _spatial_direct(mvs0, mvs1, mx, my, col)
    py = np.zeros((16, 16), np.int64)
    pcb = np.zeros((8, 8), np.int64)
    pcr = np.zeros((8, 8), np.int64)
    for k in range(4):
        ox4, oy4 = (k & 1) * 2, (k >> 1) * 2
        m0, m1 = mvpairs[k]
        geom = (ox4, oy4, 2, 2)
        if ref0 >= 0 and ref1 >= 0:
            p0_ = _mc_mb(padded0, mx, my, [geom + (m0, 0)])
            p1_ = _mc_mb(padded1, mx, my, [geom + (m1, 0)])
            pp = (
                _wp_bi(p0_, p1_, weights)
                if weights is not None
                else _bi_combine(p0_, p1_)
            )
        elif ref0 >= 0:
            pp = _mc_mb(padded0, mx, my, [geom + (m0, 0)])
            if weights is not None:
                pp = _wp_uni(pp, weights["l0"], weights)
        else:
            pp = _mc_mb(padded1, mx, my, [geom + (m1, 0)])
            if weights is not None:
                pp = _wp_uni(pp, weights["l1"], weights)
        ys = np.s_[oy4 * 4 : oy4 * 4 + 8, ox4 * 4 : ox4 * 4 + 8]
        cs = np.s_[oy4 * 2 : oy4 * 2 + 4, ox4 * 2 : ox4 * 2 + 4]
        py[ys] = pp[0][ys]
        pcb[cs] = pp[1][cs]
        pcr[cs] = pp[2][cs]
        gx, gy = mx * 4 + ox4, my * 4 + oy4
        if ref0 >= 0:
            mvs0.fill(gx, gy, 2, 2, m0, ref0)
        else:
            mvs0.mark_off(gx, gy, 2, 2)
        if ref1 >= 0:
            mvs1.fill(gx, gy, 2, 2, m1, ref1)
        else:
            mvs1.mark_off(gx, gy, 2, 2)
    return py, pcb, pcr


def _encode_b_frame(target, ref_l0, ref_l1, mb_specs, qp, frame_num,
                    poc_lsb, wtab=None, col=None,
                    direct_mode="spatial", tbtd=None,
                    implicit=False, deblock_idc=1,
                    deblock_offs=(0, 0), is_ref=False):
    """Encode one CAVLC B slice. ``ref_l0`` / ``ref_l1`` are single
    decoded reference plane triples (one active ref per list).
    Returns (slice_rbsp, recon_planes, motion) — motion is the
    per-4x4 two-list field (predFlag / mv per list + luma nnz) the
    8.7.2.1 B boundary-strength derivation consumes."""
    h, w = target[0].shape
    mbw, mbh = w // 16, h // 16
    if len(mb_specs) != mbw * mbh:
        raise ValueError("one mb_spec per macroblock required")
    padded0 = _pad_refs([ref_l0])
    padded1 = _pad_refs([ref_l1])
    qpc = _chroma_qp(qp)
    g = _MbGrid(mbw, mbh)
    ry, rcb, rcr = recons = g.recon
    luma_nnz, cnnz = g.nnz, g.cnnz
    mvs0 = _MvState(mbw, mbh)
    mvs1 = _MvState(mbw, mbh)

    if wtab is not None:
        weights = _resolve_weights(wtab)
    elif implicit:
        weights = _implicit_weights(*tbtd)
    else:
        weights = None
    if col is None:
        col = _intra_motion(mbw, mbh)
    sl = BitWriter()
    _b_slice_header(sl, qp, frame_num, poc_lsb, wtab,
                    spatial=direct_mode == "spatial",
                    deblock_idc=deblock_idc,
                    deblock_offs=deblock_offs, is_ref=is_ref)
    skip_run = 0

    for my in range(mbh):
        for mx in range(mbw):
            spec = mb_specs[my * mbw + mx]
            kind = spec[0]
            if kind == "skip":
                # B_Skip: spatial-direct motion, prediction only
                py, pcb, pcr = _direct_mb(
                    mvs0, mvs1, mx, my, col, padded0, padded1,
                    weights, direct_mode, tbtd,
                )
                ry[my * 16 : my * 16 + 16,
                   mx * 16 : mx * 16 + 16] = np.clip(py, 0, 255)
                rcb[my * 8 : my * 8 + 8,
                    mx * 8 : mx * 8 + 8] = np.clip(pcb, 0, 255)
                rcr[my * 8 : my * 8 + 8,
                    mx * 8 : mx * 8 + 8] = np.clip(pcr, 0, 255)
                luma_nnz[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 0
                for pi in (0, 1):
                    cnnz[pi][my * 2 : my * 2 + 2,
                             mx * 2 : mx * 2 + 2] = 0
                skip_run += 1
                continue
            sl.ue(skip_run)  # mb_skip_run
            skip_run = 0
            if kind == "direct":
                # B_Direct_16x16: direct motion + coded residual
                sl.ue(0)
                py, pcb, pcr = _direct_mb(
                    mvs0, mvs1, mx, my, col, padded0, padded1,
                    weights, direct_mode, tbtd,
                )
                cbp, zl, cdcz, cacz = _residual_from_target(
                    target, mx, my, py, pcb, pcr, qp, qpc
                )
                _write_residuals(sl, g, mx, my, cbp, zl, cdcz, cacz,
                                 _CBP_INTER_INV)
                _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp,
                                zl, cdcz, cacz, qp, qpc)
                continue
            if kind in ("i16", "i4", "ipcm"):
                _encode_intra_mb(sl, g, target, spec, mx, my, qp, 23)
                mvs0.mark_intra(mx, my)
                mvs1.mark_intra(mx, my)
                continue
            if kind == "8x8":
                subs = spec[1]
                if len(subs) != 4:
                    raise ValueError("B_8x8 needs four sub-MB specs")
                norm = []
                for entry in subs:
                    if entry[0] == "direct":  # B_Direct_8x8
                        norm.append(("direct", None, None, None))
                        continue
                    use, sm, mvl = entry
                    if (use, sm) not in _B_SUB_TYPE:
                        raise ValueError(
                            f"bad B sub_mb spec ({use!r}, {sm!r})"
                        )
                    if len(mvl) != len(_SUBPARTS[sm]):
                        raise ValueError(
                            "one MV (or bi pair) per sub-partition"
                        )
                    if use == "bi":
                        mv0 = [np.asarray(p[0], np.int64) for p in mvl]
                        mv1 = [np.asarray(p[1], np.int64) for p in mvl]
                    elif use == "l0":
                        mv0 = [np.asarray(p, np.int64) for p in mvl]
                        mv1 = None
                    else:
                        mv0 = None
                        mv1 = [np.asarray(p, np.int64) for p in mvl]
                    norm.append((use, sm, mv0, mv1))
                # direct sub-blocks derive from MB-level neighbors
                # (all reads fall outside this MB, so deriving once
                # up front matches per-sub-block derivation)
                dref0 = dref1 = -1
                dpairs = None
                if any(n[0] == "direct" for n in norm):
                    if direct_mode == "temporal":
                        dref0, dref1 = 0, 0
                        dpairs = _temporal_direct(mx, my, col, *tbtd)
                    else:
                        dref0, dref1, dpairs = _spatial_direct(
                            mvs0, mvs1, mx, my, col
                        )
                sl.ue(22)  # B_8x8
                for use, sm, _, _ in norm:
                    sl.ue(0 if use == "direct"
                          else _B_SUB_TYPE[(use, sm)])
                # mvd_l0 over all four 8x8s (sub-partitions in z-scan),
                # then mvd_l1 — one active ref per list, no ref_idx
                for li, mvsX in ((0, mvs0), (1, mvs1)):
                    for k in range(4):
                        use, sm, mv0, mv1 = norm[k]
                        ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
                        if use == "direct":  # derived, no mvd bits
                            dref = (dref0, dref1)[li]
                            if dref >= 0:
                                mvsX.fill(mx * 4 + ox8, my * 4 + oy8,
                                          2, 2, dpairs[k][li], dref)
                            else:
                                mvsX.mark_off(mx * 4 + ox8,
                                              my * 4 + oy8, 2, 2)
                            continue
                        mvl = (mv0, mv1)[li]
                        if mvl is None:  # predFlagLX == 0
                            mvsX.mark_off(mx * 4 + ox8, my * 4 + oy8,
                                          2, 2)
                            continue
                        for (sx4, sy4, w4, h4), mv in zip(
                            _SUBPARTS[sm], mvl
                        ):
                            gx = mx * 4 + ox8 + sx4
                            gy = my * 4 + oy8 + sy4
                            pred_mv = mvsX.predict(gx, gy, w4, 0)
                            sl.se(int(mv[0] - pred_mv[0]))
                            sl.se(int(mv[1] - pred_mv[1]))
                            mvsX.fill(gx, gy, w4, h4, mv, 0)
                py = np.zeros((16, 16), np.int64)
                pcb = np.zeros((8, 8), np.int64)
                pcr = np.zeros((8, 8), np.int64)
                for k in range(4):
                    use, sm, mv0, mv1 = norm[k]
                    ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
                    if use == "direct":
                        sm = "8x8"
                        m0d, m1d = dpairs[k]
                        if dref0 >= 0 and dref1 >= 0:
                            mv0, mv1 = [m0d], [m1d]
                            use = "bi"
                        elif dref0 >= 0:
                            mv0, use = [m0d], "l0"
                        else:
                            mv1, use = [m1d], "l1"
                    for si, (sx4, sy4, w4, h4) in enumerate(
                        _SUBPARTS[sm]
                    ):
                        geom = (ox8 + sx4, oy8 + sy4, w4, h4)
                        if use == "l0":
                            pp = _mc_mb(padded0, mx, my,
                                        [geom + (mv0[si], 0)])
                            if weights is not None:
                                pp = _wp_uni(pp, weights["l0"], weights)
                        elif use == "l1":
                            pp = _mc_mb(padded1, mx, my,
                                        [geom + (mv1[si], 0)])
                            if weights is not None:
                                pp = _wp_uni(pp, weights["l1"], weights)
                        else:
                            p0_ = _mc_mb(padded0, mx, my,
                                         [geom + (mv0[si], 0)])
                            p1_ = _mc_mb(padded1, mx, my,
                                         [geom + (mv1[si], 0)])
                            pp = (
                                _wp_bi(p0_, p1_, weights)
                                if weights is not None
                                else _bi_combine(p0_, p1_)
                            )
                        ys = np.s_[geom[1] * 4 : geom[1] * 4 + h4 * 4,
                                   geom[0] * 4 : geom[0] * 4 + w4 * 4]
                        cs = np.s_[geom[1] * 2 : geom[1] * 2 + h4 * 2,
                                   geom[0] * 2 : geom[0] * 2 + w4 * 2]
                        py[ys] = pp[0][ys]
                        pcb[cs] = pp[1][cs]
                        pcr[cs] = pp[2][cs]
                cbp, zl, cdcz, cacz = _residual_from_target(
                    target, mx, my, py, pcb, pcr, qp, qpc
                )
                _write_residuals(sl, g, mx, my, cbp, zl, cdcz, cacz,
                                 _CBP_INTER_INV)
                _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp,
                                zl, cdcz, cacz, qp, qpc)
                continue
            mode = kind
            if mode not in ("16x16", "16x8", "8x16"):
                raise ValueError(f"unknown B macroblock mode {mode!r}")
            parts = [_part_spec(e) for e in spec[1]]
            if len(parts) != len(_PARTS[mode]):
                raise ValueError("one partition spec per partition")
            uses = tuple(p[0] for p in parts)
            sl.ue(_B_TYPE[(mode, uses)])
            # mvd_l0 for every partition in order, then mvd_l1
            placed = {0: [], 1: []}
            for li, mvsX in ((0, mvs0), (1, mvs1)):
                for pidx, ((ox4, oy4, w4, h4), (use, m0, m1)) in (
                    enumerate(zip(_PARTS[mode], parts))
                ):
                    gx, gy = mx * 4 + ox4, my * 4 + oy4
                    mv = (m0, m1)[li]
                    if mv is None:  # predFlagLX == 0
                        mvsX.mark_off(gx, gy, w4, h4)
                        continue
                    pred_mv = mvsX.pred_for_partition(
                        mode, pidx, gx, gy, w4, 0
                    )
                    sl.se(int(mv[0] - pred_mv[0]))
                    sl.se(int(mv[1] - pred_mv[1]))
                    mvsX.fill(gx, gy, w4, h4, mv, 0)
                    placed[li].append((ox4, oy4, w4, h4, mv, 0))
            # prediction: per partition, combine lists
            py = np.zeros((16, 16), np.int64)
            pcb = np.zeros((8, 8), np.int64)
            pcr = np.zeros((8, 8), np.int64)
            for (ox4, oy4, w4, h4), (use, m0, m1) in zip(
                _PARTS[mode], parts
            ):
                geom = (ox4, oy4, w4, h4)
                if use == "l0":
                    pp = _mc_mb(padded0, mx, my, [geom + (m0, 0)])
                    if weights is not None:
                        pp = _wp_uni(pp, weights["l0"], weights)
                elif use == "l1":
                    pp = _mc_mb(padded1, mx, my, [geom + (m1, 0)])
                    if weights is not None:
                        pp = _wp_uni(pp, weights["l1"], weights)
                else:
                    p0_ = _mc_mb(padded0, mx, my, [geom + (m0, 0)])
                    p1_ = _mc_mb(padded1, mx, my, [geom + (m1, 0)])
                    pp = (
                        _wp_bi(p0_, p1_, weights)
                        if weights is not None
                        else _bi_combine(p0_, p1_)
                    )
                ys = np.s_[oy4 * 4 : oy4 * 4 + h4 * 4,
                           ox4 * 4 : ox4 * 4 + w4 * 4]
                cs = np.s_[oy4 * 2 : oy4 * 2 + h4 * 2,
                           ox4 * 2 : ox4 * 2 + w4 * 2]
                py[ys] = pp[0][ys]
                pcb[cs] = pp[1][cs]
                pcr[cs] = pp[2][cs]
            cbp, zl, cdcz, cacz = _residual_from_target(
                target, mx, my, py, pcb, pcr, qp, qpc
            )
            _write_residuals(sl, g, mx, my, cbp, zl, cdcz, cacz,
                             _CBP_INTER_INV)
            _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp,
                            zl, cdcz, cacz, qp, qpc)
    if skip_run:
        sl.ue(skip_run)  # trailing skipped macroblocks
    sl.trailing()
    recon = (
        ry.astype(np.uint8),
        rcb.astype(np.uint8),
        rcr.astype(np.uint8),
    )
    motion = _b_motion(mvs0, mvs1, luma_nnz)
    return sl.bytes_(), recon, motion


def _b_motion(mvs0, mvs1, luma_nnz) -> dict:
    """Export the two-list per-4x4 motion field of a B frame for
    the deblocking filter's 8.7.2.1 bS derivation and (r11) for the
    colocated view a later B picture's direct modes read when THIS
    picture is a reference (B pyramid)."""
    return {
        "inter": mvs0.inter | mvs1.inter,
        "nnz": luma_nnz.copy(),
        "mv0": mvs0.mv.copy(),
        "mv1": mvs1.mv.copy(),
        "pf0": mvs0.inter.copy(),
        "pf1": mvs1.inter.copy(),
        "ref0": mvs0.ref.copy(),
        "ref1": mvs1.ref.copy(),
    }


def _col_view(motion: dict) -> dict:
    """Single-list colocated motion per 8.4.1.2.2/.3: a colocated
    block contributes its L0 motion when predFlagL0Col, else its L1
    motion (refIdxCol is the refIdx within the contributing list);
    blocks with neither are intra."""
    pf0 = motion["pf0"]
    return {
        "inter": motion["inter"].copy(),
        "mv": np.where(pf0[..., None], motion["mv0"], motion["mv1"]),
        "ref": np.where(pf0, motion["ref0"], motion["ref1"]),
    }


def _decode_b_frame(r, sps, qp, ref_l0, ref_l1, weights=None,
                    col=None, spatial=True, tbtd=None,
                    implicit=False):
    mbw, mbh = sps["mbw"], sps["mbh"]
    padded0 = _pad_refs([ref_l0])
    padded1 = _pad_refs([ref_l1])
    qpc = _chroma_qp(qp)
    g = _MbGrid(mbw, mbh)
    ry, rcb, rcr = recons = g.recon
    luma_nnz, cnnz = g.nnz, g.cnnz
    mvs0 = _MvState(mbw, mbh)
    mvs1 = _MvState(mbw, mbh)
    if col is None:
        col = _intra_motion(mbw, mbh)
    if weights is None and implicit:
        weights = _implicit_weights(*tbtd)
    cur_qp = qp

    dmode = "spatial" if spatial else "temporal"

    def decode_skip(mx, my):
        py, pcb, pcr = _direct_mb(
            mvs0, mvs1, mx, my, col, padded0, padded1, weights,
            dmode, tbtd,
        )
        ry[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = np.clip(
            py, 0, 255
        )
        rcb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
            pcb, 0, 255
        )
        rcr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
            pcr, 0, 255
        )
        luma_nnz[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 0
        for pi in (0, 1):
            cnnz[pi][my * 2 : my * 2 + 2, mx * 2 : mx * 2 + 2] = 0

    n_mbs = mbw * mbh
    addr = 0
    while addr < n_mbs:
            skip_run = r.ue()
            for _ in range(skip_run):
                if addr >= n_mbs:
                    raise ValueError("mb_skip_run overflows the picture")
                decode_skip(addr % mbw, addr // mbw)
                addr += 1
            if addr >= n_mbs:
                break
            mx, my = addr % mbw, addr // mbw
            mb_type = r.ue()
            if mb_type == 0:
                py, pcb, pcr = _direct_mb(
                    mvs0, mvs1, mx, my, col, padded0, padded1,
                    weights, dmode, tbtd,
                )
                cbp, qpd, zl, cdcz, cacz = _read_residuals(
                    r, g, mx, my, _CBP_INTER
                )
                if cbp:
                    cur_qp = (cur_qp + qpd + 52) % 52
                    qpc = _chroma_qp(cur_qp)
                _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp,
                                zl, cdcz, cacz, cur_qp, qpc)
                addr += 1
                continue
            if mb_type == 22:
                # ----- B_8x8 sub-macroblock partitions -----
                subtypes = []
                for _ in range(4):
                    st_ = r.ue()
                    if st_ > 12:
                        raise ValueError(f"bad B sub_mb_type {st_}")
                    subtypes.append(
                        ("direct", None) if st_ == 0
                        else _B_SUB_USES[st_]
                    )
                dref0 = dref1 = -1
                dpairs = None
                if any(u == "direct" for u, _ in subtypes):
                    if spatial:
                        dref0, dref1, dpairs = _spatial_direct(
                            mvs0, mvs1, mx, my, col
                        )
                    else:
                        dref0, dref1 = 0, 0
                        dpairs = _temporal_direct(mx, my, col, *tbtd)
                mv_store = [[None, None] for _ in range(4)]
                for li, mvsX in ((0, mvs0), (1, mvs1)):
                    want = ("l0", "bi") if li == 0 else ("l1", "bi")
                    for k in range(4):
                        use, sm = subtypes[k]
                        ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
                        if use == "direct":  # derived, no mvd bits
                            dref = (dref0, dref1)[li]
                            if dref >= 0:
                                mvsX.fill(mx * 4 + ox8, my * 4 + oy8,
                                          2, 2, dpairs[k][li], dref)
                                mv_store[k][li] = [dpairs[k][li]]
                            else:
                                mvsX.mark_off(mx * 4 + ox8,
                                              my * 4 + oy8, 2, 2)
                            continue
                        if use not in want:
                            mvsX.mark_off(mx * 4 + ox8, my * 4 + oy8,
                                          2, 2)
                            continue
                        mvl = []
                        for sx4, sy4, w4, h4 in _SUBPARTS[sm]:
                            gx = mx * 4 + ox8 + sx4
                            gy = my * 4 + oy8 + sy4
                            mvdx, mvdy = r.se(), r.se()
                            pred_mv = mvsX.predict(gx, gy, w4, 0)
                            mv = np.array(
                                [pred_mv[0] + mvdx, pred_mv[1] + mvdy],
                                np.int64,
                            )
                            mvsX.fill(gx, gy, w4, h4, mv, 0)
                            mvl.append(mv)
                        mv_store[k][li] = mvl
                py = np.zeros((16, 16), np.int64)
                pcb = np.zeros((8, 8), np.int64)
                pcr = np.zeros((8, 8), np.int64)
                for k in range(4):
                    use, sm = subtypes[k]
                    ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
                    mv0, mv1 = mv_store[k]
                    if use == "direct":
                        sm = "8x8"
                        if dref0 >= 0 and dref1 >= 0:
                            use = "bi"
                        elif dref0 >= 0:
                            use = "l0"
                        else:
                            use = "l1"
                    for si, (sx4, sy4, w4, h4) in enumerate(
                        _SUBPARTS[sm]
                    ):
                        geom = (ox8 + sx4, oy8 + sy4, w4, h4)
                        if use == "l0":
                            pp = _mc_mb(padded0, mx, my,
                                        [geom + (mv0[si], 0)])
                            if weights is not None:
                                pp = _wp_uni(pp, weights["l0"], weights)
                        elif use == "l1":
                            pp = _mc_mb(padded1, mx, my,
                                        [geom + (mv1[si], 0)])
                            if weights is not None:
                                pp = _wp_uni(pp, weights["l1"], weights)
                        else:
                            p0_ = _mc_mb(padded0, mx, my,
                                         [geom + (mv0[si], 0)])
                            p1_ = _mc_mb(padded1, mx, my,
                                         [geom + (mv1[si], 0)])
                            pp = (
                                _wp_bi(p0_, p1_, weights)
                                if weights is not None
                                else _bi_combine(p0_, p1_)
                            )
                        ys = np.s_[geom[1] * 4 : geom[1] * 4 + h4 * 4,
                                   geom[0] * 4 : geom[0] * 4 + w4 * 4]
                        cs = np.s_[geom[1] * 2 : geom[1] * 2 + h4 * 2,
                                   geom[0] * 2 : geom[0] * 2 + w4 * 2]
                        py[ys] = pp[0][ys]
                        pcb[cs] = pp[1][cs]
                        pcr[cs] = pp[2][cs]
                cbp, qpd, zl, cdcz, cacz = _read_residuals(
                    r, g, mx, my, _CBP_INTER
                )
                if cbp:
                    cur_qp = (cur_qp + qpd + 52) % 52
                    qpc = _chroma_qp(cur_qp)
                _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp,
                                zl, cdcz, cacz, cur_qp, qpc)
                addr += 1
                continue
            if mb_type > 22:
                if mb_type > 48:
                    raise ValueError(
                        f"invalid mb_type {mb_type} in B slice"
                    )
                cur_qp = _decode_intra_mb(r, g, mx, my, mb_type - 23,
                                          cur_qp)
                qpc = _chroma_qp(cur_qp)
                mvs0.mark_intra(mx, my)
                mvs1.mark_intra(mx, my)
                addr += 1
                continue
            mode, uses = _B_USES[mb_type]
            mvs_by_part: list[list] = [[None, None]
                                       for _ in _PARTS[mode]]
            for li, mvsX in ((0, mvs0), (1, mvs1)):
                want = ("l0", "bi") if li == 0 else ("l1", "bi")
                for pidx, (ox4, oy4, w4, h4) in enumerate(_PARTS[mode]):
                    gx, gy = mx * 4 + ox4, my * 4 + oy4
                    if uses[pidx] not in want:
                        mvsX.mark_off(gx, gy, w4, h4)
                        continue
                    mvdx, mvdy = r.se(), r.se()
                    pred_mv = mvsX.pred_for_partition(
                        mode, pidx, gx, gy, w4, 0
                    )
                    mv = np.array(
                        [pred_mv[0] + mvdx, pred_mv[1] + mvdy],
                        np.int64,
                    )
                    mvsX.fill(gx, gy, w4, h4, mv, 0)
                    mvs_by_part[pidx][li] = mv
            py = np.zeros((16, 16), np.int64)
            pcb = np.zeros((8, 8), np.int64)
            pcr = np.zeros((8, 8), np.int64)
            for pidx, (ox4, oy4, w4, h4) in enumerate(_PARTS[mode]):
                geom = (ox4, oy4, w4, h4)
                m0, m1 = mvs_by_part[pidx]
                use = uses[pidx]
                if use == "l0":
                    pp = _mc_mb(padded0, mx, my, [geom + (m0, 0)])
                    if weights is not None:
                        pp = _wp_uni(pp, weights["l0"], weights)
                elif use == "l1":
                    pp = _mc_mb(padded1, mx, my, [geom + (m1, 0)])
                    if weights is not None:
                        pp = _wp_uni(pp, weights["l1"], weights)
                else:
                    p0_ = _mc_mb(padded0, mx, my, [geom + (m0, 0)])
                    p1_ = _mc_mb(padded1, mx, my, [geom + (m1, 0)])
                    pp = (
                        _wp_bi(p0_, p1_, weights)
                        if weights is not None
                        else _bi_combine(p0_, p1_)
                    )
                ys = np.s_[oy4 * 4 : oy4 * 4 + h4 * 4,
                           ox4 * 4 : ox4 * 4 + w4 * 4]
                cs = np.s_[oy4 * 2 : oy4 * 2 + h4 * 2,
                           ox4 * 2 : ox4 * 2 + w4 * 2]
                py[ys] = pp[0][ys]
                pcb[cs] = pp[1][cs]
                pcr[cs] = pp[2][cs]
            cbp, qpd, zl, cdcz, cacz = _read_residuals(
                r, g, mx, my, _CBP_INTER
            )
            if cbp:
                cur_qp = (cur_qp + qpd + 52) % 52
                qpc = _chroma_qp(cur_qp)
            _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp,
                            zl, cdcz, cacz, cur_qp, qpc)
            addr += 1
    frame = (
        ry.astype(np.uint8),
        rcb.astype(np.uint8),
        rcr.astype(np.uint8),
    )
    return frame, _b_motion(mvs0, mvs1, luma_nnz)


# ---------------------------------------------------------------------------
# Sequence entry points
# ---------------------------------------------------------------------------


def encode_h264_b_sequence(entries: list, qp: int = 0, weights=None,
                           direct_mode: str = "spatial",
                           deblock: bool = False,
                           deblock_offsets: tuple = (0, 0)):
    implicit = weights == "implicit"
    if implicit:
        weights = None
    d_idc = 1 if not deblock else (2 if deblock == 2 else 0)
    aoff, boff = 2 * deblock_offsets[0], 2 * deblock_offsets[1]

    def _filt(recon, cur_qp, info=None):
        if not deblock:
            return recon
        from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (  # noqa: E501
            deblock_frame,
        )

        return deblock_frame(*recon, cur_qp, info,
                             alpha_off=aoff, beta_off=boff)
    """Encode a decode-order sequence with B frames. ``entries``:

      ("idr", planes)                 — Intra_16x16 anchor, POC 0;
      ("p", planes, mb_specs, poc)    — single-ref CAVLC P frame
        (reference = most recent reference picture); mb_specs in
        encode_h264_p_gop's single-ref language;
      ("b", planes, mb_specs, poc)    — non-reference CAVLC B frame;
        each mb_spec is ("i16",) or (mode, [part, ...]) with mode in
        {"16x16", "16x8", "8x16"} and part ("l0", mv) / ("l1", mv) /
        ("bi", mv0, mv1). list0 = nearest PAST reference by POC,
        list1 = nearest FUTURE reference by POC (both must exist).

    Returns (annex_b_bytes, [recon planes in decode order],
    [poc per frame])."""
    if not entries or entries[0][0] != "idr":
        raise ValueError("sequence must start with an IDR entry")
    y0 = entries[0][1][0]
    h, w = y0.shape
    if h % 16 or w % 16:
        raise ValueError("B sequences require dimensions % 16 == 0")
    mbw, mbh = w // 16, h // 16
    wtab = _norm_weights(weights) if weights is not None else None
    if wtab is not None:
        pps = _pps_rbsp_deblock_wp(1)
    elif implicit:
        pps = _pps_rbsp_deblock_wp(2)
    else:
        pps = _pps_rbsp_deblock()
    stream = (
        _nal(3, 7, _sps_rbsp_poc0(mbw, mbh, w, h))
        + _nal(3, 8, pps)
    )
    recons: list = []
    pocs: list = []
    ref_dpb: list = []  # (poc, planes), newest decoded first
    n_refs_decoded = 0
    for ei, entry in enumerate(entries):
        kind = entry[0]
        if kind == "idr":
            if ei != 0:
                raise ValueError("IDR only as the first entry")
            idr_nal, recon = _encode_idr(
                entry[1], qp, _POC_BITS, (d_idc, deblock_offsets)
            )
            stream += idr_nal
            recon = _filt(recon, qp)  # all-intra info
            recons.append(recon)
            pocs.append(0)
            ref_dpb = [(0, recon, _intra_motion(mbw, mbh))]
            n_refs_decoded = 1
            continue
        _, planes, mb_specs, poc = entry
        fn = n_refs_decoded  # PrevRefFrameNum + 1 rule
        if kind == "p":
            rbsp, recon, motion = _encode_p_frame(
                planes, [ref_dpb[0][1]], mb_specs, qp, fn, 1,
                deblock_idc=d_idc, deblock_offs=deblock_offsets,
            )
            stream += _nal(2, 1, _p_reheader_poc0(rbsp, poc))
            if deblock:
                from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (  # noqa: E501
                    make_block_info,
                )

                recon = _filt(recon, qp, make_block_info(
                    mbw, mbh, inter=motion["inter"],
                    nnz=motion["nnz"], mv=motion["mv"],
                    ref=motion["ref"],
                ))
            ref_dpb.insert(0, (poc, recon, motion))
            del ref_dpb[3:]  # max_num_ref_frames = 3
            n_refs_decoded += 1
        elif kind in ("b", "bref"):
            past = [e for e in ref_dpb if e[0] < poc]
            future = [e for e in ref_dpb if e[0] > poc]
            if not past or not future:
                raise ValueError(
                    "a B frame needs one past and one future "
                    "reference in the DPB"
                )
            l0e = max(past, key=lambda e: e[0])
            l1e = min(future, key=lambda e: e[0])
            rbsp, recon, bmotion = _encode_b_frame(
                planes, l0e[1], l1e[1], mb_specs, qp, fn, poc, wtab,
                col=l1e[2], direct_mode=direct_mode,
                tbtd=(poc - l0e[0], l1e[0] - l0e[0]),
                implicit=implicit, deblock_idc=d_idc,
                deblock_offs=deblock_offsets,
                is_ref=kind == "bref",
            )
            # reference B (pyramid): nal_ref_idc 2, enters the DPB
            # with its single-list colocated view; plain B: idc 0
            stream += _nal(2 if kind == "bref" else 0, 1, rbsp)
            if deblock:
                from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (  # noqa: E501
                    make_block_info_b,
                )

                recon = _filt(recon, qp, make_block_info_b(
                    mbw, mbh, inter=bmotion["inter"],
                    nnz=bmotion["nnz"], mv0=bmotion["mv0"],
                    mv1=bmotion["mv1"], pf0=bmotion["pf0"],
                    pf1=bmotion["pf1"], pic0=l0e[0], pic1=l1e[0],
                ))
            if kind == "bref":
                ref_dpb.insert(0, (poc, recon, _col_view(bmotion)))
                del ref_dpb[3:]  # max_num_ref_frames = 3
                n_refs_decoded += 1
        else:
            raise ValueError(f"bad entry kind {kind!r}")
        recons.append(recon)
        pocs.append(poc)
    return stream, recons, pocs


def decode_h264_b_stream(payload: bytes):
    """Decode a POC-type-0 IDR + P + B stream. Returns
    (frames in DECODE order, poc per frame) — sort by POC for display
    order. The IDR's macroblocks decode through the shared intra
    macroblock layer after its header is parsed here; P slices are
    delegated to h264_inter._decode_p_frame; B slices decode here
    against the POC-ordered reference lists."""
    sps = None
    bipred_idc = 0
    frames: list = []
    pocs: list = []
    ref_dpb: list = []  # (poc, planes), newest decoded first
    for nal in _split_nals(bytes(payload)):
        ntype = nal[0] & 0x1F
        rbsp = _ep_remove(nal[1:])
        if ntype == 7:
            sps = _parse_sps(rbsp)
            if sps.get("poc_type") != 0:
                raise ValueError("B streams require pic_order_cnt_type 0")
        elif ntype == 8:
            r = BitReader(rbsp)
            r.ue()
            r.ue()
            if r.u(1):
                raise NotImplementedError("CABAC B slices — gated")
            r.u(1)  # bottom_field_pic_order_in_frame_present
            r.ue()  # num_slice_groups_minus1
            r.ue()  # num_ref_idx_l0_default_active_minus1
            r.ue()  # num_ref_idx_l1_default_active_minus1
            if r.u(1):
                raise NotImplementedError(
                    "weighted_pred_flag (weighted P slices) — gated"
                )
            bipred_idc = r.u(2)
        elif ntype == 5:
            if sps is None:
                raise ValueError("IDR before SPS")
            frame = _decode_idr(rbsp, sps, True)
            frames.append(frame)
            pocs.append(0)
            ref_dpb = [(0, frame, _intra_motion(sps["mbw"],
                                                sps["mbh"]))]
        elif ntype == 1:
            if sps is None or not ref_dpb:
                raise ValueError("coded slice before references exist")
            r = BitReader(rbsp)
            is_ref = bool((nal[0] >> 5) & 3)
            kind, qp, poc, wts, spatial, d_idc, d_offs = (
                _parse_inter_header(r, bipred_idc, is_ref=is_ref)
            )
            motion = None
            if kind == "p":
                frame, motion = _decode_p_frame(
                    r, sps, qp, [ref_dpb[0][1]], 1,
                    return_motion=True,
                )
                if d_idc != 1:
                    from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (  # noqa: E501
                        deblock_frame,
                        make_block_info,
                    )

                    frame = deblock_frame(
                        *frame, qp, make_block_info(
                            sps["mbw"], sps["mbh"],
                            inter=motion["inter"],
                            nnz=motion["nnz"], mv=motion["mv"],
                            ref=motion["ref"],
                        ),
                        alpha_off=2 * d_offs[0],
                        beta_off=2 * d_offs[1],
                    )
            else:
                past = [e for e in ref_dpb if e[0] < poc]
                future = [e for e in ref_dpb if e[0] > poc]
                if not past or not future:
                    raise ValueError(
                        "B slice without a past and a future reference"
                    )
                l0e = max(past, key=lambda e: e[0])
                l1e = min(future, key=lambda e: e[0])
                if l1e[2] is None:
                    # A reference B picture carries no exported motion
                    # field; silently treating it as all-intra would
                    # corrupt temporal/spatial direct derivation.
                    raise ValueError(
                        "colocated picture (poc %d) is a reference B "
                        "frame without an exported motion field; "
                        "reference-B colocation is a declared gate"
                        % l1e[0])
                frame, bmotion = _decode_b_frame(
                    r, sps, qp, l0e[1], l1e[1], wts,
                    col=l1e[2], spatial=spatial,
                    tbtd=(poc - l0e[0], l1e[0] - l0e[0]),
                    implicit=bipred_idc == 2,
                )
                if is_ref:  # reference B: its motion enters the DPB
                    motion = _col_view(bmotion)
                if d_idc != 1:
                    from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (  # noqa: E501
                        deblock_frame,
                        make_block_info_b,
                    )

                    frame = deblock_frame(
                        *frame, qp, make_block_info_b(
                            sps["mbw"], sps["mbh"],
                            inter=bmotion["inter"],
                            nnz=bmotion["nnz"],
                            mv0=bmotion["mv0"], mv1=bmotion["mv1"],
                            pf0=bmotion["pf0"], pf1=bmotion["pf1"],
                            pic0=l0e[0], pic1=l1e[0],
                        ),
                        alpha_off=2 * d_offs[0],
                        beta_off=2 * d_offs[1],
                    )
            frames.append(frame)
            pocs.append(poc)
            if (nal[0] >> 5) & 3:  # reference picture
                ref_dpb.insert(0, (poc, frame, motion))
                del ref_dpb[max(1, sps.get("max_refs") or 1):]
    if not frames:
        raise ValueError("no coded frames found")
    return frames, pocs


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def synthesize_h264_b_frames(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document 3-frame 32x32 B GOP in decode order IDR(poc 0) ->
    P(poc 4) -> B(poc 2). The anchor and P frame reuse the m35/m36
    formula family; the B frame's four MBs are, in raster order:

      (0,0) B_L0_16x16   — full-pel motion from the ANCHOR;
      (1,0) B_L1_16x16   — full-pel motion from the FUTURE P frame
            (list1 selection through the POC-ordered DPB);
      (0,1) B_8x8        — four sub-macroblocks whose list usage
            cycles l0 / l1 / bi by (id + k) % 3 and whose
            sub_mb_type cycles 8x8/8x4/4x8/4x4 by (id + k) % 4 (each
            sub-partition carries its own mvd against the z-scan
            per-list median predictor; bi sub-blocks are the rounded
            average of one block from each list);
      (1,1) B_L0_L1_16x8 — top partition from the anchor, bottom
            from the P frame (mixed lists inside one macroblock,
            mvd_l0-then-mvd_l1 syntax order).

    All MVs full-pel and every residual per-4x4 constant, so at QP 0
    the oracle recomputes EVERY decoded pixel of all three frames in
    pure SQL — including the bi-predictive rounded average, the
    two-hop P-frame composition, AND the chroma planes (r10 fixture
    sweep): per-4x4-constant chroma rides every B macroblock class
    at half the luma displacement (L0/L1 selection, per-sub-block
    B_8x8 motion with the chroma bi rounded average, the mixed-list
    16x8 split) with its own per-4x4 residuals, pinning the chroma
    requant/MC/bi-average scale in the oracle."""
    out_schema = f"{id_col} long, content binary"

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                i = int(i)
                gy, gx = np.mgrid[0:8, 0:8]
                y0 = (16 + (i * 13 + gy * 41 + gx * 59) % 224).repeat(
                    4, 0
                ).repeat(4, 1)
                cgy, cgx = np.mgrid[0:4, 0:4]
                cb0 = (16 + (i * 23 + cgy * 31 + cgx * 41)
                       % 200).repeat(4, 0).repeat(4, 1)
                cr0 = (16 + (i * 29 + cgy * 37 + cgx * 43)
                       % 200).repeat(4, 0).repeat(4, 1)
                py, px = np.mgrid[0:32, 0:32]
                mxg, myg = px // 16, py // 16
                # P frame (poc 4): m35/m36 motion family
                dx1 = 4 * ((i + mxg + 2 * myg) % 3 - 1)
                dy1 = 4 * ((i * 2 + 3 * mxg + myg) % 3 - 1)
                d1 = (i + (py // 4) * 7 + (px // 4) * 11) % 9 - 4
                y1 = y0[np.clip(py + dy1, 0, 31),
                        np.clip(px + dx1, 0, 31)] + d1
                cy_, cx_ = np.mgrid[0:16, 0:16]
                cmx, cmy = cx_ // 8, cy_ // 8
                cdx1 = 2 * ((i + cmx + 2 * cmy) % 3 - 1)
                cdy1 = 2 * ((i * 2 + 3 * cmx + cmy) % 3 - 1)
                dcb1 = (i + (cy_ // 4) * 5 + (cx_ // 4) * 7) % 9 - 4
                dcr1 = (i * 3 + (cy_ // 4) * 3 + (cx_ // 4) * 5) % 9 - 4
                cb1 = cb0[np.clip(cy_ + cdy1, 0, 15),
                          np.clip(cx_ + cdx1, 0, 15)] + dcb1
                cr1 = cr0[np.clip(cy_ + cdy1, 0, 15),
                          np.clip(cx_ + cdx1, 0, 15)] + dcr1
                specs_p = []
                for my_ in range(2):
                    for mx_ in range(2):
                        specs_p.append(
                            ("16x16",
                             [(16 * ((i + mx_ + 2 * my_) % 3 - 1),
                               16 * ((i * 2 + 3 * mx_ + my_) % 3 - 1))])
                        )
                # B frame (poc 2)
                yb = np.zeros((32, 32), np.int64)
                # (0,0) L0 from anchor
                dxa, dya = 4 * ((i + 1) % 3 - 1), 4 * ((i * 2) % 3 - 1)
                reg = np.s_[0:16, 0:16]
                da = (i + (py[reg] // 4) * 7 + (px[reg] // 4) * 11) % 9 - 4
                yb[reg] = y0[np.clip(py[reg] + dya, 0, 31),
                             np.clip(px[reg] + dxa, 0, 31)] + da
                # (1,0) L1 from the P frame
                dxb, dyb = 4 * ((i * 2 + 1) % 3 - 1), 4 * ((i + 2) % 3 - 1)
                reg = np.s_[0:16, 16:32]
                db = (i * 3 + (py[reg] // 4) * 5
                      + (px[reg] // 4) * 13) % 9 - 4
                yb[reg] = y1[np.clip(py[reg] + dyb, 0, 31),
                             np.clip(px[reg] + dxb, 0, 31)] + db
                # (0,1) B_8x8: per-8x8 list usage l0/l1/bi by
                # (i + k) % 3, per-8x8 motion in both lists
                reg = np.s_[16:32, 0:16]
                kk = (px[reg] % 16) // 8 + 2 * ((py[reg] % 16) // 8)
                d0x = 4 * ((i + kk) % 3 - 1)
                d0y = 4 * ((i * 2 + kk) % 3 - 1)
                d1x = 4 * ((i + kk + 1) % 3 - 1)
                d1y = 4 * ((i * 2 + kk + 2) % 3 - 1)
                p0 = y0[np.clip(py[reg] + d0y, 0, 31),
                        np.clip(px[reg] + d0x, 0, 31)]
                p1 = y1[np.clip(py[reg] + d1y, 0, 31),
                        np.clip(px[reg] + d1x, 0, 31)]
                usek = (i + kk) % 3  # 0 = l0, 1 = l1, 2 = bi
                dc_ = (i + (py[reg] // 4) * 3 + (px[reg] // 4) * 7) % 9 - 4
                yb[reg] = (
                    np.where(usek == 0, p0,
                             np.where(usek == 1, p1,
                                      (p0 + p1 + 1) >> 1))
                    + dc_
                )
                # (1,1) 16x8: top L0 from anchor, bottom L1 from P
                dxt, dyt = 4 * ((i + 1) % 3 - 1), 4 * ((i * 2) % 3 - 1)
                dxu, dyu = 4 * ((i * 2 + 2) % 3 - 1), 4 * ((i + 1) % 3 - 1)
                regt = np.s_[16:24, 16:32]
                regu = np.s_[24:32, 16:32]
                dd = lambda r_: (i * 5 + (py[r_] // 4) * 11
                                 + (px[r_] // 4) * 3) % 9 - 4
                yb[regt] = y0[np.clip(py[regt] + dyt, 0, 31),
                              np.clip(px[regt] + dxt, 0, 31)] + dd(regt)
                yb[regu] = y1[np.clip(py[regu] + dyu, 0, 31),
                              np.clip(px[regu] + dxu, 0, 31)] + dd(regu)
                assert yb.min() >= 0 and yb.max() <= 255
                # --- B-frame chroma, same regions at half scale ---
                cbb = np.zeros((16, 16), np.int64)
                crb = np.zeros((16, 16), np.int64)
                clip_ = lambda a: np.clip(a, 0, 15)
                # (0,0) L0 from anchor
                r = np.s_[0:8, 0:8]
                dab = (i + (cy_[r] // 4) * 5 + (cx_[r] // 4) * 7) % 9 - 4
                dar = (i * 3 + (cy_[r] // 4) * 3
                       + (cx_[r] // 4) * 5) % 9 - 4
                cbb[r] = cb0[clip_(cy_[r] + dya // 2),
                             clip_(cx_[r] + dxa // 2)] + dab
                crb[r] = cr0[clip_(cy_[r] + dya // 2),
                             clip_(cx_[r] + dxa // 2)] + dar
                # (1,0) L1 from the P frame
                r = np.s_[0:8, 8:16]
                dbb = (i * 3 + (cy_[r] // 4) * 5
                       + (cx_[r] // 4) * 13) % 9 - 4
                dbr = (i * 7 + (cy_[r] // 4) * 7
                       + (cx_[r] // 4) * 11) % 9 - 4
                cbb[r] = cb1[clip_(cy_[r] + dyb // 2),
                             clip_(cx_[r] + dxb // 2)] + dbb
                crb[r] = cr1[clip_(cy_[r] + dyb // 2),
                             clip_(cx_[r] + dxb // 2)] + dbr
                # (0,1) B_8x8 per-sub-block chroma motion + bi average
                r = np.s_[8:16, 0:8]
                ckk = (cx_[r] % 8) // 4 + 2 * ((cy_[r] % 8) // 4)
                c0x = 2 * ((i + ckk) % 3 - 1)
                c0y = 2 * ((i * 2 + ckk) % 3 - 1)
                c1x = 2 * ((i + ckk + 1) % 3 - 1)
                c1y = 2 * ((i * 2 + ckk + 2) % 3 - 1)
                cusek = (i + ckk) % 3
                for src_pl, dst, dl in (
                    ((cb0, cb1), cbb,
                     (i + (cy_[r] // 4) * 3 + (cx_[r] // 4) * 7) % 9 - 4),
                    ((cr0, cr1), crb,
                     (i * 5 + (cy_[r] // 4) * 9
                      + (cx_[r] // 4) * 3) % 9 - 4),
                ):
                    q0 = src_pl[0][clip_(cy_[r] + c0y),
                                   clip_(cx_[r] + c0x)]
                    q1 = src_pl[1][clip_(cy_[r] + c1y),
                                   clip_(cx_[r] + c1x)]
                    dst[r] = (
                        np.where(cusek == 0, q0,
                                 np.where(cusek == 1, q1,
                                          (q0 + q1 + 1) >> 1)) + dl
                    )
                # (1,1) 16x8: top L0 from anchor, bottom L1 from P
                for r, ref_cb, ref_cr, ddy, ddx in (
                    (np.s_[8:12, 8:16], cb0, cr0, dyt // 2, dxt // 2),
                    (np.s_[12:16, 8:16], cb1, cr1, dyu // 2, dxu // 2),
                ):
                    dlb = (i * 5 + (cy_[r] // 4) * 11
                           + (cx_[r] // 4) * 3) % 9 - 4
                    dlr = (i * 9 + (cy_[r] // 4) * 13
                           + (cx_[r] // 4) * 5) % 9 - 4
                    cbb[r] = ref_cb[clip_(cy_[r] + ddy),
                                    clip_(cx_[r] + ddx)] + dlb
                    crb[r] = ref_cr[clip_(cy_[r] + ddy),
                                    clip_(cx_[r] + ddx)] + dlr
                for pl in (cb1, cr1, cbb, crb):
                    assert pl.min() >= 0 and pl.max() <= 255
                # quarter-pel units = 4 * full-pel pixels
                q = lambda dx, dy: (4 * dx, 4 * dy)
                submodes = ("8x8", "8x4", "4x8", "4x4")
                nsub = {"8x8": 1, "8x4": 2, "4x8": 2, "4x4": 4}
                subs = []
                for k in range(4):
                    sm = submodes[(i + k) % 4]
                    mv0 = q(4 * ((i + k) % 3 - 1),
                            4 * ((i * 2 + k) % 3 - 1))
                    mv1 = q(4 * ((i + k + 1) % 3 - 1),
                            4 * ((i * 2 + k + 2) % 3 - 1))
                    use = ("l0", "l1", "bi")[(i + k) % 3]
                    if use == "bi":
                        subs.append((use, sm,
                                     [(mv0, mv1)] * nsub[sm]))
                    elif use == "l0":
                        subs.append((use, sm, [mv0] * nsub[sm]))
                    else:
                        subs.append((use, sm, [mv1] * nsub[sm]))
                specs_b = [
                    ("16x16", [("l0", q(dxa, dya))]),
                    ("16x16", [("l1", q(dxb, dyb))]),
                    ("8x8", subs),
                    ("16x8", [("l0", q(dxt, dyt)),
                              ("l1", q(dxu, dyu))]),
                ]
                stream, recons, pocs = encode_h264_b_sequence(
                    [
                        ("idr", (y0.astype(np.uint8),
                                 cb0.astype(np.uint8),
                                 cr0.astype(np.uint8))),
                        ("p", (y1.astype(np.uint8),
                               cb1.astype(np.uint8),
                               cr1.astype(np.uint8)), specs_p, 4),
                        ("b", (yb.astype(np.uint8),
                               cbb.astype(np.uint8),
                               crb.astype(np.uint8)), specs_b, 2),
                    ],
                    qp=0,
                )
                if not (
                    np.array_equal(recons[0][0], y0)
                    and np.array_equal(recons[1][0], y1)
                    and np.array_equal(recons[2][0], yb)
                    and np.array_equal(recons[2][1], cbb)
                    and np.array_equal(recons[2][2], crb)
                    and np.array_equal(recons[1][1], cb1)
                    and np.array_equal(recons[1][2], cr1)
                ):
                    raise AssertionError(
                        f"doc {i}: QP-0 B fixture not exact"
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


def h264_b_frame_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode B GOPs and emit per-frame plane sums plus the display
    position of the B frame (sorted POC rank) for the oracle."""
    out_schema = (
        f"{id_col} long, n_frames int, width int, height int,"
        " b_display_idx int, sum_y_idr long, sum_y_p long,"
        " sum_y_b long, sum_cb_b long, sum_cr_b long"
    )

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, content in zip(pdf[id_col], pdf[content_col]):
                frames, pocs = decode_h264_b_stream(bytes(content))
                y_i = frames[0][0]
                y_p = frames[1][0]
                y_b, cb_b, cr_b = frames[2]
                display = sorted(range(len(pocs)), key=lambda k: pocs[k])
                rows.append(
                    (
                        int(i),
                        len(frames),
                        int(y_b.shape[1]),
                        int(y_b.shape[0]),
                        int(display.index(2)),
                        int(y_i.sum()),
                        int(y_p.sum()),
                        int(y_b.sum()),
                        int(cb_b.sum()),
                        int(cr_b.sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_frames", "width", "height",
                         "b_display_idx", "sum_y_idr", "sum_y_p",
                         "sum_y_b", "sum_cb_b", "sum_cr_b"],
            )

    return media.mapInPandas(feat, out_schema)


# ---------------------------------------------------------------------------
# Spark surface (m45): B-PYRAMID decode (reference B pictures)
# ---------------------------------------------------------------------------
#
# r11: hierarchical GOPs — a reference B picture (nal_ref_idc 2,
# dec_ref_pic_marking in its header) enters the DPB with its
# single-list colocated view, and later B pictures predict FROM it
# through both lists. Fixture: QP 0, zero-MV macroblocks with
# per-4x4 formula residuals, per-MB list usage cycling l0/bi/l1 by
# (doc + mb + poc) % 3 — every frame is a closed-form expression
# over its two reference frames (bi = (l0 + l1 + 1) >> 1), so the
# oracle re-derives the whole pyramid with chained CASEs. A decoder
# that mis-wires the reference-B DPB entry (wrong picture, wrong
# list) lands on the wrong base values everywhere.


def _m45_delta(seed: int, k: int, m: int, by, bx):
    return (seed * (2 * k + 1) + by * (5 + k) + bx * (7 + 2 * k)
            + m * 3) % 9 - 4


def synthesize_h264_bpyramid_frames(docs, id_col: str = "doc_id"):
    """Per-document 5-frame 32x32 QP-0 pyramid in decode order
    IDR(poc 0) -> P(8) -> Bref(4) -> B(2) -> B(6): B(2) predicts
    from {IDR, Bref}, B(6) from {Bref, P} — the reference B is a
    genuine prediction source through BOTH lists."""
    from collections.abc import Iterator as _It

    import pandas as pd

    out_schema = f"{id_col} long, content binary"

    def build(batches) -> "_It[pd.DataFrame]":
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                i = int(i)
                by, bx = np.mgrid[0:8, 0:8]
                cby, cbx = np.mgrid[0:4, 0:4]
                mgrid = (bx // 4) + 2 * (by // 4)
                cmgrid = (cbx // 2) + 2 * (cby // 2)

                def expand(a, rep=4):
                    return a.repeat(rep, 0).repeat(rep, 1)

                y0 = expand(16 + (i * 13 + by * 41 + bx * 59) % 224)
                cb0 = expand(16 + (i * 23 + cby * 31 + cbx * 41) % 200)
                cr0 = expand(16 + (i * 29 + cby * 37 + cbx * 43) % 200)

                def dl(k):
                    return expand(_m45_delta(i, k, mgrid, by, bx))

                def dc(seed, k):
                    return expand(
                        _m45_delta(seed, k, cmgrid, cby, cbx))

                yp = y0 + dl(1)
                cbp_ = cb0 + dc(3 * i + 1, 1)
                crp_ = cr0 + dc(5 * i + 2, 1)

                def mix(k, l0y, l1y, l0c, l1c, l0r, l1r):
                    """Per-MB l0/bi/l1 selection by (i + m + k) % 3,
                    plus the frame's deltas."""
                    usel = expand((i + mgrid + k) % 3)
                    usec = expand((i + cmgrid + k) % 3)
                    yv = np.where(
                        usel == 0, l0y,
                        np.where(usel == 1, (l0y + l1y + 1) >> 1,
                                 l1y)) + dl(k)
                    cbv = np.where(
                        usec == 0, l0c,
                        np.where(usec == 1, (l0c + l1c + 1) >> 1,
                                 l1c)) + dc(3 * i + 1, k)
                    crv = np.where(
                        usec == 0, l0r,
                        np.where(usec == 1, (l0r + l1r + 1) >> 1,
                                 l1r)) + dc(5 * i + 2, k)
                    return yv, cbv, crv

                yb4, cb4, cr4 = mix(4, y0, yp, cb0, cbp_, cr0, crp_)
                yb2, cb2, cr2 = mix(2, y0, yb4, cb0, cb4, cr0, cr4)
                yb6, cb6, cr6 = mix(6, yb4, yp, cb4, cbp_, cr4, crp_)

                def u8(t):
                    return tuple(a.astype(np.uint8) for a in t)

                def specs(k):
                    out = []
                    for m in range(4):
                        use = (i + m + k) % 3
                        out.append(("16x16", [
                            ("l0", (0, 0)) if use == 0 else
                            ("bi", (0, 0), (0, 0)) if use == 1 else
                            ("l1", (0, 0))
                        ]))
                    return out

                entries = [
                    ("idr", u8((y0, cb0, cr0))),
                    ("p", u8((yp, cbp_, crp_)),
                     [("16x16", [(0, 0)])] * 4, 8),
                    ("bref", u8((yb4, cb4, cr4)), specs(4), 4),
                    ("b", u8((yb2, cb2, cr2)), specs(2), 2),
                    ("b", u8((yb6, cb6, cr6)), specs(6), 6),
                ]
                stream, recons, pocs = encode_h264_b_sequence(
                    entries, qp=0
                )
                if pocs != [0, 8, 4, 2, 6]:
                    raise AssertionError(f"doc {i}: poc order {pocs}")
                for fa, (fb, _, _2) in zip(
                    recons, [(e[1], 0, 0) for e in entries]
                ):
                    for a, b in zip(fa, fb):
                        if not np.array_equal(a, b):
                            raise AssertionError(
                                f"doc {i}: QP-0 pyramid not exact")
                ids.append(i)
                blobs.append(stream)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "content": pd.Series(blobs, dtype=object),
                }
            )

    return docs.select(id_col).mapInPandas(build, out_schema)


def h264_bpyramid_features(
    media,
    id_col: str = "doc_id",
    content_col: str = "content",
):
    """Decode the pyramids and emit decode-order POC pin + per-frame
    sums of the three B-family frames."""
    from collections.abc import Iterator as _It

    import pandas as pd

    out_schema = (
        f"{id_col} long, n_frames int, poc_seq_ok boolean,"
        " sum_y_bref long, sum_y_b2 long, sum_y_b6 long,"
        " sum_cb_b6 long, sum_cr_b6 long"
    )

    def feat(batches) -> "_It[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for i, content in zip(pdf[id_col], pdf[content_col]):
                frames, pocs = decode_h264_b_stream(bytes(content))
                rows.append(
                    (int(i), len(frames), pocs == [0, 8, 4, 2, 6],
                     int(frames[2][0].sum()), int(frames[3][0].sum()),
                     int(frames[4][0].sum()), int(frames[4][1].sum()),
                     int(frames[4][2].sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_frames", "poc_seq_ok",
                         "sum_y_bref", "sum_y_b2", "sum_y_b6",
                         "sum_cb_b6", "sum_cr_b6"],
            )

    return media.mapInPandas(feat, out_schema)
