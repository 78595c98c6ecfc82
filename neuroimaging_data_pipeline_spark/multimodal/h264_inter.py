"""H.264 inter (P-slice) prediction — the round-9 stretch on the last
big video gate ("a video corpus is mostly inter frames", VERDICT r8
missing #2). CAVLC P slices on top of the proven intra stack:

- fractional-sample LUMA interpolation (8.4.2.2.1/2): the 6-tap
  (1,-5,20,20,-5,1) half-sample filter — including the center 'j'
  position built from intermediate (un-rounded) half values — and
  quarter-sample averaging, all positions, edge-clamped unrestricted
  motion vectors;
- CHROMA eighth-sample bilinear interpolation (8.4.2.2.2);
- motion-vector PREDICTION (8.4.1.3): component-wise median over the
  A/B/C neighbor partitions with the C->D substitution and the
  only-A fallback, the 16x8/8x16 directional shortcuts, and the
  P_Skip zero-MV conditions;
- P macroblock syntax (CAVLC): mb_skip_run, P_L0_16x16 /
  P_L0_L0_16x8 / P_L0_L0_8x16 partitions with per-partition mvd_l0,
  P_8x8 sub-macroblock partitions (sub_mb_type 8x8/8x4/4x8/4x4 with
  per-sub-partition mvd and z-scan-order MV prediction), the INTER
  coded_block_pattern me(v) mapping (Table 9-4), full 16-coefficient
  luma residual blocks and the shared chroma DC-Hadamard path, nC
  neighbor tracking across skipped MBs;
- INTRA macroblocks inside P slices (mb_type 5..30: I_4x4,
  Intra_16x16, I_PCM), coded by h264_intra's intra macroblock layer,
  the same code the I slices run — intra neighbors are marked
  unavailable-for-MV-prediction (refIdx -1, mv 0) exactly as
  8.4.1.3.2 requires, WITHOUT triggering the out-of-picture D
  substitution or only-A fallback;
- MULTIPLE REFERENCE FRAMES (up to 15 since the r11 multi-reference
  work; the original 2-ref path is the common case): list0 ordered
  most-recently-
  decoded first (8.2.4.2.1 PicNum descending), per-partition
  ref_idx_l0 coded te(v), sliding-window DPB eviction, and the
  refIdx-aware predictor rules (the exactly-one-matching-neighbor
  shortcut and the refIdx-conditioned 16x8/8x16 directional rules);
- sequence framing: SPS with max_num_ref_frames in 1..15, a PPS
  with deblocking control so every slice header disables the loop
  filter (the stream's nominal conformant output IS this codec
  family's reconstruction), an IDR Intra_16x16 anchor written under
  its own deblocking-control slice header straight into the shared
  intra macroblock loop, and non-IDR (NAL type 1) P slices
  referencing the decoded-frame DPB.

Weighted P slices (weighted_pred_flag, a later pass): a list-0
pred_weight_table in every P slice header, per-REFERENCE
weight/offset pairs applied to every partition through the shared
motion-compensation helper — skip, sub-partitions and multi-ref
included.

Distinct Cb/Cr explicit weights (wcr/ocr per reference) are
supported end-to-end, including wcr-only entries (writer and
resolver both fall back Cb = wcr per chroma_weight_flag semantics).

IN-LOOP DEBLOCKING (r10): encode_h264_p_gop(deblock=True) writes
disable_deblocking_filter_idc 0 and both sides run the clause-8.7
filter (h264_deblock.py) over the exported per-4x4 block info —
filtered frames are the DPB references, per spec. r11: slice
alpha/beta filter offsets (written/parsed per 7.3.3 when idc != 1,
applied per 8.7.2.2 indexA/indexB) and idc 2 emission
(deblock=2; identical to idc 0 for single-slice frames).

r11: >2 reference frames (num_refs up to 15, ref_idx_l0 as TRUE
te(v): one inverted bit at range 1, ue(v) above — CAVLC and CABAC
paths both; the m44 long-GOP oracle pins reference selection).
CABAC P-slice MACHINERY is complete in h264_cabac_inter.py
(binarizations, neighbor contexts, full slice round trips); its
remaining gate is the 9.3.1.1 P-column init DATA. B slices live in
h264_bslice.py. The encoder<->decoder round-trip is bit-exact by
construction (pinned across QPs, partition shapes, sub-partition
splits, intra-in-P placements, ref_idx patterns and quarter-pel
fractions in tests/test_h264_inter.py); a capability-gated ffmpeg
cross-pin covers machines that have ffmpeg.

Reference parity: preprocess_parallel.sh shells out for video; this
is the engine-side equivalent for the inter frames that dominate any
real H.264 corpus.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.bitio import BitReader, BitWriter
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _check_planes,
    _ep_remove,
    _nal,
    _parse_slice_header,
    _parse_sps,
    _read_deblock_fields,
    _slice_header,
    _split_nals,
    _write_deblock_fields,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    _CF,
    _MbGrid,
    _cbp_luma,
    _chroma_fwd,
    _chroma_qp,
    _decode_intra_mb,
    _decode_intra_slice,
    _dequant_ac,
    _dequant_dc2,
    _encode_i16_slice,
    _encode_intra_mb,
    _inv4x4,
    _quant,
    _read_residuals,
    _write_residuals,
)

# Table 9-4, Inter column: codeNum -> coded_block_pattern
_CBP_INTER = [
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41,
]
_CBP_INTER_INV = {cbp: i for i, cbp in enumerate(_CBP_INTER)}

_PAD = 32  # reference-plane edge extension (unrestricted MVs)
_ZERO_MV = np.zeros(2, np.int64)  # read-only zero vector (never mutated)


# ---------------------------------------------------------------------------
# Fractional-sample interpolation
# ---------------------------------------------------------------------------


def _six_tap(a, b, c, d, e, f):
    return a - 5 * b + 20 * c + 20 * d - 5 * e + f


def interp_luma(
    ref: np.ndarray, y0: int, x0: int, h: int, w: int, mvx: int, mvy: int
) -> np.ndarray:
    """Luma prediction block (8.4.2.2.1/2): (h, w) block whose
    top-left full-pel anchor is (y0 + mvy//4, x0 + mvx//4) with
    quarter-pel fraction (mvx & 3, mvy & 3). ``ref`` must already be
    edge-padded by _PAD; coordinates are into the padded plane."""
    fy, fx = mvy & 3, mvx & 3
    iy, ix = y0 + (mvy >> 2), x0 + (mvx >> 2)
    # Bounds check: a corrupt/hostile stream can carry an MV that
    # escapes the _PAD apron; a negative slice index would silently
    # wrap and a short window would mis-broadcast. Fail loudly.
    if (iy - 2 < 0 or ix - 2 < 0
            or iy + h + 3 > ref.shape[0] or ix + w + 3 > ref.shape[1]):
        raise ValueError(
            f"motion vector ({mvx},{mvy}) at ({y0},{x0}) escapes the "
            f"padded reference plane {ref.shape}")
    # working window with the filter apron
    win = ref[iy - 2 : iy + h + 3, ix - 2 : ix + w + 3].astype(np.int64)
    G = win[2 : 2 + h, 2 : 2 + w]
    if fx == 0 and fy == 0:
        return G
    # half-sample planes (b: horizontal, hh: vertical), rounded
    b1 = _six_tap(
        win[2 : 2 + h, 0 : 0 + w], win[2 : 2 + h, 1 : 1 + w],
        win[2 : 2 + h, 2 : 2 + w], win[2 : 2 + h, 3 : 3 + w],
        win[2 : 2 + h, 4 : 4 + w], win[2 : 2 + h, 5 : 5 + w],
    )
    b = np.clip((b1 + 16) >> 5, 0, 255)
    h1 = _six_tap(
        win[0 : 0 + h, 2 : 2 + w], win[1 : 1 + h, 2 : 2 + w],
        win[2 : 2 + h, 2 : 2 + w], win[3 : 3 + h, 2 : 2 + w],
        win[4 : 4 + h, 2 : 2 + w], win[5 : 5 + h, 2 : 2 + w],
    )
    hh = np.clip((h1 + 16) >> 5, 0, 255)
    # center half-pel j from UN-rounded intermediate column values:
    # cc[r, c] = vertical 6-tap of b1-style horizontal values
    need_j = (fx, fy) in ((1, 2), (2, 1), (2, 2), (2, 3), (3, 2))
    if need_j:
        bb = _six_tap(
            win[:, 0 : 0 + w], win[:, 1 : 1 + w], win[:, 2 : 2 + w],
            win[:, 3 : 3 + w], win[:, 4 : 4 + w], win[:, 5 : 5 + w],
        )  # (h+5, w) intermediate horizontal half values, un-rounded
        j1 = _six_tap(
            bb[0 : 0 + h], bb[1 : 1 + h], bb[2 : 2 + h],
            bb[3 : 3 + h], bb[4 : 4 + h], bb[5 : 5 + h],
        )
        j = np.clip((j1 + 512) >> 10, 0, 255)
    # neighbors for quarter averaging
    Gx = win[2 : 2 + h, 3 : 3 + w]  # G shifted right (H)
    Gy = win[3 : 3 + h, 2 : 2 + w]  # G shifted down (M)
    if fy == 0:
        if fx == 1:
            return (G + b + 1) >> 1
        if fx == 2:
            return b
        return (Gx + b + 1) >> 1  # fx == 3
    if fx == 0:
        if fy == 1:
            return (G + hh + 1) >> 1
        if fy == 2:
            return hh
        return (Gy + hh + 1) >> 1  # fy == 3
    if (fx, fy) == (2, 2):
        return j
    # half planes shifted one full sample (for the far quarters)
    b_down = np.clip(
        (
            _six_tap(
                win[3 : 3 + h, 0 : 0 + w], win[3 : 3 + h, 1 : 1 + w],
                win[3 : 3 + h, 2 : 2 + w], win[3 : 3 + h, 3 : 3 + w],
                win[3 : 3 + h, 4 : 4 + w], win[3 : 3 + h, 5 : 5 + w],
            )
            + 16
        )
        >> 5,
        0,
        255,
    )
    h_right = np.clip(
        (
            _six_tap(
                win[0 : 0 + h, 3 : 3 + w], win[1 : 1 + h, 3 : 3 + w],
                win[2 : 2 + h, 3 : 3 + w], win[3 : 3 + h, 3 : 3 + w],
                win[4 : 4 + h, 3 : 3 + w], win[5 : 5 + h, 3 : 3 + w],
            )
            + 16
        )
        >> 5,
        0,
        255,
    )
    if (fx, fy) == (1, 1):
        return (b + hh + 1) >> 1  # e
    if (fx, fy) == (3, 1):
        return (b + h_right + 1) >> 1  # g
    if (fx, fy) == (1, 3):
        return (b_down + hh + 1) >> 1  # p
    if (fx, fy) == (3, 3):
        return (b_down + h_right + 1) >> 1  # r
    if (fx, fy) == (1, 2):
        return (hh + j + 1) >> 1  # i
    if (fx, fy) == (3, 2):
        return (h_right + j + 1) >> 1  # k
    if (fx, fy) == (2, 1):
        return (b + j + 1) >> 1  # f
    if (fx, fy) == (2, 3):
        return (b_down + j + 1) >> 1  # q
    raise AssertionError((fx, fy))


def interp_chroma(
    ref: np.ndarray, y0: int, x0: int, h: int, w: int, mvx: int, mvy: int
) -> np.ndarray:
    """Chroma prediction block (8.4.2.2.2): the luma quarter-pel MV
    addresses chroma in EIGHTH samples; bilinear blend. ``ref``
    edge-padded by _PAD//2."""
    fy, fx = mvy & 7, mvx & 7
    iy, ix = y0 + (mvy >> 3), x0 + (mvx >> 3)
    if (iy < 0 or ix < 0
            or iy + h + 1 > ref.shape[0] or ix + w + 1 > ref.shape[1]):
        raise ValueError(
            f"chroma motion vector ({mvx},{mvy}) at ({y0},{x0}) escapes "
            f"the padded reference plane {ref.shape}")
    A = ref[iy : iy + h, ix : ix + w].astype(np.int64)
    B = ref[iy : iy + h, ix + 1 : ix + 1 + w].astype(np.int64)
    C = ref[iy + 1 : iy + 1 + h, ix : ix + w].astype(np.int64)
    D = ref[iy + 1 : iy + 1 + h, ix + 1 : ix + 1 + w].astype(np.int64)
    return (
        (8 - fx) * (8 - fy) * A
        + fx * (8 - fy) * B
        + (8 - fx) * fy * C
        + fx * fy * D
        + 32
    ) >> 6


# ---------------------------------------------------------------------------
# Motion-vector prediction (8.4.1.3)
# ---------------------------------------------------------------------------


class _MvState:
    """Per-4x4-block motion field (extended for P_8x8 / intra-in-P /
    multi-ref): tracks which 4x4 blocks are DECODED (partition
    availability in decode order — inside a macroblock that is z-scan
    sub-partition order, so 'above-right inside the same MB but later
    in decode order' is correctly unavailable and D-substituted),
    which carry inter prediction (predFlagL0), and each block's
    refIdxL0. 8.4.1.3.2 semantics: an INTRA neighbor is 'available
    but not inter' — it contributes mv (0,0) / refIdx -1 to the
    median and does NOT trigger the D substitution or the only-A
    fallback, which fire on genuinely unavailable partitions only."""

    def __init__(self, mbw: int, mbh: int) -> None:
        self.mv = np.zeros((mbh * 4, mbw * 4, 2), np.int64)
        self.decoded = np.zeros((mbh * 4, mbw * 4), bool)
        self.inter = np.zeros((mbh * 4, mbw * 4), bool)
        self.ref = np.full((mbh * 4, mbw * 4), -1, np.int64)

    def _info(self, gy: int, gx: int):
        """None when the partition is unavailable (outside the
        picture or not yet decoded); else (mv, refIdx) with
        ((0, 0), -1) for intra blocks."""
        h, w = self.decoded.shape
        if gy < 0 or gx < 0 or gy >= h or gx >= w:
            return None
        if not self.decoded[gy, gx]:
            return None
        if not self.inter[gy, gx]:
            return (np.zeros(2, np.int64), -1)
        return (self.mv[gy, gx], int(self.ref[gy, gx]))

    def neighbors(self, gx: int, gy: int, pw4: int):
        """(A, B, C) partition neighbor infos for a partition whose
        top-left 4x4 block is (gx, gy) and whose width is pw4 4x4
        units; C falls back to D (above-left) only when the C
        partition itself is unavailable."""
        a = self._info(gy, gx - 1)
        b = self._info(gy - 1, gx)
        c = self._info(gy - 1, gx + pw4)
        if c is None:
            c = self._info(gy - 1, gx - 1)  # D substitution
        return a, b, c

    def pred_for_partition(
        self, mode: str, pidx: int, gx: int, gy: int, pw4: int,
        ref: int = 0,
    ) -> np.ndarray:
        """8.4.1.3.1 directional shortcuts for the two-partition
        modes — each conditioned on the neighbor carrying the SAME
        refIdx — falling back to the median predictor."""
        if mode == "16x8":
            if pidx == 0:
                b = self._info(gy - 1, gx)
                if b is not None and b[1] == ref:
                    return b[0].copy()
            else:
                a = self._info(gy, gx - 1)
                if a is not None and a[1] == ref:
                    return a[0].copy()
        elif mode == "8x16":
            if pidx == 0:
                a = self._info(gy, gx - 1)
                if a is not None and a[1] == ref:
                    return a[0].copy()
            else:
                c = self._info(gy - 1, gx + pw4)
                if c is None:
                    c = self._info(gy - 1, gx - 1)
                if c is not None and c[1] == ref:
                    return c[0].copy()
        return self.predict(gx, gy, pw4, ref)

    def predict(
        self, gx: int, gy: int, pw4: int, ref: int = 0
    ) -> np.ndarray:
        """Median MV predictor (8.4.1.3.1): the exactly-one-neighbor-
        with-the-same-refIdx shortcut first, then the only-A fallback
        (B and C partitions genuinely unavailable), then the
        component-wise median with unavailable/intra neighbors
        contributing zero vectors."""
        a, b, c = self.neighbors(gx, gy, pw4)
        match = [n for n in (a, b, c) if n is not None and n[1] == ref]
        if len(match) == 1:
            return match[0][0].copy()
        if b is None and c is None and a is not None:
            return a[0].copy()
        va = a[0] if a is not None else _ZERO_MV
        vb = b[0] if b is not None else _ZERO_MV
        vc = c[0] if c is not None else _ZERO_MV
        # median of three = sum - min - max, per component (exact for
        # ints; avoids np.median's sort machinery on 3x2 arrays)
        ax, ay = int(va[0]), int(va[1])
        bx, by = int(vb[0]), int(vb[1])
        cx, cy = int(vc[0]), int(vc[1])
        return np.array(
            [ax + bx + cx - min(ax, bx, cx) - max(ax, bx, cx),
             ay + by + cy - min(ay, by, cy) - max(ay, by, cy)],
            np.int64,
        )

    def skip_mv(self, mx: int, my: int) -> np.ndarray:
        """P_Skip MV (8.4.1.1): zero when the left or top MB is
        unavailable or a zero-MV ref-0 INTER neighbor exists; else
        the 16x16 median predictor at refIdx 0. An intra left/top MB
        is available, so it forces neither zero nor the fallback."""
        gx, gy = mx * 4, my * 4
        if gx - 1 < 0 or gy - 1 < 0:
            return np.zeros(2, np.int64)
        a = self._info(gy, gx - 1)
        b = self._info(gy - 1, gx)
        if a is None or b is None:
            return np.zeros(2, np.int64)
        if a[1] == 0 and a[0][0] == 0 and a[0][1] == 0:
            return np.zeros(2, np.int64)
        if b[1] == 0 and b[0][0] == 0 and b[0][1] == 0:
            return np.zeros(2, np.int64)
        return self.predict(gx, gy, 4, 0)

    def fill(
        self, gx: int, gy: int, pw4: int, ph4: int, mv, ref: int = 0
    ) -> None:
        self.mv[gy : gy + ph4, gx : gx + pw4] = mv
        self.decoded[gy : gy + ph4, gx : gx + pw4] = True
        self.inter[gy : gy + ph4, gx : gx + pw4] = True
        self.ref[gy : gy + ph4, gx : gx + pw4] = ref

    def export(self) -> dict:
        """Snapshot the decoded motion field — the colocated-picture
        data spatial direct mode (h264_bslice) reads."""
        return {
            "mv": self.mv.copy(),
            "ref": self.ref.copy(),
            "inter": self.inter.copy(),
        }

    def mark_off(self, gx: int, gy: int, pw4: int, ph4: int) -> None:
        """Mark a partition decoded but NOT predicted from this
        list (intra, or predFlagLX == 0 in B slices): available as a
        neighbor, contributing mv (0, 0) / refIdx -1."""
        self.decoded[gy : gy + ph4, gx : gx + pw4] = True
        self.inter[gy : gy + ph4, gx : gx + pw4] = False
        self.ref[gy : gy + ph4, gx : gx + pw4] = -1

    def mark_intra(self, mx: int, my: int) -> None:
        self.mark_off(mx * 4, my * 4, 4, 4)


# partition geometry per mode: list of (off_x4, off_y4, w4, h4)
_PARTS = {
    "16x16": [(0, 0, 4, 4)],
    "16x8": [(0, 0, 4, 2), (0, 2, 4, 2)],
    "8x16": [(0, 0, 2, 4), (2, 0, 2, 4)],
}
_MB_TYPE = {"16x16": 0, "16x8": 1, "8x16": 2}
_MB_TYPE_INV = {v: k for k, v in _MB_TYPE.items()}

# sub-macroblock partition geometry (offsets in 4x4 units within the
# 8x8 sub-macroblock, z-scan order per Table 7-17 / figure 6-14)
_SUBPARTS = {
    "8x8": [(0, 0, 2, 2)],
    "8x4": [(0, 0, 2, 1), (0, 1, 2, 1)],
    "4x8": [(0, 0, 1, 2), (1, 0, 1, 2)],
    "4x4": [(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)],
}
_SUB_TYPE = {"8x8": 0, "8x4": 1, "4x8": 2, "4x4": 3}
_SUB_TYPE_INV = {v: k for k, v in _SUB_TYPE.items()}


# ---------------------------------------------------------------------------
# Sequence framing
# ---------------------------------------------------------------------------


def _sps_rbsp_ref1(
    mbw: int, mbh: int, w: int, h: int, num_refs: int = 1
) -> bytes:
    """SPS for IDR + P sequences: identical to the shared intra SPS
    except max_num_ref_frames (1..15 decoded references)."""
    if w % 16 or h % 16:
        raise ValueError("inter sequences require dimensions % 16 == 0")
    sps = BitWriter()
    sps.u(66, 8)  # profile_idc: baseline
    sps.u(0xE0, 8)
    sps.u(20, 8)
    sps.ue(0)  # seq_parameter_set_id
    sps.ue(0)  # log2_max_frame_num_minus4 -> 4-bit frame_num
    sps.ue(2)  # pic_order_cnt_type
    sps.ue(num_refs)  # max_num_ref_frames
    sps.u(0, 1)
    sps.ue(mbw - 1)
    sps.ue(mbh - 1)
    sps.u(1, 1)  # frame_mbs_only_flag
    sps.u(1, 1)  # direct_8x8_inference_flag
    sps.u(0, 1)  # no cropping (dims % 16 enforced)
    sps.u(0, 1)  # no VUI
    sps.trailing()
    return sps.bytes_()


def _pps_rbsp_deblock(weighted_pred: bool = False) -> bytes:
    """CAVLC PPS with deblocking_filter_control_present_flag set so
    slice headers can disable the loop filter (stream output ==
    unfiltered reconstruction, same choice as the CABAC module).
    ``weighted_pred`` sets weighted_pred_flag: P slice headers then
    carry a list-0 pred_weight_table."""
    pps = BitWriter()
    pps.ue(0)
    pps.ue(0)
    pps.u(0, 1)  # entropy_coding_mode_flag: CAVLC
    pps.u(0, 1)
    pps.ue(0)
    pps.ue(0)  # num_ref_idx_l0_default_active_minus1 = 0 (one ref)
    pps.ue(0)
    pps.u(1 if weighted_pred else 0, 1)  # weighted_pred_flag
    pps.u(0, 2)
    pps.se(0)
    pps.se(0)
    pps.se(0)
    pps.u(1, 1)  # deblocking_filter_control_present_flag
    pps.u(0, 1)
    pps.u(0, 1)
    pps.trailing()
    return pps.bytes_()


def _copy_bits(r: BitReader, w: BitWriter, rbsp: bytes) -> None:
    """Copy the remaining payload bits of an RBSP (everything after
    r.pos up to but excluding the rbsp_stop_one_bit), then close with
    a fresh trailing pattern."""
    total = len(rbsp) * 8
    last_one = None
    for i in range(total - 1, -1, -1):
        if (rbsp[i >> 3] >> (7 - (i & 7))) & 1:
            last_one = i
            break
    if last_one is None:
        raise ValueError("RBSP with no stop bit")
    # bulk copy: move up to 32 bits per call instead of one
    while r.pos < last_one:
        n = min(32, last_one - r.pos)
        w.u(r.u(n), n)
    w.trailing()


def _norm_p_weights(weights: dict, num_refs: int) -> dict:
    """Normalize user P weights: luma/chroma log2 denominators plus
    one (wy, oy, wc, oc) entry per reference index; None weight =
    flag 0 = default (1 << denom, offset 0)."""
    out = {
        "luma_denom": int(weights.get("luma_denom", 0)),
        "chroma_denom": int(weights.get("chroma_denom", 0)),
        "refs": [],
    }
    user = weights.get("refs", [])
    for ri in range(num_refs):
        e = {"wy": None, "oy": 0, "wc": None, "oc": 0,
             "wcr": None, "ocr": None}
        if ri < len(user):
            e.update(user[ri])
        out["refs"].append(e)
    return out


def _resolve_p_weights(w: dict) -> dict:
    out = {"luma_denom": w["luma_denom"],
           "chroma_denom": w["chroma_denom"], "refs": []}
    for e in w["refs"]:
        e = dict(e)
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
        out["refs"].append(e)
    return out


def _write_pwt_p(sl: BitWriter, w: dict, nra: int) -> None:
    """7.3.3.2 pred_weight_table, list 0 only (P slices)."""
    sl.ue(w["luma_denom"])
    sl.ue(w["chroma_denom"])
    for ri in range(nra):
        e = w["refs"][ri]
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
            ocr = e.get("ocr") if e.get("ocr") is not None else e["oc"]
            sl.se(wcb)
            sl.se(e["oc"])
            sl.se(wcr)
            sl.se(ocr)
        else:
            sl.u(0, 1)


def _parse_pwt_p(r: BitReader, nra: int) -> dict:
    w = {"luma_denom": r.ue(), "chroma_denom": r.ue(), "refs": []}
    for _ in range(nra):
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
        w["refs"].append(e)
    return w


def _write_te_ref(sl: BitWriter, v: int, nra: int) -> None:
    """ref_idx_l0 as te(v) (9.1): range 1 -> one inverted bit,
    range > 1 -> ue(v), range 0 -> absent."""
    if nra == 2:
        sl.u(1 - v, 1)
    elif nra > 2:
        sl.ue(v)


def _read_te_ref(r: BitReader, nra: int) -> int:
    if nra == 2:
        return 1 - r.u(1)
    if nra > 2:
        return r.ue()
    return 0


def _p_slice_header(
    sl: BitWriter, qp: int, frame_num: int = 1, num_refs_active: int = 1,
    wtab: dict | None = None, deblock_idc: int = 1,
    deblock_offs: tuple = (0, 0),
) -> None:
    sl.ue(0)  # first_mb_in_slice
    sl.ue(5)  # slice_type: P (all slices)
    sl.ue(0)  # pic_parameter_set_id
    sl.u(frame_num % 16, 4)  # frame_num
    if num_refs_active != 1:
        sl.u(1, 1)  # num_ref_idx_active_override_flag
        sl.ue(num_refs_active - 1)
    else:
        sl.u(0, 1)  # no override (PPS default: 1 active)
    sl.u(0, 1)  # ref_pic_list_modification_flag_l0
    if wtab is not None:  # PPS weighted_pred_flag: pred_weight_table
        _write_pwt_p(sl, wtab, num_refs_active)
    sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
    sl.se(qp - 26)  # slice_qp_delta
    _write_deblock_fields(sl, deblock_idc, deblock_offs)


def _parse_p_slice_header(
    r: BitReader, weighted_pred: bool = False
) -> tuple[int, int, dict | None, int, tuple]:
    """Returns (slice_qp, num_ref_idx_l0_active, weights-or-None,
    disable_deblocking_filter_idc, (a_div2, b_div2))."""
    r.ue()  # first_mb
    stype = r.ue()
    if stype % 5 != 0:
        raise NotImplementedError(
            f"slice_type {stype} in non-IDR NAL — only P slices are "
            "implemented (B slices stay gated)"
        )
    r.ue()  # pps id
    r.u(4)  # frame_num
    nra = 1  # PPS num_ref_idx_l0_default_active_minus1 is written 0
    if r.u(1):
        nra = r.ue() + 1
        if nra > 15:
            raise ValueError(
                f"num_ref_idx_l0_active {nra} exceeds the 4-bit "
                "frame_num sliding window"
            )
    if r.u(1):
        raise NotImplementedError("ref_pic_list_modification unsupported")
    weights = _parse_pwt_p(r, nra) if weighted_pred else None
    if r.u(1):
        raise NotImplementedError("adaptive ref marking unsupported")
    qp = 26 + r.se()
    idc, offs = _read_deblock_fields(r)
    return qp, nra, weights, idc, offs


# ---------------------------------------------------------------------------
# P-frame encoder
# ---------------------------------------------------------------------------


def _mv_ref(entry) -> tuple[np.ndarray, int]:
    """Normalize a partition spec entry: either a bare (mvx, mvy)
    pair (refIdx 0) or ((mvx, mvy), ref_idx)."""
    if (
        isinstance(entry, (tuple, list))
        and len(entry) == 2
        and not np.isscalar(entry[0])
        and np.isscalar(entry[1])
    ):
        return np.asarray(entry[0], np.int64), int(entry[1])
    return np.asarray(entry, np.int64), 0


# --- shared per-macroblock machinery (used by the B-slice module too) --------


def _edge_pad(a: np.ndarray, p: int) -> np.ndarray:
    """Edge-replicate pad (np.pad mode='edge' twin, ~5x faster: six
    slice assignments instead of the generic pad machinery)."""
    h, w = a.shape
    out = np.empty((h + 2 * p, w + 2 * p), np.int64)
    out[p : p + h, p : p + w] = a
    out[p : p + h, :p] = out[p : p + h, p : p + 1]
    out[p : p + h, p + w :] = out[p : p + h, p + w - 1 : p + w]
    out[:p] = out[p]
    out[p + h :] = out[p + h - 1]
    return out


def _pad_refs(refs: list) -> list:
    """Edge-pad decoded reference planes for unrestricted MVs."""
    return [
        (
            _edge_pad(ry_, _PAD),
            _edge_pad(rcb_, _PAD // 2),
            _edge_pad(rcr_, _PAD // 2),
        )
        for ry_, rcb_, rcr_ in refs
    ]


def _mc_mb(padded: list, mx: int, my: int, placed: list,
           weights: dict | None = None):
    """Motion-compensate one MB from (ox4, oy4, w4, h4, mv, ref)
    placements (4x4-unit offsets within the MB; ref indexes
    ``padded``). With ``weights`` (a resolved P pred_weight_table),
    each partition is explicitly weighted by ITS reference's
    weight/offset per 8.4.2.3.2 uni-prediction. Returns
    (pred_y16, pred_cb8, pred_cr8)."""
    py = np.zeros((16, 16), np.int64)
    pcb = np.zeros((8, 8), np.int64)
    pcr = np.zeros((8, 8), np.int64)
    for ox4, oy4, w4, h4, mv, ref in placed:
        ref_y, ref_cb, ref_cr = padded[ref]
        lx, ly = mx * 16 + ox4 * 4, my * 16 + oy4 * 4
        lb = interp_luma(
            ref_y, ly + _PAD, lx + _PAD, h4 * 4, w4 * 4,
            int(mv[0]), int(mv[1]),
        )
        cx, cy = mx * 8 + ox4 * 2, my * 8 + oy4 * 2
        cb_b = interp_chroma(
            ref_cb, cy + _PAD // 2, cx + _PAD // 2,
            h4 * 2, w4 * 2, int(mv[0]), int(mv[1]),
        )
        cr_b = interp_chroma(
            ref_cr, cy + _PAD // 2, cx + _PAD // 2,
            h4 * 2, w4 * 2, int(mv[0]), int(mv[1]),
        )
        if weights is not None:
            e = weights["refs"][ref]
            ldy = weights["luma_denom"]
            ldc = weights["chroma_denom"]
            if ldy >= 1:
                lb = ((lb * e["wy"] + (1 << (ldy - 1))) >> ldy) + e["oy"]
            else:
                lb = lb * e["wy"] + e["oy"]
            wcr = e.get("wcr", e["wc"])
            ocr = e.get("ocr", e["oc"])
            if ldc >= 1:
                cb_b = ((cb_b * e["wc"] + (1 << (ldc - 1))) >> ldc) + e["oc"]
                cr_b = ((cr_b * wcr + (1 << (ldc - 1))) >> ldc) + ocr
            else:
                cb_b = cb_b * e["wc"] + e["oc"]
                cr_b = cr_b * wcr + ocr
            lb = np.clip(lb, 0, 255)
            cb_b = np.clip(cb_b, 0, 255)
            cr_b = np.clip(cr_b, 0, 255)
        py[oy4 * 4 : oy4 * 4 + h4 * 4, ox4 * 4 : ox4 * 4 + w4 * 4] = lb
        pcb[oy4 * 2 : oy4 * 2 + h4 * 2, ox4 * 2 : ox4 * 2 + w4 * 2] = cb_b
        pcr[oy4 * 2 : oy4 * 2 + h4 * 2, ox4 * 2 : ox4 * 2 + w4 * 2] = cr_b
    return py, pcb, pcr


def _residual_from_target(targets, mx, my, py, pcb, pcr, qp, qpc):
    """Quantize (target - prediction) for one inter MB. Returns
    (cbp, zl, cdcz, cacz)."""
    tgt = targets[0][my * 16 : my * 16 + 16,
                     mx * 16 : mx * 16 + 16].astype(np.int64)
    resid = tgt - py
    blocks = resid.reshape(4, 4, 4, 4).transpose(0, 2, 1, 3)
    zl = _quant(np.matmul(np.matmul(_CF, blocks), _CF.T), qp)
    cdcz, cacz, cbpc = _chroma_fwd(targets, (pcb, pcr), mx, my, qpc)
    return _cbp_luma(zl) | (cbpc << 4), zl, cdcz, cacz


def _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp, zl, cdcz, cacz,
                    qp, qpc):
    """Add the dequantized residual to the MC prediction and write
    the reconstructed MB into (ry, rcb, rcr). The sixteen luma and
    eight chroma 4x4 blocks go through ONE batched inverse transform
    (dequant is per-plane, the butterfly is shape-agnostic)."""
    ry, rcb, rcr = recons
    cbpc = cbp >> 4
    wr = np.empty((24, 4, 4), np.int64)
    wr[:16] = _dequant_ac(zl, qp).reshape(16, 4, 4)
    if cbpc > 1:
        wr[16:20] = _dequant_ac(cacz[0], qpc).reshape(4, 4, 4)
        wr[20:24] = _dequant_ac(cacz[1], qpc).reshape(4, 4, 4)
    else:
        wr[16:] = 0
    if cbpc > 0:
        wr[16:20, 0, 0] = _dequant_dc2(cdcz[0], qpc).ravel()
        wr[20:24, 0, 0] = _dequant_dc2(cdcz[1], qpc).ravel()
    blk = (_inv4x4(wr) + 32) >> 6
    ry[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = np.clip(
        py + blk[:16].reshape(4, 4, 4, 4).transpose(0, 2, 1, 3)
        .reshape(16, 16), 0, 255
    )
    rcb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
        pcb + blk[16:20].reshape(2, 2, 4, 4).transpose(0, 2, 1, 3)
        .reshape(8, 8), 0, 255
    )
    rcr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
        pcr + blk[20:24].reshape(2, 2, 4, 4).transpose(0, 2, 1, 3)
        .reshape(8, 8), 0, 255
    )


def _encode_p_frame(
    target: tuple[np.ndarray, np.ndarray, np.ndarray],
    refs: list,
    mb_specs: list,
    qp: int,
    frame_num: int,
    nra: int,
    wtab: dict | None = None,
    deblock_idc: int = 1,
    deblock_offs: tuple = (0, 0),
) -> tuple[bytes, tuple, dict]:
    """Encode one CAVLC P slice against the decoded reference list
    (most recent first). Returns (slice_rbsp, recon_planes,
    motion_field) — the motion field feeds spatial-direct colocated
    lookups in the B-slice module."""
    h, w = target[0].shape
    mbw, mbh = w // 16, h // 16
    padded = _pad_refs(refs)
    qpc = _chroma_qp(qp)
    g = _MbGrid(mbw, mbh)
    ry, rcb, rcr = recons = g.recon
    luma_nnz, cnnz = g.nnz, g.cnnz
    mvs = _MvState(mbw, mbh)
    pweights = _resolve_p_weights(wtab) if wtab is not None else None

    sl = BitWriter()
    _p_slice_header(sl, qp, frame_num, nra, wtab, deblock_idc,
                    deblock_offs)
    skip_run = 0

    for my in range(mbh):
        for mx in range(mbw):
            spec = mb_specs[my * mbw + mx]
            kind = spec[0]
            if kind == "skip":
                mv = mvs.skip_mv(mx, my)
                py, pcb, pcr = _mc_mb(
                    padded, mx, my, [(0, 0, 4, 4, mv, 0)], pweights
                )
                ry[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = (
                    np.clip(py, 0, 255)
                )
                rcb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
                    pcb, 0, 255
                )
                rcr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(
                    pcr, 0, 255
                )
                mvs.fill(mx * 4, my * 4, 4, 4, mv, 0)
                luma_nnz[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 0
                for pi in (0, 1):
                    cnnz[pi][my * 2 : my * 2 + 2, mx * 2 : mx * 2 + 2] = 0
                skip_run += 1
                continue
            if kind in ("i16", "i4", "ipcm"):
                sl.ue(skip_run)
                skip_run = 0
                _encode_intra_mb(sl, g, target, spec, mx, my, qp, 5)
                mvs.mark_intra(mx, my)
                continue
            if kind == "8x8":
                subs = spec[1]
                if len(subs) != 4:
                    raise ValueError("P_8x8 needs four sub-MB specs")
                submodes, subrefs, submvs = [], [], []
                for entry in subs:
                    if len(entry) == 2:
                        sm, mvl = entry
                        rf = 0
                    else:
                        sm, mvl, rf = entry
                    if sm not in _SUBPARTS:
                        raise ValueError(f"bad sub_mb_type {sm!r}")
                    if len(mvl) != len(_SUBPARTS[sm]):
                        raise ValueError("one MV per sub-partition")
                    if not 0 <= rf < nra:
                        raise ValueError(f"ref_idx {rf} out of range")
                    submodes.append(sm)
                    subrefs.append(rf)
                    submvs.append([np.asarray(m, np.int64) for m in mvl])
                sl.ue(skip_run)
                skip_run = 0
                sl.ue(3)  # P_8x8
                for sm in submodes:
                    sl.ue(_SUB_TYPE[sm])
                if nra >= 2:
                    for rf in subrefs:
                        _write_te_ref(sl, rf, nra)  # ref_idx_l0
                placed = []
                for k in range(4):
                    ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
                    for (sx4, sy4, w4, h4), mv in zip(
                        _SUBPARTS[submodes[k]], submvs[k]
                    ):
                        gx, gy = mx * 4 + ox8 + sx4, my * 4 + oy8 + sy4
                        pred_mv = mvs.predict(gx, gy, w4, subrefs[k])
                        sl.se(int(mv[0] - pred_mv[0]))
                        sl.se(int(mv[1] - pred_mv[1]))
                        mvs.fill(gx, gy, w4, h4, mv, subrefs[k])
                        placed.append(
                            (ox8 + sx4, oy8 + sy4, w4, h4, mv, subrefs[k])
                        )
                py, pcb, pcr = _mc_mb(padded, mx, my, placed, pweights)
                cbp, zl, cdcz, cacz = _residual_from_target(
                    target, mx, my, py, pcb, pcr, qp, qpc
                )
                _write_residuals(sl, g, mx, my, cbp, zl, cdcz, cacz,
                                 _CBP_INTER_INV)
                _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp,
                                zl, cdcz, cacz, qp, qpc)
                continue
            mode = kind
            if mode not in _PARTS:
                raise NotImplementedError(
                    f"P macroblock mode {mode!r} — B slices and "
                    "I_4x4/I_PCM inside P slices stay gated"
                )
            entries = spec[1]
            if len(entries) != len(_PARTS[mode]):
                raise ValueError("one MV per partition required")
            parts = [_mv_ref(e) for e in entries]
            for _, rf in parts:
                if not 0 <= rf < nra:
                    raise ValueError(f"ref_idx {rf} out of range")
            sl.ue(skip_run)
            skip_run = 0
            sl.ue(_MB_TYPE[mode])
            if nra >= 2:
                for _, rf in parts:
                    _write_te_ref(sl, rf, nra)  # ref_idx_l0
            placed = []
            for pidx, ((ox4, oy4, w4, h4), (mv, rf)) in enumerate(
                zip(_PARTS[mode], parts)
            ):
                pred_mv = mvs.pred_for_partition(
                    mode, pidx, mx * 4 + ox4, my * 4 + oy4, w4, rf
                )
                sl.se(int(mv[0] - pred_mv[0]))
                sl.se(int(mv[1] - pred_mv[1]))
                mvs.fill(mx * 4 + ox4, my * 4 + oy4, w4, h4, mv, rf)
                placed.append((ox4, oy4, w4, h4, mv, rf))
            py, pcb, pcr = _mc_mb(padded, mx, my, placed, pweights)
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
    motion = mvs.export()
    motion["nnz"] = luma_nnz.copy()
    return sl.bytes_(), recon, motion


def _encode_idr(planes, qp: int, poc_bits: int, deblock: tuple):
    """The IDR anchor of a GOP or B stream: Intra_16x16 DC through the
    shared intra slice loop under a header with the deblocking-control
    fields (and a zero pic_order_cnt_lsb of ``poc_bits`` bits, if
    any). Returns (NAL bytes, reconstruction)."""
    sl = BitWriter()
    _slice_header(sl, qp, poc_bits, deblock)
    g = _encode_i16_slice(sl, _check_planes(*planes), qp)
    sl.trailing()
    h, w = g.recon[0].shape
    return _nal(3, 5, sl.bytes_()), g.frame(0, 0, w, h)


def _decode_idr(rbsp: bytes, sps: dict, deblock_present: bool) -> tuple:
    """Decode what _encode_idr writes (``deblock_present``: the PPS
    sets deblocking_filter_control_present_flag), loop-filtered when
    its header enables the filter."""
    r = BitReader(rbsp)
    qp = _parse_slice_header(r, sps)
    idc, offs = _read_deblock_fields(r) if deblock_present else (1, (0, 0))
    mbw, mbh = sps["mbw"], sps["mbh"]
    frame = _decode_intra_slice(r, mbw, mbh, qp).frame(
        0, 0, mbw * 16, mbh * 16
    )
    if idc == 1:
        return frame
    # idc 2 == idc 0 for single-slice frames (there are no
    # slice-boundary internal edges to exclude)
    from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (
        deblock_frame,
    )

    return deblock_frame(
        *frame, qp, alpha_off=2 * offs[0], beta_off=2 * offs[1]
    )


def encode_h264_p_gop(
    frames: list,
    specs_per_p: list,
    qp: int = 0,
    num_refs: int = 1,
    weights: dict | None = None,
    deblock: bool = False,
    deblock_offsets: tuple = (0, 0),
) -> tuple[bytes, list]:
    """Encode a GOP: frames[0] becomes an Intra_16x16 IDR anchor (DC
    prediction, the shared intra macroblock layer, under an IDR header
    carrying the deblocking-control fields); every later frame becomes
    a CAVLC P frame predicting from
    up to ``num_refs`` previously DECODED frames (list0 most recent
    first, per 8.2.4.2.1; ref_idx_l0 coded te(v) when two are
    active; sliding-window DPB eviction beyond ``num_refs``).

    ``specs_per_p`` holds one raster-ordered mb_specs list per P
    frame; each entry is one of
      ("skip",)                                   — P_Skip;
      ("i16",)                                    — Intra_16x16 DC
        macroblock coded from the target frame;
      ("i4",) | ("i4", mode)                      — I_4x4, preferred
        4x4 luma mode (default DC);
      ("ipcm",)                                   — I_PCM;
      (mode, [mv | (mv, ref), ...])               — mode in
        {"16x16", "16x8", "8x16"}, one quarter-pel MV (and optional
        refIdx) per partition;
      ("8x8", [(sub_mode, [mv, ...]) |
               (sub_mode, [mv, ...], ref), ...])  — four 8x8 entries,
        sub_mode in {"8x8", "8x4", "4x8", "4x4"}, one MV per
        sub-partition, optional per-8x8 refIdx.

    Returns (annex_b_bytes, [recon planes per frame]) where every
    recon triple is the decoder-mirrored bit-exact contract."""
    if len(frames) < 2:
        raise ValueError("a GOP needs an anchor + at least one P frame")
    if len(specs_per_p) != len(frames) - 1:
        raise ValueError("one mb_specs list per P frame required")
    if not 1 <= num_refs <= 15:
        # 4-bit frame_num (log2_max_frame_num 4): keep the sliding
        # window clear of the wrap
        raise ValueError("num_refs must be in 1..15")
    h, w = frames[0][0].shape
    if h % 16 or w % 16:
        raise ValueError("inter sequences require dimensions % 16 == 0")
    mbw, mbh = w // 16, h // 16
    # deblock False -> idc 1 (off); True -> idc 0; 2 -> idc 2
    # (filtering on, slice-boundary edges excluded — identical to 0
    # for the single-slice frames this encoder writes)
    d_idc = 1 if not deblock else (2 if deblock == 2 else 0)
    idr_nal, anchor = _encode_idr(frames[0], qp, 0, (d_idc, deblock_offsets))
    wtab = (
        _norm_p_weights(weights, num_refs) if weights is not None
        else None
    )
    stream = (
        _nal(3, 7, _sps_rbsp_ref1(mbw, mbh, w, h, num_refs))
        + _nal(3, 8, _pps_rbsp_deblock(weighted_pred=wtab is not None))
        + idr_nal
    )
    if deblock:
        # in-loop: the FILTERED reconstruction is the reference
        from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (  # noqa: E501
            deblock_frame,
        )

        anchor = deblock_frame(  # all-intra info
            *anchor, qp,
            alpha_off=2 * deblock_offsets[0],
            beta_off=2 * deblock_offsets[1],
        )
    recons = [anchor]
    refs = [anchor]
    for fi, (target, specs) in enumerate(zip(frames[1:], specs_per_p), 1):
        if len(specs) != mbw * mbh:
            raise ValueError("one mb_spec per macroblock required")
        nra = min(num_refs, len(refs))
        rbsp, recon, motion = _encode_p_frame(
            target, refs[:nra], specs, qp, fi, nra, wtab,
            deblock_idc=d_idc,
            deblock_offs=deblock_offsets,
        )
        if deblock:
            from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (  # noqa: E501
                deblock_frame,
                make_block_info,
            )

            info = make_block_info(
                mbw, mbh, inter=motion["inter"], nnz=motion["nnz"],
                mv=motion["mv"], ref=motion["ref"],
            )
            recon = deblock_frame(
                *recon, qp, info,
                alpha_off=2 * deblock_offsets[0],
                beta_off=2 * deblock_offsets[1],
            )
        stream += _nal(2, 1, rbsp)
        recons.append(recon)
        refs.insert(0, recon)
        del refs[num_refs:]
    return stream, recons


def encode_h264_p_sequence(
    frame0: tuple[np.ndarray, np.ndarray, np.ndarray],
    frame1: tuple[np.ndarray, np.ndarray, np.ndarray],
    mb_specs: list,
    qp: int = 0,
) -> tuple[bytes, tuple, tuple]:
    """Encode a 2-frame sequence (IDR anchor + one single-ref CAVLC P
    frame): the original r9 entry point, now a thin wrapper over
    encode_h264_p_gop — the emitted bytes are unchanged. Returns
    (annex_b_bytes, recon0_planes, recon1_planes)."""
    stream, recons = encode_h264_p_gop(
        [frame0, frame1], [mb_specs], qp=qp, num_refs=1
    )
    return stream, recons[0], recons[1]


# ---------------------------------------------------------------------------
# Sequence decoder
# ---------------------------------------------------------------------------


def decode_h264_sequence(
    payload: bytes,
) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decode an IDR + P CAVLC sequence; returns the decoded frames
    in order. The IDR anchor's header is parsed here and its
    macroblocks decode through the shared intra macroblock layer; P
    slices decode against a sliding-window DPB of previously
    decoded frames (list0 most recent first), with P_8x8
    sub-partitions, intra (I_4x4 / Intra_16x16 / I_PCM) macroblocks
    and te(v) ref_idx_l0 handled per 7.3.5 / 8.4.1.3."""
    sps = None
    deblock_present = False
    weighted_pred = False
    frames: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    refs: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
    for nal in _split_nals(bytes(payload)):
        ntype = nal[0] & 0x1F
        rbsp = _ep_remove(nal[1:])
        if ntype == 7:
            sps = _parse_sps(rbsp)
        elif ntype == 8:
            r = BitReader(rbsp)
            r.ue()
            r.ue()
            if r.u(1):
                raise NotImplementedError(
                    "CABAC P slices — inter is CAVLC-only so far"
                )
            r.u(1)
            r.ue()
            r.ue()
            r.ue()
            weighted_pred = bool(r.u(1))
            r.u(2)
            r.se()
            r.se()
            r.se()
            deblock_present = bool(r.u(1))
        elif ntype == 5:
            if sps is None:
                raise ValueError("IDR before SPS")
            frame = _decode_idr(rbsp, sps, deblock_present)
            frames.append(frame)
            refs = [frame]  # IDR resets the DPB
        elif ntype == 1:
            if not refs:
                raise ValueError("P slice before any reference frame")
            r = BitReader(rbsp)
            qp, nra, pw, idc, offs = _parse_p_slice_header(
                r, weighted_pred
            )
            if nra > len(refs):
                raise ValueError(
                    f"{nra} active references but only {len(refs)} "
                    "decoded"
                )
            if idc != 1:
                from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (  # noqa: E501
                    deblock_frame,
                    make_block_info,
                )

                frame, motion = _decode_p_frame(
                    r, sps, qp, refs, nra, weights=pw,
                    return_motion=True,
                )
                info = make_block_info(
                    sps["mbw"], sps["mbh"], inter=motion["inter"],
                    nnz=motion["nnz"], mv=motion["mv"],
                    ref=motion["ref"],
                )
                frame = deblock_frame(
                    *frame, qp, info,
                    alpha_off=2 * offs[0], beta_off=2 * offs[1],
                )
            else:
                frame = _decode_p_frame(
                    r, sps, qp, refs, nra, weights=pw
                )
            frames.append(frame)
            if (nal[0] >> 5) & 3:  # nal_ref_idc: reference picture
                refs.insert(0, frame)
                del refs[max(1, sps.get("max_refs", 1)):]
    if not frames:
        raise ValueError("no coded frames found")
    return frames


def _decode_p_frame(
    r: BitReader, sps: dict, qp: int, refs: list, nra: int,
    return_motion: bool = False,
    weights: dict | None = None,
):
    mbw, mbh = sps["mbw"], sps["mbh"]
    padded = _pad_refs(refs[:nra])
    qpc = _chroma_qp(qp)

    g = _MbGrid(mbw, mbh)
    ry, rcb, rcr = recons = g.recon
    luma_nnz, cnnz = g.nnz, g.cnnz
    mvs = _MvState(mbw, mbh)

    def decode_skip(mx, my):
        mv = mvs.skip_mv(mx, my)
        py, pcb, pcr = _mc_mb(padded, mx, my, [(0, 0, 4, 4, mv, 0)],
                              weights)
        ry[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = np.clip(
            py, 0, 255
        )
        rcb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(pcb, 0, 255)
        rcr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = np.clip(pcr, 0, 255)
        mvs.fill(mx * 4, my * 4, 4, 4, mv, 0)
        luma_nnz[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 0
        for pi in (0, 1):
            cnnz[pi][my * 2 : my * 2 + 2, mx * 2 : mx * 2 + 2] = 0

    n_mbs = mbw * mbh
    addr = 0
    cur_qp = qp
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
        if mb_type >= 5:
            # ----- intra macroblock inside the P slice -----
            if mb_type > 30:
                raise ValueError(f"invalid mb_type {mb_type} in P slice")
            cur_qp = _decode_intra_mb(r, g, mx, my, mb_type - 5, cur_qp)
            qpc = _chroma_qp(cur_qp)
            mvs.mark_intra(mx, my)
            addr += 1
            continue
        if mb_type in (3, 4):
            # ----- P_8x8 / P_8x8ref0 sub-macroblock partitions -----
            submodes = []
            for _ in range(4):
                st = r.ue()
                if st > 3:
                    raise ValueError(f"bad sub_mb_type {st}")
                submodes.append(_SUB_TYPE_INV[st])
            subrefs = [0] * 4
            if mb_type == 3 and nra >= 2:
                subrefs = [_read_te_ref(r, nra) for _ in range(4)]
            placed = []
            for k in range(4):
                ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
                for sx4, sy4, w4, h4 in _SUBPARTS[submodes[k]]:
                    mvdx, mvdy = r.se(), r.se()
                    gx, gy = mx * 4 + ox8 + sx4, my * 4 + oy8 + sy4
                    pred_mv = mvs.predict(gx, gy, w4, subrefs[k])
                    mv = np.array(
                        [pred_mv[0] + mvdx, pred_mv[1] + mvdy], np.int64
                    )
                    mvs.fill(gx, gy, w4, h4, mv, subrefs[k])
                    placed.append(
                        (ox8 + sx4, oy8 + sy4, w4, h4, mv, subrefs[k])
                    )
        else:
            mode = _MB_TYPE_INV[mb_type]
            prefs = [0] * len(_PARTS[mode])
            if nra >= 2:
                prefs = [_read_te_ref(r, nra)
                         for _ in range(len(_PARTS[mode]))]
            placed = []
            for pidx, (ox4, oy4, w4, h4) in enumerate(_PARTS[mode]):
                mvdx, mvdy = r.se(), r.se()
                pred_mv = mvs.pred_for_partition(
                    mode, pidx, mx * 4 + ox4, my * 4 + oy4, w4,
                    prefs[pidx],
                )
                mv = np.array(
                    [pred_mv[0] + mvdx, pred_mv[1] + mvdy], np.int64
                )
                mvs.fill(mx * 4 + ox4, my * 4 + oy4, w4, h4, mv,
                         prefs[pidx])
                placed.append((ox4, oy4, w4, h4, mv, prefs[pidx]))
        py, pcb, pcr = _mc_mb(padded, mx, my, placed, weights)
        cbp, qpd, zl, cdcz, cacz = _read_residuals(
            r, g, mx, my, _CBP_INTER
        )
        if cbp:
            cur_qp = (cur_qp + qpd + 52) % 52
            qpc = _chroma_qp(cur_qp)
        _recon_inter_mb(recons, mx, my, py, pcb, pcr, cbp,
                        zl, cdcz, cacz, cur_qp, qpc)
        addr += 1
    planes = (
        ry.astype(np.uint8),
        rcb.astype(np.uint8),
        rcr.astype(np.uint8),
    )
    if return_motion:
        export = mvs.export()
        export["nnz"] = luma_nnz.copy()
        return planes, export
    return planes


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------


def synthesize_h264_inter_frames(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document 2-frame 32x32 sequence: an Intra_16x16 IDR anchor
    with per-4x4-constant luma y0 = 16 + (id*13 + gy*41 + gx*59) %
    224 (range-limited so motion-compensated targets never clip) and
    one P frame built by REAL full-pel motion per macroblock —
    mv_px = (4*((id + mx + 2*my) % 3 - 1), 4*((id*2 + 3*mx + my) % 3
    - 1)), partition mode cycling 16x16/16x8/8x16 — plus a
    per-4x4-constant residual delta = (id + ty*7 + tx*11) % 9 - 4.
    At QP 0 the whole chain is exact (anchor exact, full-pel MC is a
    clamped shift of the exact anchor, constant-residual blocks
    quantize exactly), so the oracle recomputes EVERY decoded pixel
    of BOTH frames from id formulas — INCLUDING chroma (r10 fixture
    sweep): the anchor carries per-4x4-constant chroma, the P frame
    predicts it through the same full-pel motion (chroma shift =
    half the luma displacement) and adds a per-4x4-constant chroma
    residual, so the chroma requant/MC scale is pinned by the oracle
    rather than held at 128. Sub-pel chroma is covered by the
    random-plane bit-exact round-trips in tests."""
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
                cb0 = (16 + (i * 23 + cgy * 31 + cgx * 41) % 200).repeat(
                    4, 0
                ).repeat(4, 1)
                cr0 = (16 + (i * 29 + cgy * 37 + cgx * 43) % 200).repeat(
                    4, 0
                ).repeat(4, 1)
                # frame1 = clamped full-pel shift of y0 + 4x4 delta
                py, px = np.mgrid[0:32, 0:32]
                mxg, myg = px // 16, py // 16
                dxp = 4 * ((i + mxg + 2 * myg) % 3 - 1)
                dyp = 4 * ((i * 2 + 3 * mxg + myg) % 3 - 1)
                sy = np.clip(py + dyp, 0, 31)
                sx = np.clip(px + dxp, 0, 31)
                delta = (i + (py // 4) * 7 + (px // 4) * 11) % 9 - 4
                y1 = y0[sy, sx] + delta
                assert y1.min() >= 0 and y1.max() <= 255
                # chroma: same motion at half displacement + delta
                cy_, cx_ = np.mgrid[0:16, 0:16]
                cmx, cmy = cx_ // 8, cy_ // 8
                cdx = 2 * ((i + cmx + 2 * cmy) % 3 - 1)
                cdy = 2 * ((i * 2 + 3 * cmx + cmy) % 3 - 1)
                scy = np.clip(cy_ + cdy, 0, 15)
                scx = np.clip(cx_ + cdx, 0, 15)
                dcb = (i + (cy_ // 4) * 5 + (cx_ // 4) * 7) % 9 - 4
                dcr = (i * 3 + (cy_ // 4) * 3 + (cx_ // 4) * 5) % 9 - 4
                cb1 = cb0[scy, scx] + dcb
                cr1 = cr0[scy, scx] + dcr
                assert cb1.min() >= 0 and cb1.max() <= 255
                assert cr1.min() >= 0 and cr1.max() <= 255
                modes = ("16x16", "16x8", "8x16")
                specs = []
                for my_ in range(2):
                    for mx_ in range(2):
                        mode = modes[(i + mx_ + my_) % 3]
                        # full-pel shift in px * 4 = quarter-pel units
                        mv_q = (
                            16 * ((i + mx_ + 2 * my_) % 3 - 1),
                            16 * ((i * 2 + 3 * mx_ + my_) % 3 - 1),
                        )
                        nparts = 1 if mode == "16x16" else 2
                        specs.append((mode, [mv_q] * nparts))
                stream, rec0, rec1 = encode_h264_p_sequence(
                    (y0.astype(np.uint8), cb0.astype(np.uint8),
                     cr0.astype(np.uint8)),
                    (y1.astype(np.uint8), cb1.astype(np.uint8),
                     cr1.astype(np.uint8)),
                    specs,
                    qp=0,
                )
                if not (
                    np.array_equal(rec0[0], y0)
                    and np.array_equal(rec1[0], y1)
                    and np.array_equal(rec1[1], cb1)
                    and np.array_equal(rec1[2], cr1)
                ):
                    raise AssertionError(
                        f"doc {i}: QP-0 inter fixture not exact"
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


def h264_inter_frame_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode IDR+P sequences and emit per-frame plane sums the
    oracle recomputes from the fixture formulas."""
    out_schema = (
        f"{id_col} long, n_frames int, width int, height int,"
        " sum_y_idr long, sum_y_p long, sum_cb_p long, sum_cr_p long"
    )

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, content in zip(pdf[id_col], pdf[content_col]):
                frames = decode_h264_sequence(bytes(content))
                y_i, _, _ = frames[0]
                y_p, cb_p, cr_p = frames[-1]
                rows.append(
                    (
                        int(i),
                        len(frames),
                        int(y_p.shape[1]),
                        int(y_p.shape[0]),
                        int(y_i.sum()),
                        int(y_p.sum()),
                        int(cb_p.sum()),
                        int(cr_p.sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_frames", "width", "height",
                         "sum_y_idr", "sum_y_p", "sum_cb_p", "sum_cr_p"],
            )

    return media.mapInPandas(feat, out_schema)

def synthesize_h264_gop_frames(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document 3-frame 32x32 multi-ref GOP exercising the r9
    P-slice extension end to end: an Intra_16x16 IDR anchor (same
    formula as the m35 fixture), a P1 frame of P_L0_16x16 MBs (full-
    pel motion + per-4x4 residual), and a P2 frame at num_refs=2
    whose four MBs are, in raster order:

      (0,0) Intra_16x16-in-P (DC prediction = 128 at the frame
            corner; per-4x4-constant content, QP-0 exact);
      (1,0) P_L0_16x16 at ref_idx 1 — predicts from the ANCHOR, not
            P1 (te(v)-coded reference selection);
      (0,1) P_8x8 with sub_mb_type cycling 8x8/8x4/4x8/4x4 by
            (id + k) % 4 and one full-pel MV per 8x8 (each
            sub-partition carries its own mvd against the z-scan
            median predictor);
      (1,1) P_L0_16x16 at ref_idx 0 with zero MV (pure residual).

    At QP 0 every stage is exact, so the oracle recomputes EVERY
    decoded pixel of all three frames from id formulas — including
    the composed two-hop motion (P2 pixels that sample P1 pixels
    that sample anchor pixels) AND the chroma planes (r10 fixture
    sweep): per-4x4-constant chroma rides the same motion at half
    displacement with its own per-4x4 residuals through all four P2
    macroblock classes (intra-in-P chroma DC, ref_idx-1 anchor hop,
    per-sub-block P_8x8 shifts, zero-MV residual), so the chroma
    requant/MC scale is oracle-pinned instead of held at 128."""
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
                # --- P1: same motion/residual family as m35 ---
                dx1 = 4 * ((i + mxg + 2 * myg) % 3 - 1)
                dy1 = 4 * ((i * 2 + 3 * mxg + myg) % 3 - 1)
                d1 = (i + (py // 4) * 7 + (px // 4) * 11) % 9 - 4
                y1 = y0[np.clip(py + dy1, 0, 31),
                        np.clip(px + dx1, 0, 31)] + d1
                # P1 chroma: same motion at half displacement + delta
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
                specs1 = []
                for my_ in range(2):
                    for mx_ in range(2):
                        specs1.append(
                            ("16x16",
                             [(16 * ((i + mx_ + 2 * my_) % 3 - 1),
                               16 * ((i * 2 + 3 * mx_ + my_) % 3 - 1))])
                        )
                # --- P2: intra / ref1 / P_8x8 / zero-MV regions ---
                y2 = np.zeros((32, 32), np.int64)
                # (0,0) intra
                y2[0:16, 0:16] = (
                    16 + (i * 17 + (py[0:16, 0:16] // 4) * 43
                          + (px[0:16, 0:16] // 4) * 61) % 224
                )
                # (1,0) ref_idx 1 -> anchor
                dxa = 4 * (i % 3 - 1)
                dya = 4 * (i // 3 % 3 - 1)
                reg = np.s_[0:16, 16:32]
                d2a = (i * 3 + (py[reg] // 4) * 5
                       + (px[reg] // 4) * 13) % 9 - 4
                y2[reg] = y0[np.clip(py[reg] + dya, 0, 31),
                             np.clip(px[reg] + dxa, 0, 31)] + d2a
                # (0,1) P_8x8 from P1, per-8x8 motion
                reg = np.s_[16:32, 0:16]
                k8 = (px[reg] % 16) // 8 + 2 * ((py[reg] % 16) // 8)
                dxk = 4 * ((i + k8) % 3 - 1)
                dyk = 4 * ((i * 2 + k8) % 3 - 1)
                d2b = (i + (py[reg] // 4) * 3
                       + (px[reg] // 4) * 7) % 9 - 4
                y2[reg] = y1[np.clip(py[reg] + dyk, 0, 31),
                             np.clip(px[reg] + dxk, 0, 31)] + d2b
                # (1,1) zero-MV residual from P1
                reg = np.s_[16:32, 16:32]
                d2c = (i * 5 + (py[reg] // 4) * 11
                       + (px[reg] // 4) * 3) % 9 - 4
                y2[reg] = y1[reg] + d2c
                assert y2.min() >= 0 and y2.max() <= 255
                # --- P2 chroma, same four regions at chroma scale ---
                cb2 = np.zeros((16, 16), np.int64)
                cr2 = np.zeros((16, 16), np.int64)
                # (0,0) intra-in-P chroma
                r = np.s_[0:8, 0:8]
                cb2[r] = 16 + (i * 31 + (cy_[r] // 4) * 29
                               + (cx_[r] // 4) * 47) % 200
                cr2[r] = 16 + (i * 37 + (cy_[r] // 4) * 23
                               + (cx_[r] // 4) * 41) % 200
                # (1,0) ref_idx 1 -> anchor chroma
                r = np.s_[0:8, 8:16]
                cdxa, cdya = 2 * (i % 3 - 1), 2 * (i // 3 % 3 - 1)
                dcb2a = (i * 3 + (cy_[r] // 4) * 5
                         + (cx_[r] // 4) * 13) % 9 - 4
                dcr2a = (i * 7 + (cy_[r] // 4) * 7
                         + (cx_[r] // 4) * 11) % 9 - 4
                sy_ = np.clip(cy_[r] + cdya, 0, 15)
                sx_ = np.clip(cx_[r] + cdxa, 0, 15)
                cb2[r] = cb0[sy_, sx_] + dcb2a
                cr2[r] = cr0[sy_, sx_] + dcr2a
                # (0,1) P_8x8 from P1, per-sub-block chroma motion
                r = np.s_[8:16, 0:8]
                ck8 = (cx_[r] % 8) // 4 + 2 * ((cy_[r] % 8) // 4)
                cdxk = 2 * ((i + ck8) % 3 - 1)
                cdyk = 2 * ((i * 2 + ck8) % 3 - 1)
                dcb2b = (i + (cy_[r] // 4) * 3
                         + (cx_[r] // 4) * 7) % 9 - 4
                dcr2b = (i * 5 + (cy_[r] // 4) * 9
                         + (cx_[r] // 4) * 3) % 9 - 4
                sy_ = np.clip(cy_[r] + cdyk, 0, 15)
                sx_ = np.clip(cx_[r] + cdxk, 0, 15)
                cb2[r] = cb1[sy_, sx_] + dcb2b
                cr2[r] = cr1[sy_, sx_] + dcr2b
                # (1,1) zero-MV chroma residual from P1
                r = np.s_[8:16, 8:16]
                dcb2c = (i * 5 + (cy_[r] // 4) * 11
                         + (cx_[r] // 4) * 3) % 9 - 4
                dcr2c = (i * 9 + (cy_[r] // 4) * 13
                         + (cx_[r] // 4) * 5) % 9 - 4
                cb2[r] = cb1[r] + dcb2c
                cr2[r] = cr1[r] + dcr2c
                for pl in (cb1, cr1, cb2, cr2):
                    assert pl.min() >= 0 and pl.max() <= 255
                submodes = ("8x8", "8x4", "4x8", "4x4")
                nsub = {"8x8": 1, "8x4": 2, "4x8": 2, "4x4": 4}
                subs = []
                for k in range(4):
                    sm = submodes[(i + k) % 4]
                    mvk = (16 * ((i + k) % 3 - 1),
                           16 * ((i * 2 + k) % 3 - 1))
                    subs.append((sm, [mvk] * nsub[sm], 0))
                specs2 = [
                    ("i16",),
                    ("16x16", [((16 * (i % 3 - 1),
                                 16 * (i // 3 % 3 - 1)), 1)]),
                    ("8x8", subs),
                    ("16x16", [((0, 0), 0)]),
                ]
                stream, recons = encode_h264_p_gop(
                    [
                        (y0.astype(np.uint8), cb0.astype(np.uint8),
                         cr0.astype(np.uint8)),
                        (y1.astype(np.uint8), cb1.astype(np.uint8),
                         cr1.astype(np.uint8)),
                        (y2.astype(np.uint8), cb2.astype(np.uint8),
                         cr2.astype(np.uint8)),
                    ],
                    [specs1, specs2],
                    qp=0,
                    num_refs=2,
                )
                if not (
                    np.array_equal(recons[0][0], y0)
                    and np.array_equal(recons[1][0], y1)
                    and np.array_equal(recons[2][0], y2)
                    and np.array_equal(recons[2][1], cb2)
                    and np.array_equal(recons[2][2], cr2)
                    and np.array_equal(recons[1][1], cb1)
                    and np.array_equal(recons[1][2], cr1)
                ):
                    raise AssertionError(
                        f"doc {i}: QP-0 GOP fixture not exact"
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


def h264_gop_frame_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode 3-frame multi-ref GOPs and emit per-frame plane sums
    the oracle recomputes from the fixture formulas."""
    out_schema = (
        f"{id_col} long, n_frames int, width int, height int,"
        " sum_y_idr long, sum_y_p1 long, sum_y_p2 long,"
        " sum_cb_p2 long, sum_cr_p2 long"
    )

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, content in zip(pdf[id_col], pdf[content_col]):
                frames = decode_h264_sequence(bytes(content))
                y_i = frames[0][0]
                y_p1 = frames[1][0]
                y_p2, cb_p2, cr_p2 = frames[2]
                rows.append(
                    (
                        int(i),
                        len(frames),
                        int(y_p2.shape[1]),
                        int(y_p2.shape[0]),
                        int(y_i.sum()),
                        int(y_p1.sum()),
                        int(y_p2.sum()),
                        int(cb_p2.sum()),
                        int(cr_p2.sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_frames", "width", "height",
                         "sum_y_idr", "sum_y_p1", "sum_y_p2",
                         "sum_cb_p2", "sum_cr_p2"],
            )

    return media.mapInPandas(feat, out_schema)


# ---------------------------------------------------------------------------
# Spark surface (m44): LONG-GOP multi-reference decode, oracle-exact
# ---------------------------------------------------------------------------
#
# r11: num_refs > 2 (ref_idx_l0 as true te(v): ue(v) coding when more
# than two references are active). Fixture design: five frames, all
# P macroblocks are ZERO-MV with per-4x4-constant residuals, so each
# frame's pixels are the REFERENCED frame's pixels plus a formula
# delta — no motion composition, which keeps the oracle a chain of
# four CASE expressions over which reference each macroblock picked.
# A mis-decoded ref_idx (the new ue(v) path) lands on the wrong base
# frame and shifts every downstream sum.


def _m44_ref(d: int, k: int, m: int) -> int:
    """refIdx of macroblock m in P frame k (1-based): cycles through
    ALL active references (min(k, 3))."""
    return (d + k + m) % min(k, 3)


def _m44_delta(d: int, k: int, m: int, by: int, bx: int) -> int:
    """Per-4x4 residual of macroblock m in frame k."""
    return (d * (2 * k + 1) + by * (5 + k) + bx * (7 + 2 * k)
            + m * 3) % 9 - 4


def synthesize_h264_longgop_frames(docs, id_col: str = "doc_id"):
    """Per-document 5-frame 32x32 QP-0 GOP at num_refs=3: an
    Intra_16x16 IDR (the m35 value formula), then four P frames of
    zero-MV P_L0_16x16 macroblocks whose refIdx cycles through every
    active reference (te(v)-as-ue(v) when three are active) with
    per-4x4 formula residuals. Base values sit in 16..239 and the
    four deltas are +-4 each, so no clipping fires anywhere and
    every decoded pixel is closed-form."""
    from collections.abc import Iterator as _It

    import pandas as pd

    out_schema = f"{id_col} long, content binary"

    def build(batches) -> "_It[pd.DataFrame]":
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                i = int(i)
                gy, gx = np.mgrid[0:8, 0:8]
                y0 = (16 + (i * 13 + gy * 41 + gx * 59) % 224
                      ).repeat(4, 0).repeat(4, 1)
                cgy, cgx = np.mgrid[0:4, 0:4]
                cb0 = (16 + (i * 23 + cgy * 31 + cgx * 41) % 200
                       ).repeat(4, 0).repeat(4, 1)
                cr0 = (16 + (i * 29 + cgy * 37 + cgx * 43) % 200
                       ).repeat(4, 0).repeat(4, 1)
                ys = [y0]
                cbs = [cb0]
                crs = [cr0]
                specs_per_p = []
                by, bx = np.mgrid[0:8, 0:8]
                cby, cbx = np.mgrid[0:4, 0:4]
                for k in range(1, 5):
                    yk = np.zeros((32, 32), np.int64)
                    cbk = np.zeros((16, 16), np.int64)
                    crk = np.zeros((16, 16), np.int64)
                    specs = []
                    for m in range(4):
                        mx_, my_ = m % 2, m // 2
                        rf = _m44_ref(i, k, m)
                        base = len(ys) - 1 - rf
                        sly = np.s_[my_ * 16 : my_ * 16 + 16,
                                    mx_ * 16 : mx_ * 16 + 16]
                        slc = np.s_[my_ * 8 : my_ * 8 + 8,
                                    mx_ * 8 : mx_ * 8 + 8]
                        dl = (_m44_delta(i, k, m, by, bx)
                              .repeat(4, 0).repeat(4, 1))[sly]
                        dcb = (_m44_delta(i * 3 + 1, k, m, cby, cbx)
                               .repeat(4, 0).repeat(4, 1))[slc]
                        dcr = (_m44_delta(i * 5 + 2, k, m, cby, cbx)
                               .repeat(4, 0).repeat(4, 1))[slc]
                        yk[sly] = ys[base][sly] + dl
                        cbk[slc] = cbs[base][slc] + dcb
                        crk[slc] = crs[base][slc] + dcr
                        specs.append(("16x16", [((0, 0), rf)]))
                    ys.append(yk)
                    cbs.append(cbk)
                    crs.append(crk)
                    specs_per_p.append(specs)
                frames = [
                    (y.astype(np.uint8), cb.astype(np.uint8),
                     cr.astype(np.uint8))
                    for y, cb, cr in zip(ys, cbs, crs)
                ]
                stream, recons = encode_h264_p_gop(
                    frames, specs_per_p, qp=0, num_refs=3
                )
                for fa, fb in zip(recons, frames):
                    for a, b in zip(fa, fb):
                        if not np.array_equal(a, b):
                            raise AssertionError(
                                f"doc {i}: QP-0 long-GOP not exact")
                ids.append(i)
                blobs.append(stream)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "content": pd.Series(blobs, dtype=object),
                }
            )

    return docs.select(id_col).mapInPandas(build, out_schema)


def h264_longgop_features(
    media,
    id_col: str = "doc_id",
    content_col: str = "content",
):
    """Decode the 5-frame multi-ref sequences and emit per-frame
    luma sums plus the final frame's chroma sums."""
    from collections.abc import Iterator as _It

    import pandas as pd

    out_schema = (
        f"{id_col} long, n_frames int,"
        " sum_y_f1 long, sum_y_f2 long, sum_y_f3 long, sum_y_f4 long,"
        " sum_cb_f4 long, sum_cr_f4 long"
    )

    def feat(batches) -> "_It[pd.DataFrame]":
        for pdf in batches:
            rows = []
            for i, content in zip(pdf[id_col], pdf[content_col]):
                frames = decode_h264_sequence(bytes(content))
                rows.append(
                    (int(i), len(frames),
                     int(frames[1][0].sum()), int(frames[2][0].sum()),
                     int(frames[3][0].sum()), int(frames[4][0].sum()),
                     int(frames[4][1].sum()), int(frames[4][2].sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_frames", "sum_y_f1", "sum_y_f2",
                         "sum_y_f3", "sum_y_f4", "sum_cb_f4",
                         "sum_cr_f4"],
            )

    return media.mapInPandas(feat, out_schema)
