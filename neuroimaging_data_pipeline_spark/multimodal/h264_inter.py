"""H.264 CAVLC inter slices — P and B slices through ONE inter layer,
the engine-side equivalent of the inter frames that dominate any real
H.264 corpus (preprocess_parallel.sh shells out for video). A P slice
is the list-0-only case of the B coder: te(v) ref_idx_l0, P_Skip and
no direct modes.

- fractional-sample LUMA interpolation (8.4.2.2.1/2): the 6-tap
  (1,-5,20,20,-5,1) half-sample filter — including the center 'j'
  position built from intermediate (un-rounded) half values — and
  quarter-sample averaging, all positions, edge-clamped unrestricted
  motion vectors; CHROMA eighth-sample bilinear interpolation
  (8.4.2.2.2);
- motion-vector PREDICTION (8.4.1.3), one _MvState per reference
  list: component-wise median over the A/B/C neighbor partitions with
  the C->D substitution and the only-A fallback, the refIdx-aware
  16x8/8x16 directional shortcuts, and the P_Skip zero-MV
  conditions. A partition that does not use a list is 'decoded but
  predFlagLX = 0' in that list's field, exactly like an intra
  neighbor;
- one macroblock layer for both slice kinds (7.3.5): mb_skip_run,
  the 16x16 / 16x8 / 8x16 partitions and the P_8x8 / B_8x8
  sub-macroblocks with their 8x8/8x4/4x8/4x4 splits, the motion
  syntax in its spec order (ref_idx_l0 of every partition, then
  ref_idx_l1, then mvd_l0, then mvd_l1) coded by ONE routine that the
  encoder drives with a writer and the decoder with a reader, the
  INTER coded_block_pattern me(v) mapping (Table 9-4) and the shared
  luma/chroma residual path. The slice kind selects the mb_type and
  sub_mb_type tables (Tables 7-13/7-14, 7-17/7-18), the list set,
  the skip rule and the ref_idx coding;
- B DIRECT modes: B_Skip, B_Direct_16x16 and B_Direct_8x8, SPATIAL
  per 8.4.1.2.2 (MinPositive reference per list, the median
  predictor, directZeroPrediction, the colocated colZeroFlag test on
  the corner 4x4 of each 8x8 under direct_8x8_inference) and TEMPORAL
  per 8.4.1.2.3 (POC-distance scaling of the colocated motion);
- one partition predictor: each (sub-)partition is interpolated from
  its list-0 and/or list-1 reference and combined by one copy of the
  8.4.2.3 weighted sample prediction — explicit P weights per
  reference (weighted_pred_flag), explicit B weights per list
  (weighted_bipred_idc 1), implicit POC-derived bi weights (idc 2)
  and the default rounded bi average;
- INTRA macroblocks inside P and B slices (I_4x4, Intra_16x16,
  I_PCM) coded by h264_intra's intra macroblock layer, the code the I
  slices run;
- MULTIPLE REFERENCE FRAMES for P slices (num_refs up to 15: list 0
  most recently decoded first per 8.2.4.2.1, ref_idx_l0 as true te(v),
  sliding-window DPB eviction); B slices take the nearest past and
  the nearest future reference by POC, one per list;
- one slice header writer and parser for both kinds (7.3.3), with
  pic_order_cnt_lsb present on POC type 0 streams, the
  pred_weight_table (7.3.3.2, values bounded per 7.4.3.2) and the
  deblocking fields; one decoder loop (NAL walk, IDR, DPB of
  (poc, frame, motion) in decode order) behind decode_h264_sequence
  and h264_bslice.decode_h264_b_stream; IN-LOOP DEBLOCKING through
  the clause-8.7 filter (h264_deblock.py) on both sides, filtered
  frames being the references.

The P GOP encoder lives here and the B sequence encoder in
h264_bslice.py; both write the same SPS/PPS builders (h264.py) and
the same IDR anchor. The encoder<->decoder round trip is bit-exact by
construction, and tests/test_h264_stream_pins.py pins the emitted
bytes. CABAC P GOPs (h264_cabac_inter.py) run on the same GOP encoder,
inter slice encoder and decoder, stream loop and _InterSlice, with
the macroblock syntax coded by h264_cabac's macroblock layer when the
PPS selects CABAC.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.bitio import BitReader, BitWriter
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _cabac_align,
    _check_planes,
    _ep_remove,
    _nal,
    _parse_pps,
    _parse_slice_header,
    _parse_sps,
    _pps_rbsp,
    _read_deblock_fields,
    _slice_header,
    _split_nals,
    _sps_rbsp,
    _write_deblock_fields,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
    _Ctx,
    _decode_cabac_mbs,
    _encode_cabac_idr,
    _encode_cabac_mbs,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (
    deblock_frame,
    make_block_info,
    make_block_info_b,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    _MbGrid,
    _chroma_qp,
    _decode_intra_mb,
    _decode_intra_slice,
    _encode_i16_slice,
    _encode_intra_mb,
    _read_residuals,
    _recon_inter_mb,
    _residual_from_target,
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

    def mark_off(self, gx: int, gy: int, pw4: int, ph4: int) -> None:
        """Mark a partition decoded but NOT predicted from this
        list (intra, or predFlagLX == 0 in B slices): available as a
        neighbor, contributing mv (0, 0) / refIdx -1."""
        self.decoded[gy : gy + ph4, gx : gx + pw4] = True
        self.inter[gy : gy + ph4, gx : gx + pw4] = False
        self.ref[gy : gy + ph4, gx : gx + pw4] = -1

    def mark_intra(self, mx: int, my: int) -> None:
        self.mark_off(mx * 4, my * 4, 4, 4)

# ---------------------------------------------------------------------------
# Slice kinds: P is the list-0-only case of the B macroblock layer
# ---------------------------------------------------------------------------

# partition geometry per mode: list of (off_x4, off_y4, w4, h4)
_PARTS = {
    "16x16": [(0, 0, 4, 4)],
    "16x8": [(0, 0, 4, 2), (0, 2, 4, 2)],
    "8x16": [(0, 0, 2, 4), (2, 0, 2, 4)],
}

# sub-macroblock partition geometry (offsets in 4x4 units within the
# 8x8 sub-macroblock, z-scan order per Table 7-17 / figure 6-14)
_SUBPARTS = {
    "8x8": [(0, 0, 2, 2)],
    "8x4": [(0, 0, 2, 1), (0, 1, 2, 1)],
    "4x8": [(0, 0, 1, 2), (1, 0, 1, 2)],
    "4x4": [(0, 0, 1, 1), (1, 0, 1, 1), (0, 1, 1, 1), (1, 1, 1, 1)],
}

# mb_type -> (partition mode, list use per partition): Table 7-13 (P)
# and Table 7-14 (B). B mb_type 0 is B_Direct_16x16; P_8x8 (3, and
# 4 = P_8x8ref0) and B_8x8 (22) carry sub_mb_types instead.
_P_USES = {
    0: ("16x16", ("l0",)),
    1: ("16x8", ("l0", "l0")),
    2: ("8x16", ("l0", "l0")),
}
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
# sub_mb_type -> (list use, sub-partition): Table 7-17 (P), Table 7-18
# (B; 0 is B_Direct_8x8)
_P_SUB_USES = {0: ("l0", "8x8"), 1: ("l0", "8x4"), 2: ("l0", "4x8"),
               3: ("l0", "4x4")}
_B_SUB_USES = {
    0: ("direct", "8x8"),
    1: ("l0", "8x8"), 2: ("l1", "8x8"), 3: ("bi", "8x8"),
    4: ("l0", "8x4"), 5: ("l0", "4x8"), 6: ("l1", "8x4"),
    7: ("l1", "4x8"), 8: ("bi", "8x4"), 9: ("bi", "4x8"),
    10: ("l0", "4x4"), 11: ("l1", "4x4"), 12: ("bi", "4x4"),
}
_LISTS = {"l0": (0,), "l1": (1,), "bi": (0, 1)}


class _Kind:
    """What tells a P slice from a B slice in the inter layer: its
    slice_type, the mb_type and sub_mb_type tables both ways, the
    P_8x8 / B_8x8 mb_type, the I_4x4 mb_type the intra types start at,
    and the number of reference lists."""

    def __init__(self, name, stype, uses, sub_uses, mb8x8, intra):
        self.name, self.stype = name, stype
        self.uses, self.sub_uses = uses, sub_uses
        self.types = {v: k for k, v in uses.items()}
        self.sub_types = {v: k for k, v in sub_uses.items()}
        self.mb8x8, self.intra = mb8x8, intra
        self.nlists = 1 if name == "P" else 2


_P = _Kind("P", 5, _P_USES, _P_SUB_USES, 3, 5)
_B = _Kind("B", 6, _B_USES, _B_SUB_USES, 22, 23)


# ---------------------------------------------------------------------------
# Weighted sample prediction (7.3.3.2, 7.4.3.2, 8.4.2.3)
# ---------------------------------------------------------------------------


def _in_range(v: int, lo: int, hi: int, what: str) -> int:
    if not lo <= v <= hi:
        raise ValueError(f"{what} {v} outside {lo}..{hi} (7.4.3.2)")
    return v


def _norm_weights(weights: dict, lists: list) -> dict:
    """The one pred_weight_table form, for user weights and parsed
    ones alike: {"ld": log2 denominator per plane, "lists": per list
    and reference (luma_weight_flag, chroma_weight_flag, (wy, wcb,
    wcr), (oy, ocb, ocr)), "uni": True}. ``weights`` holds luma_denom
    / chroma_denom; ``lists`` one dict per list and reference with
    wy/oy, wc/oc, wcr/ocr, where a missing weight means flag 0 (the
    default 1 << denom, offset 0) and a wcr-only entry predicts Cb with
    wcr too. Values outside 7.4.3.2 raise ValueError."""
    ldy = _in_range(int(weights.get("luma_denom", 0)), 0, 7,
                    "luma_log2_weight_denom")
    ldc = _in_range(int(weights.get("chroma_denom", 0)), 0, 7,
                    "chroma_log2_weight_denom")
    out = []
    for entries in lists:
        row = []
        for e in entries:
            w, o = [1 << ldy, 1 << ldc, 1 << ldc], [0, 0, 0]
            fy = e.get("wy") is not None
            fc = e.get("wc") is not None or e.get("wcr") is not None
            if fy:
                w[0], o[0] = e["wy"], e.get("oy", 0)
            if fc:
                w[1] = e["wc"] if e.get("wc") is not None else e["wcr"]
                w[2] = e["wcr"] if e.get("wcr") is not None else w[1]
                o[1] = e.get("oc", 0)
                o[2] = e["ocr"] if e.get("ocr") is not None else o[1]
            coded = (w[:1] + o[:1] if fy else []) + (w[1:] + o[1:] if fc
                                                     else [])
            for v in coded:
                _in_range(v, -128, 127, "prediction weight or offset")
            row.append((int(fy), int(fc), tuple(w), tuple(o)))
        out.append(row)
    return {"ld": (ldy, ldc, ldc), "lists": out, "uni": True}


def _write_pwt(sl: BitWriter, wt: dict, nra: tuple) -> None:
    """7.3.3.2 pred_weight_table: the first nra[X] entries of list X."""
    sl.ue(wt["ld"][0])
    sl.ue(wt["ld"][1])
    for entries, n in zip(wt["lists"], nra):
        for fy, fc, w, o in entries[:n]:
            sl.u(fy, 1)
            if fy:
                sl.se(w[0])
                sl.se(o[0])
            sl.u(fc, 1)
            if fc:
                for v in (w[1], o[1], w[2], o[2]):
                    sl.se(v)


def _parse_pwt(r: BitReader, nra: tuple) -> dict:
    """Parse what _write_pwt writes into the _norm_weights form."""
    den = {"luma_denom": r.ue(), "chroma_denom": r.ue()}
    lists = []
    for n in nra:
        entries = []
        for _ in range(n):
            e = {}
            if r.u(1):
                e["wy"], e["oy"] = r.se(), r.se()
            if r.u(1):
                e["wc"], e["oc"] = r.se(), r.se()
                e["wcr"], e["ocr"] = r.se(), r.se()
            entries.append(e)
        lists.append(entries)
    return _norm_weights(den, lists)


def _bi_table(ld: int, w0: int, w1: int) -> dict:
    """A weight table for bi-predicted partitions only (uni-predicted
    ones stay unweighted): w0 / w1 at log2 denominator ld, offset 0."""
    return {"ld": (ld,) * 3, "uni": False,
            "lists": [[(1, 1, (w,) * 3, (0, 0, 0))] for w in (w0, w1)]}


_DEFAULT_BI = _bi_table(0, 1, 1)  # the rounded average (p0 + p1 + 1) >> 1


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
    return {"w0": w0, "w1": w1}


def _weigh(wt: dict, a, ea, b=None, eb=None) -> list:
    """8.4.2.3.2 weighted sample prediction per plane: uni-prediction
    of ``a`` with table entry ``ea``, or bi-prediction of ``a`` and
    ``b`` with entries ``ea`` and ``eb``."""
    out = []
    for pi, ld in enumerate(wt["ld"]):
        if b is None:
            v = ((a[pi] * ea[2][pi] + ((1 << ld) >> 1)) >> ld) + ea[3][pi]
        else:
            v = (((a[pi] * ea[2][pi] + b[pi] * eb[2][pi] + (1 << ld))
                  >> (ld + 1)) + ((ea[3][pi] + eb[3][pi] + 1) >> 1))
        out.append(np.clip(v, 0, 255))
    return out


# ---------------------------------------------------------------------------
# Partition prediction
# ---------------------------------------------------------------------------


def _mv_ref(entry) -> tuple[np.ndarray, int]:
    """Normalize a P partition spec entry: either a bare (mvx, mvy)
    pair (refIdx 0) or ((mvx, mvy), ref_idx)."""
    if (
        isinstance(entry, (tuple, list))
        and len(entry) == 2
        and not np.isscalar(entry[0])
        and np.isscalar(entry[1])
    ):
        return np.asarray(entry[0], np.int64), int(entry[1])
    return np.asarray(entry, np.int64), 0


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


def _interp_part(ref, mx: int, my: int, ox4: int, oy4: int, w4: int,
                 h4: int, mv) -> tuple:
    """(luma, cb, cr) prediction of the (ox4, oy4, w4, h4) box of MB
    (mx, my) from edge-padded reference planes at quarter-pel ``mv``."""
    mvx, mvy = int(mv[0]), int(mv[1])
    ly, lx = my * 16 + oy4 * 4 + _PAD, mx * 16 + ox4 * 4 + _PAD
    cy, cx = my * 8 + oy4 * 2 + _PAD // 2, mx * 8 + ox4 * 2 + _PAD // 2
    return (
        interp_luma(ref[0], ly, lx, h4 * 4, w4 * 4, mvx, mvy),
        interp_chroma(ref[1], cy, cx, h4 * 2, w4 * 2, mvx, mvy),
        interp_chroma(ref[2], cy, cx, h4 * 2, w4 * 2, mvx, mvy),
    )


def _mc_mb(pads: list, mx: int, my: int, placed: list, wt=None):
    """Inter prediction of MB (mx, my) (8.4.2) from (ox4, oy4, w4, h4,
    mv0, ref0, mv1, ref1) partitions: a 4x4-unit box in the MB and,
    per list, a quarter-pel MV (None when the partition does not use
    the list) and a refIdx into ``pads[list]`` (edge-padded reference
    planes). A bi-predicted partition is combined with the weight
    table ``wt`` (None: the rounded average); a uni-predicted one is
    weighted only by an explicit table. Returns (pred_y16, pred_cb8,
    pred_cr8)."""
    pred = (np.empty((16, 16), np.int64), np.empty((8, 8), np.int64),
            np.empty((8, 8), np.int64))
    for ox4, oy4, w4, h4, mv0, ref0, mv1, ref1 in placed:
        if mv0 is None or mv1 is None:
            li, mv, ref = (0, mv0, ref0) if mv1 is None else (1, mv1, ref1)
            p = _interp_part(pads[li][ref], mx, my, ox4, oy4, w4, h4, mv)
            if wt is not None and wt["uni"]:
                p = _weigh(wt, p, wt["lists"][li][ref])
        else:
            wb = wt or _DEFAULT_BI
            p = _weigh(
                wb,
                _interp_part(pads[0][ref0], mx, my, ox4, oy4, w4, h4, mv0),
                wb["lists"][0][ref0],
                _interp_part(pads[1][ref1], mx, my, ox4, oy4, w4, h4, mv1),
                wb["lists"][1][ref1],
            )
        for plane, blk, s in zip(pred, p, (4, 2, 2)):
            plane[oy4 * s : (oy4 + h4) * s, ox4 * s : (ox4 + w4) * s] = blk
    return pred


# ---------------------------------------------------------------------------
# B direct-mode motion (8.4.1.2)
# ---------------------------------------------------------------------------


def _intra_motion(mbw: int, mbh: int) -> dict:
    """Motion field of an all-intra picture (the IDR anchor)."""
    return {
        "mv": np.zeros((mbh * 4, mbw * 4, 2), np.int64),
        "ref": np.full((mbh * 4, mbw * 4), -1, np.int64),
        "inter": np.zeros((mbh * 4, mbw * 4), bool),
    }


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


# ---------------------------------------------------------------------------
# The inter macroblock layer
# ---------------------------------------------------------------------------


class _Part:
    """One inter partition or 8x8 sub-macroblock: its 4x4-unit box in
    the MB, the boxes inside it that carry one MV each, the lists it
    predicts from, its refIdx and MVs per list, and whether its
    motion is coded (False: derived by skip or direct mode)."""

    __slots__ = ("box", "subs", "lists", "ref", "mv", "coded")

    def __init__(self, box, subs, lists, ref=None, mv=None, coded=True):
        self.box, self.subs, self.lists = box, subs, lists
        self.ref = ref if ref is not None else [0, 0]
        self.mv = mv if mv is not None else [None, None]
        self.coded = coded


class _Put:
    """The CAVLC encoder side of the motion syntax: writes each ref_idx
    as te(v) (9.1: one inverted bit at range 1, ue(v) above) and each
    mvd against the predictor, passing the known values through. The
    4x4 position and size of the partition go unused: CAVLC codes no
    neighbour context (h264_cabac's io pair does)."""

    def __init__(self, sl: BitWriter) -> None:
        self.sl = sl

    def ref(self, v: int, n: int, gx, gy) -> int:
        if n == 2:
            self.sl.u(1 - v, 1)
        else:
            self.sl.ue(v)
        return v

    def mv(self, pred, mv, gx, gy, w4, h4):
        self.sl.se(int(mv[0] - pred[0]))
        self.sl.se(int(mv[1] - pred[1]))
        return mv


class _Get:
    """The CAVLC decoder side of the motion syntax: reads what _Put
    writes."""

    def __init__(self, r: BitReader) -> None:
        self.r = r

    def ref(self, v: int, n: int, gx, gy) -> int:
        v = 1 - self.r.u(1) if n == 2 else self.r.ue()
        if v >= n:
            raise ValueError(f"ref_idx {v} out of range ({n} active)")
        return v

    def mv(self, pred, mv, gx, gy, w4, h4):
        mvx = pred[0] + self.r.se()
        return np.array([mvx, pred[1] + self.r.se()], np.int64)


def _spec_mvs(use: str, mvl: list) -> list:
    """Per-list MV lists of a partition from its spec MVs (one (mv0,
    mv1) pair each for bi); None for a list it does not use."""
    lists = _LISTS[use]
    return [
        [np.asarray(m[li] if len(lists) == 2 else m, np.int64)
         for m in mvl] if li in lists else None
        for li in (0, 1)
    ]


class _InterSlice:
    """Per-slice state of the inter layer, the same for the encoder
    and the decoder: the slice kind and QP, the edge-padded reference
    pictures and active counts per list, the prediction weights, the
    direct-mode inputs of a B slice, the macroblock grid and one
    motion field per list."""

    def __init__(self, kind, mbw, mbh, qp, lists, poc=0, wt=None,
                 implicit=False, spatial=True):
        """``lists`` holds per reference list the DPB entries (poc,
        planes, motion) it indexes; ``wt`` is an explicit weight
        table, ``implicit`` selects POC-derived bi weights."""
        self.kind, self.qp, self.wt = kind, qp, wt
        self.pads = [_pad_refs([e[1] for e in es]) for es in lists]
        self.nra = tuple(len(es) for es in lists)
        self.pics = [es[0][0] for es in lists]
        self.g = _MbGrid(mbw, mbh)
        self.mvs = [_MvState(mbw, mbh) for _ in lists]
        if kind is _B:
            p0, p1 = self.pics
            self.tbtd = (poc - p0, p1 - p0)
            self.col = lists[1][0][2]
            self.spatial = spatial
            if implicit:
                w = _implicit_weights(*self.tbtd)
                self.wt = _bi_table(5, w["w0"], w["w1"])

    def direct_parts(self, mx, my) -> list:
        """The four 8x8 direct parts of a B macroblock, derived once
        from the MB neighbors (every read falls outside the MB)."""
        if self.spatial:
            r0, r1, pairs = _spatial_direct(*self.mvs, mx, my, self.col)
        else:
            r0 = r1 = 0
            pairs = _temporal_direct(mx, my, self.col, *self.tbtd)
        lists = tuple(li for li, rf in enumerate((r0, r1)) if rf >= 0)
        parts = []
        for k, (m0, m1) in enumerate(pairs):
            box = ((k & 1) * 2, (k >> 1) * 2, 2, 2)
            parts.append(_Part(box, [box], lists, [r0, r1], [[m0], [m1]],
                               coded=False))
        return parts

    def sub_parts(self, subs, mx, my) -> list:
        """The four parts of a P_8x8 / B_8x8 MB from (list use,
        sub-partition) per 8x8, direct ones derived."""
        direct = None
        parts = []
        for k, (use, sm) in enumerate(subs):
            if use == "direct":
                direct = direct or self.direct_parts(mx, my)
                parts.append(direct[k])
                continue
            ox8, oy8 = (k & 1) * 2, (k >> 1) * 2
            parts.append(_Part(
                (ox8, oy8, 2, 2),
                [(ox8 + sx, oy8 + sy, w4, h4)
                 for sx, sy, w4, h4 in _SUBPARTS[sm]],
                _LISTS[use],
            ))
        return parts

    def spec_parts(self, spec, mx, my):
        """Validate a coded inter mb_spec; returns (mb_type,
        sub_mb_types, partition mode, parts)."""
        kind, mode = self.kind, spec[0]
        if mode == "direct" and kind is _B:  # B_Direct_16x16
            return 0, [], "16x16", self.direct_parts(mx, my)
        if mode == "8x8":
            if len(spec[1]) != 4:
                raise ValueError(f"{kind.name}_8x8 needs four sub-MB specs")
            subs = []
            for e in spec[1]:
                if kind is _P:  # (sub_mode, [mv, ...][, ref])
                    e = ("l0",) + tuple(e) + ((0,) if len(e) == 2 else ())
                elif e[0] == "direct":
                    e = ("direct", "8x8", [], 0)
                else:  # (use, sub_mode, [mv | (mv0, mv1), ...])
                    e = tuple(e) + (0,)
                if e[:2] not in kind.sub_types:
                    raise ValueError(
                        f"bad {kind.name} sub_mb spec ({e[0]!r}, {e[1]!r})")
                if e[0] != "direct" and len(e[2]) != len(_SUBPARTS[e[1]]):
                    raise ValueError("one MV (or bi pair) per sub-partition")
                subs.append(e)
            parts = self.sub_parts([e[:2] for e in subs], mx, my)
            for p, (use, _, mvl, ref) in zip(parts, subs):
                if p.coded:
                    p.mv, p.ref[0] = _spec_mvs(use, mvl), self._ref(ref)
            return (kind.mb8x8, [kind.sub_types[e[:2]] for e in subs],
                    "8x8", parts)
        if mode not in _PARTS:
            if kind is _P:
                raise NotImplementedError(
                    f"P macroblock mode {mode!r} — list-1, bi and direct "
                    "prediction need B slices")
            raise ValueError(f"unknown B macroblock mode {mode!r}")
        if len(spec[1]) != len(_PARTS[mode]):
            raise ValueError("one MV or partition spec per partition")
        parts, uses = [], []
        for box, e in zip(_PARTS[mode], spec[1]):
            if kind is _P:  # mv | (mv, ref)
                mv, ref = _mv_ref(e)
                use, mvl = "l0", [mv]
            else:  # ("l0", mv) | ("l1", mv) | ("bi", mv0, mv1)
                use, ref = e[0], 0
                if use not in _LISTS:
                    raise ValueError(f"bad B partition use {use!r}")
                mvl = [e[1:] if use == "bi" else e[1]]
            parts.append(_Part(box, [box], _LISTS[use],
                               [self._ref(ref), 0], _spec_mvs(use, mvl)))
            uses.append(use)
        return kind.types[(mode, tuple(uses))], [], mode, parts

    def _ref(self, ref: int) -> int:
        if not 0 <= ref < self.nra[0]:
            raise ValueError(f"ref_idx {ref} out of range")
        return ref

    def read_parts(self, read_sub, mb_type: int, mx, my):
        """(partition mode, parts, active refs per list) of a coded
        inter MB from its mb_type, reading the sub_mb_types of an 8x8
        one with ``read_sub()``."""
        kind = self.kind
        if mb_type in kind.uses:
            mode, uses = kind.uses[mb_type]
            return mode, [_Part(box, [box], _LISTS[u])
                          for box, u in zip(_PARTS[mode], uses)], self.nra
        if mb_type < kind.mb8x8:  # B_Direct_16x16
            return "16x16", self.direct_parts(mx, my), self.nra
        subs = []
        for _ in range(4):
            st = read_sub()
            if st not in kind.sub_uses:
                raise ValueError(f"bad sub_mb_type {st} in a {kind.name} "
                                 "slice")
            subs.append(kind.sub_uses[st])
        # P_8x8ref0 (mb_type 4) codes no ref_idx: every refIdx is 0
        return ("8x8", self.sub_parts(subs, mx, my),
                (1,) if mb_type == 4 else self.nra)

    def motion(self, io, mx, my, mode, parts, nra=None) -> None:
        """The motion syntax of one MB (7.3.5.1 / 7.3.5.2) in its
        order — ref_idx_l0 of every part, then ref_idx_l1, then
        mvd_l0 of every (sub-)partition, then mvd_l1 — with each MV
        predicted (8.4.1.3) and stored as it is coded. ``io`` is an
        encoder or decoder side of one entropy coder (_Put / _Get here,
        _CabacPut / _CabacGet in h264_cabac), given each element's
        partition position in 4x4 units; derived parts code nothing."""
        for li, n in enumerate(nra or self.nra):
            if n > 1:
                for p in parts:
                    if p.coded and li in p.lists:
                        p.ref[li] = io.ref(p.ref[li], n, mx * 4 + p.box[0],
                                           my * 4 + p.box[1])
        for li, mvs in enumerate(self.mvs):
            for pidx, p in enumerate(parts):
                ox4, oy4, w4, h4 = p.box
                if li not in p.lists:  # predFlagLX = 0
                    mvs.mark_off(mx * 4 + ox4, my * 4 + oy4, w4, h4)
                    continue
                mvl = p.mv[li]
                if mvl is None:
                    mvl = p.mv[li] = [None] * len(p.subs)
                for si, (sx4, sy4, sw4, sh4) in enumerate(p.subs):
                    gx, gy = mx * 4 + sx4, my * 4 + sy4
                    if p.coded:
                        pred = mvs.pred_for_partition(
                            mode, pidx, gx, gy, sw4, p.ref[li])
                        mvl[si] = io.mv(pred, mvl[si], gx, gy, sw4, sh4)
                    mvs.fill(gx, gy, sw4, sh4, mvl[si], p.ref[li])

    def predict(self, mx, my, parts):
        """Inter prediction of MB (mx, my) from its coded or derived
        parts, one _mc_mb call per MB."""
        placed = []
        for p in parts:
            m0, m1 = (p.mv[li] if li in p.lists else None for li in (0, 1))
            for si, box in enumerate(p.subs):
                placed.append(box + (None if m0 is None else m0[si],
                                     p.ref[0],
                                     None if m1 is None else m1[si],
                                     p.ref[1]))
        return _mc_mb(self.pads, mx, my, placed, self.wt)

    def skip(self, mx, my) -> None:
        """P_Skip / B_Skip (a macroblock in an mb_skip_run): derived
        motion, the prediction stored as the reconstruction."""
        if self.kind is _P:
            box = (0, 0, 4, 4)
            parts = [_Part(box, [box], (0,), [0, 0],
                           [[self.mvs[0].skip_mv(mx, my)], None],
                           coded=False)]
        else:
            parts = self.direct_parts(mx, my)
        self.motion(None, mx, my, "16x16", parts)
        g = self.g
        for plane, blk, s in zip(g.recon, self.predict(mx, my, parts),
                                 (16, 8, 8)):
            plane[my * s : my * s + s, mx * s : mx * s + s] = blk
        g.nnz[my * 4 : my * 4 + 4, mx * 4 : mx * 4 + 4] = 0
        for cnnz in g.cnnz:
            cnnz[my * 2 : my * 2 + 2, mx * 2 : mx * 2 + 2] = 0

    def mark_intra(self, mx, my) -> None:
        for mvs in self.mvs:
            mvs.mark_intra(mx, my)

    def finish(self, deblock):
        """The picture as uint8 planes, loop-filtered as ``deblock`` =
        (idc, offsets) says, and the single-list motion a later B
        picture's direct modes read when this one is a reference
        (8.4.1.2: a colocated block's L0 motion when it has any, else
        its L1 motion)."""
        g, m = self.g, self.mvs
        mbh, mbw = g.nnz.shape[0] // 4, g.nnz.shape[1] // 4
        pf0 = m[0].inter
        if self.kind is _P:
            col = {"inter": pf0, "mv": m[0].mv, "ref": m[0].ref}

            def info():
                return make_block_info(mbw, mbh, inter=pf0, nnz=g.nnz,
                                       mv=m[0].mv, ref=m[0].ref)
        else:
            pf1 = m[1].inter
            col = {"inter": pf0 | pf1,
                   "mv": np.where(pf0[..., None], m[0].mv, m[1].mv),
                   "ref": np.where(pf0, m[0].ref, m[1].ref)}

            def info():
                return make_block_info_b(
                    mbw, mbh, inter=pf0 | pf1, nnz=g.nnz, mv0=m[0].mv,
                    mv1=m[1].mv, pf0=pf0, pf1=pf1, pic0=self.pics[0],
                    pic1=self.pics[1])
        frame = tuple(p.astype(np.uint8) for p in g.recon)
        return _loop_filter(frame, self.qp, deblock, info), col


# ---------------------------------------------------------------------------
# Slice header, reference lists, in-loop filter
# ---------------------------------------------------------------------------


def _inter_slice_header(
    sl: BitWriter, kind: _Kind, qp: int, frame_num: int,
    poc_bits: int = 0, poc: int = 0, nra: tuple | None = None,
    wt: dict | None = None, spatial: bool = True, is_ref: bool = True,
    deblock: tuple = (1, (0, 0)), cabac: bool = False,
) -> None:
    """Header of a non-IDR P or B slice (7.3.3), one slice per
    picture: ``poc_bits`` > 0 writes pic_order_cnt_lsb (POC type 0);
    ``nra`` is the active reference count per list (the PPS default is
    one each); ``wt`` the pred_weight_table when the PPS enables
    explicit weights for this kind; ``spatial`` the B
    direct_spatial_mv_pred_flag; ``is_ref`` writes dec_ref_pic_marking
    (nal_ref_idc != 0); ``deblock`` = (idc, offsets); ``cabac`` (a
    CABAC PPS) writes cabac_init_idc 0 and aligns the slice data."""
    nra = nra or (1,) * kind.nlists
    sl.ue(0)  # first_mb_in_slice
    sl.ue(kind.stype)  # slice_type (all slices of the picture)
    sl.ue(0)  # pic_parameter_set_id
    sl.u(frame_num % 16, 4)  # frame_num
    if poc_bits:
        sl.u(poc % (1 << poc_bits), poc_bits)  # pic_order_cnt_lsb
    if kind is _B:
        sl.u(int(spatial), 1)  # direct_spatial_mv_pred_flag
    override = any(n != 1 for n in nra)
    sl.u(int(override), 1)  # num_ref_idx_active_override_flag
    if override:
        for n in nra:
            sl.ue(n - 1)  # num_ref_idx_lX_active_minus1
    for _ in nra:
        sl.u(0, 1)  # ref_pic_list_modification_flag_lX
    if wt is not None:
        _write_pwt(sl, wt, nra)
    if is_ref:
        sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag
    if cabac:
        sl.ue(0)  # cabac_init_idc
    sl.se(qp - 26)  # slice_qp_delta
    _write_deblock_fields(sl, *deblock)
    if cabac:
        _cabac_align(sl)


def _parse_inter_header(r: BitReader, sps: dict, pps: dict, is_ref: bool):
    """Parse what _inter_slice_header writes. Returns (kind, qp, poc
    (None unless POC type 0), nra, weight table or None, spatial,
    (idc, offsets)); the reader is left at the first macroblock (the
    aligned slice data under a CABAC PPS)."""
    if r.ue() != 0:
        raise ValueError("multi-slice pictures unsupported")
    stype = r.ue()
    kind = {0: _P, 1: _B}.get(stype % 5) if stype <= 9 else None
    if kind is None:
        raise NotImplementedError(
            f"slice_type {stype} in a non-IDR NAL — only P and B slices "
            "decode")
    r.ue()  # pic_parameter_set_id
    r.u(sps["log2_mfn"])  # frame_num
    poc = r.u(sps["log2_poc"]) if sps["poc_type"] == 0 else None
    if kind is _B and poc is None:
        raise ValueError("B slices need pic_order_cnt_type 0")
    spatial = bool(r.u(1)) if kind is _B else True
    nra = pps["nra"][: kind.nlists]
    if r.u(1):  # num_ref_idx_active_override_flag
        nra = tuple(r.ue() + 1 for _ in range(kind.nlists))
    if nra[0] > 15:
        raise ValueError(f"num_ref_idx_l0_active {nra[0]} exceeds the "
                         "4-bit frame_num sliding window")
    if kind is _B and nra != (1, 1):
        raise NotImplementedError(
            "one active reference per list is implemented for B slices")
    for _ in nra:
        if r.u(1):
            raise NotImplementedError("ref_pic_list_modification unsupported")
    explicit = pps["weighted_pred"] if kind is _P else pps["bipred_idc"] == 1
    wt = _parse_pwt(r, nra) if explicit else None
    if is_ref and r.u(1):
        raise NotImplementedError("adaptive ref marking unsupported")
    if pps["cabac"]:
        if kind is _B:
            raise NotImplementedError("CABAC B slices unsupported")
        idc = r.ue()
        if idc:
            raise NotImplementedError(
                f"cabac_init_idc {idc}: only column 0 is wired")
    qp = 26 + r.se()
    if not 0 <= qp <= 51:
        raise ValueError(f"slice QP {qp} out of range")
    deblock = _read_deblock_fields(r) if pps["deblock_present"] else (
        1, (0, 0))
    if pps["cabac"]:
        r.align()
    return kind, qp, poc, nra, wt, spatial, deblock


def _ref_lists(kind: _Kind, dpb: list, poc, nra: tuple) -> list:
    """RefPicList0/1 as DPB entries (poc, planes, motion), the DPB
    newest decoded first: a P slice takes the nra newest pictures
    (8.2.4.2.1); a B slice the nearest past picture by POC in list 0
    and the nearest future one in list 1 (8.2.4.2.3)."""
    if kind is _P:
        if nra[0] > len(dpb):
            raise ValueError(
                f"{nra[0]} active references but only {len(dpb)} decoded")
        return [dpb[: nra[0]]]
    past = [e for e in dpb if e[0] < poc]
    future = [e for e in dpb if e[0] > poc]
    if not past or not future:
        raise ValueError(
            "a B slice needs one past and one future reference in the DPB")
    return [[max(past, key=lambda e: e[0])],
            [min(future, key=lambda e: e[0])]]


def _loop_filter(frame, qp: int, deblock: tuple, info=None):
    """In-loop deblocking (8.7) of a picture as its slice header's
    (idc, (alpha_div2, beta_div2)) say; ``info`` builds the per-4x4
    block info (None: all intra). idc 2 equals idc 0 for single-slice
    pictures (no slice-boundary edges to exclude)."""
    idc, offs = deblock
    if idc == 1:
        return frame
    return deblock_frame(*frame, qp, info and info(),
                         alpha_off=2 * offs[0], beta_off=2 * offs[1])


def _deblock_arg(deblock, offsets) -> tuple:
    """The encoders' deblock argument as header fields: False -> idc 1
    (off), True -> idc 0, 2 -> idc 2."""
    return (1 if not deblock else 2 if deblock == 2 else 0), offsets


# ---------------------------------------------------------------------------
# Pictures and streams
# ---------------------------------------------------------------------------


def _encode_idr(planes, qp: int, poc_bits: int, deblock: tuple):
    """The IDR anchor of a GOP or B stream: Intra_16x16 DC through the
    shared intra slice loop under a header with the deblocking-control
    fields (and a zero pic_order_cnt_lsb of ``poc_bits`` bits, if
    any). Returns (NAL bytes, loop-filtered reconstruction)."""
    sl = BitWriter()
    _slice_header(sl, qp, poc_bits, deblock)
    g = _encode_i16_slice(sl, _check_planes(*planes), qp)
    sl.trailing()
    h, w = g.recon[0].shape
    return (_nal(3, 5, sl.bytes_()),
            _loop_filter(g.frame(0, 0, w, h), qp, deblock))


def _decode_idr(rbsp: bytes, sps: dict, pps: dict) -> tuple:
    """Decode what _encode_idr (or h264_cabac's CABAC anchor, under a
    CABAC PPS) writes, loop-filtered when its header enables the
    filter."""
    r = BitReader(rbsp)
    qp, deblock = _parse_slice_header(r, sps, pps)
    mbw, mbh = sps["mbw"], sps["mbh"]
    if pps["cabac"]:
        g = _MbGrid(mbw, mbh)
        _decode_cabac_mbs(r, _Ctx(qp), g, qp)
    else:
        g = _decode_intra_slice(r, mbw, mbh, qp)
    return _loop_filter(g.frame(0, 0, mbw * 16, mbh * 16), qp, deblock)


def _encode_inter(kind, target, specs, qp, lists, frame_num, deblock,
                  poc_bits=0, poc=0, wt=None, implicit=False, spatial=True,
                  is_ref=True, p_ctx=None):
    """The one inter slice encoder: picture ``target`` as a P or B
    slice against ``lists`` (DPB entries per reference list), one
    raster-ordered mb_spec per macroblock, CAVLC-coded, or CABAC-coded
    when ``p_ctx`` (QP -> P-slice context variables) is given. Returns
    (NAL bytes, loop-filtered reconstruction, colocated motion)."""
    h, w = target[0].shape
    mbw = w // 16
    if len(specs) != mbw * (h // 16):
        raise ValueError("one mb_spec per macroblock required")
    sc = _InterSlice(kind, mbw, h // 16, qp, lists, poc, wt, implicit,
                     spatial)
    sl = BitWriter()
    _inter_slice_header(sl, kind, qp, frame_num, poc_bits, poc, sc.nra,
                        wt, spatial, is_ref, deblock, p_ctx is not None)
    if p_ctx is None:
        _encode_cavlc_mbs(sl, sc, target, specs, qp)
    else:
        _encode_cabac_mbs(sl, p_ctx(qp), sc.g, target, specs, qp, sc)
    frame, motion = sc.finish(deblock)
    return _nal(2 if is_ref else 0, 1, sl.bytes_()), frame, motion


def _encode_cavlc_mbs(sl, sc, target, specs, qp) -> None:
    """The CAVLC macroblock layer of an inter slice (7.3.4 with
    mb_skip_run), closed with its trailing bits."""
    g, kind, qpc = sc.g, sc.kind, _chroma_qp(qp)
    mbw = g.nnz.shape[1] // 4
    put = _Put(sl)
    skip_run = 0
    for addr, spec in enumerate(specs):
        mx, my = addr % mbw, addr // mbw
        if spec[0] == "skip":
            sc.skip(mx, my)
            skip_run += 1
            continue
        sl.ue(skip_run)  # mb_skip_run
        skip_run = 0
        if spec[0] in ("i16", "i4", "ipcm"):
            _encode_intra_mb(sl, g, target, spec, mx, my, qp, kind.intra)
            sc.mark_intra(mx, my)
            continue
        mb_type, sub_types, mode, parts = sc.spec_parts(spec, mx, my)
        sl.ue(mb_type)
        for st in sub_types:
            sl.ue(st)
        sc.motion(put, mx, my, mode, parts)
        py, pcb, pcr = sc.predict(mx, my, parts)
        cbp, zl, cdcz, cacz = _residual_from_target(
            target, mx, my, py, pcb, pcr, qp, qpc)
        _write_residuals(sl, g, mx, my, cbp, zl, cdcz, cacz, _CBP_INTER_INV)
        _recon_inter_mb(g.recon, mx, my, py, pcb, pcr, cbp, zl, cdcz, cacz,
                        qp, qpc)
    if skip_run:
        sl.ue(skip_run)  # trailing skipped macroblocks
    sl.trailing()


def _decode_inter(rbsp: bytes, sps: dict, pps: dict, dpb: list,
                  is_ref: bool, p_ctx=None):
    """The one inter slice decoder: parse the header, take the
    reference lists from ``dpb`` and decode every macroblock, CABAC
    under a CABAC PPS with the contexts ``p_ctx`` (QP -> P-slice
    context variables) makes. Returns (loop-filtered frame, colocated
    motion, poc or None)."""
    r = BitReader(rbsp)
    kind, qp, poc, nra, wt, spatial, deblock = _parse_inter_header(
        r, sps, pps, is_ref)
    sc = _InterSlice(kind, sps["mbw"], sps["mbh"], qp,
                     _ref_lists(kind, dpb, poc, nra), poc, wt,
                     pps["bipred_idc"] == 2, spatial)
    if not pps["cabac"]:
        _decode_cavlc_mbs(r, sc, qp)
    elif p_ctx is None:
        raise NotImplementedError(
            "CABAC P slices need the 9.3.1.1 P-column init data (not "
            "transcribed): decode them with "
            "h264_cabac_inter.decode_h264_cabac_p and an init_table")
    else:
        _decode_cabac_mbs(r, p_ctx(qp), sc.g, qp, sc)
    frame, motion = sc.finish(deblock)
    return frame, motion, poc


def _decode_cavlc_mbs(r: BitReader, sc, qp: int) -> None:
    """Parse what _encode_cavlc_mbs writes into ``sc``'s grid."""
    g, kind, qpc = sc.g, sc.kind, _chroma_qp(qp)
    mbh, mbw = g.nnz.shape[0] // 4, g.nnz.shape[1] // 4
    get, read_sub = _Get(r), r.ue
    n_mbs = mbw * mbh
    addr = 0
    while addr < n_mbs:
        run = r.ue()  # mb_skip_run
        if run > n_mbs - addr:
            raise ValueError("mb_skip_run overflows the picture")
        for a in range(addr, addr + run):
            sc.skip(a % mbw, a // mbw)
        addr += run
        if addr >= n_mbs:
            break
        mx, my = addr % mbw, addr // mbw
        addr += 1
        mb_type = r.ue()
        if mb_type >= kind.intra:
            if mb_type > kind.intra + 25:
                raise ValueError(
                    f"invalid mb_type {mb_type} in {kind.name} slice")
            qp = _decode_intra_mb(r, g, mx, my, mb_type - kind.intra, qp)
            qpc = _chroma_qp(qp)
            sc.mark_intra(mx, my)
            continue
        mode, parts, mb_nra = sc.read_parts(read_sub, mb_type, mx, my)
        sc.motion(get, mx, my, mode, parts, mb_nra)
        py, pcb, pcr = sc.predict(mx, my, parts)
        cbp, qpd, zl, cdcz, cacz = _read_residuals(r, g, mx, my, _CBP_INTER)
        if cbp:
            qp = (qp + qpd + 52) % 52
            qpc = _chroma_qp(qp)
        _recon_inter_mb(g.recon, mx, my, py, pcb, pcr, cbp, zl, cdcz, cacz,
                        qp, qpc)


def _decode_stream(payload: bytes, p_ctx=None) -> tuple[list, list]:
    """The one decoder loop of IDR + P + B streams, behind
    decode_h264_sequence, h264_bslice.decode_h264_b_stream and
    h264_cabac_inter.decode_h264_cabac_p: walk the NAL units, reset the
    DPB at the IDR, decode each P or B slice against it and insert
    every reference picture (nal_ref_idc > 0) with its motion, newest
    first, evicting past max_num_ref_frames. Slices decode CAVLC or
    CABAC as the PPS says; CABAC P slices need ``p_ctx`` (QP -> context
    variables from an explicit init table). Returns (frames, pocs) in
    decode order; without POC type 0 a picture's POC is twice its
    decode index."""
    sps = pps = None
    frames: list = []
    pocs: list = []
    dpb: list = []  # (poc, planes, motion), newest decoded first
    for nal in _split_nals(bytes(payload)):
        ntype = nal[0] & 0x1F
        rbsp = _ep_remove(nal[1:])
        if ntype == 7:
            sps = _parse_sps(rbsp)
        elif ntype == 8:
            pps = _parse_pps(rbsp)
        elif ntype in (1, 5):
            if sps is None or pps is None:
                raise ValueError("coded slice before its SPS and PPS")
            if ntype == 5:
                frame, poc = _decode_idr(rbsp, sps, pps), 0
                motion = _intra_motion(sps["mbw"], sps["mbh"])
                dpb = []
            elif not dpb:
                raise ValueError("coded slice before references exist")
            else:
                frame, motion, poc = _decode_inter(
                    rbsp, sps, pps, dpb, bool(nal[0] & 0x60), p_ctx)
                if poc is None:
                    poc = 2 * len(frames)
            frames.append(frame)
            pocs.append(poc)
            if nal[0] & 0x60:  # nal_ref_idc: a reference picture
                dpb.insert(0, (poc, frame, motion))
                del dpb[max(1, sps["max_refs"]):]
    if not frames:
        raise ValueError("no coded frames found")
    return frames, pocs


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
    a CAVLC P slice of the shared inter layer, predicting from up to
    ``num_refs`` previously DECODED frames (list0 most recent first,
    per 8.2.4.2.1; ref_idx_l0 coded te(v); sliding-window DPB eviction
    beyond ``num_refs``).

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

    ``weights`` (explicit weighted prediction, weighted_pred_flag):
    {"luma_denom", "chroma_denom", "refs": [entry per reference]} with
    entries {"wy", "oy", "wc", "oc", "wcr", "ocr"}; a missing weight
    keeps the default, denominators are 0..7 and weights and offsets
    -128..127. ``deblock``: False (loop filter off), True (on) or 2
    (on, idc 2); ``deblock_offsets`` = (alpha_div2, beta_div2).

    Returns (annex_b_bytes, [recon planes per frame]) where every
    recon triple is the decoder-mirrored bit-exact contract."""
    return _encode_p_gop(frames, specs_per_p, qp, num_refs, weights,
                         deblock, deblock_offsets)


def _encode_p_gop(frames, specs_per_p, qp, num_refs, weights=None,
                  deblock=False, deblock_offsets=(0, 0), p_ctx=None):
    """The IDR + P GOP behind encode_h264_p_gop and, with ``p_ctx`` (QP
    -> P-slice context variables), h264_cabac_inter's CABAC twin, whose
    anchor is h264_cabac's I slice."""
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
    wt = None
    if weights is not None:
        refs = list(weights.get("refs", [])) + [{}] * num_refs
        wt = _norm_weights(weights, [refs[:num_refs]])
    dbk = _deblock_arg(deblock, deblock_offsets)
    if p_ctx is None:
        idr_nal, anchor = _encode_idr(frames[0], qp, 0, dbk)
    else:
        idr_nal, g = _encode_cabac_idr(_check_planes(*frames[0]), qp, 2)
        anchor = g.frame(0, 0, w, h)
    stream = (
        _nal(3, 7, _sps_rbsp(w // 16, h // 16, w, h, num_refs))
        + _nal(3, 8, _pps_rbsp(p_ctx is not None, True, wt is not None))
        + idr_nal
    )
    recons = [anchor]
    dpb = [(0, anchor, None)]
    for fi, (target, specs) in enumerate(zip(frames[1:], specs_per_p), 1):
        nal, recon, _ = _encode_inter(_P, target, specs, qp, [dpb], fi, dbk,
                                      wt=wt, p_ctx=p_ctx)
        stream += nal
        recons.append(recon)
        dpb.insert(0, (2 * fi, recon, None))
        del dpb[num_refs:]
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


def decode_h264_sequence(
    payload: bytes,
) -> list[tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Decode a CAVLC IDR + P (+ B) stream; returns the decoded frames
    in decode order. The IDR anchor decodes through the shared intra
    macroblock layer, every P or B slice through the shared inter
    layer against a sliding-window DPB of previously decoded frames
    (P list0 most recent first, te(v) ref_idx_l0, P_8x8
    sub-partitions, intra macroblocks, weighted prediction and in-loop
    deblocking per the stream's PPS and slice headers)."""
    return _decode_stream(payload)[0]


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
