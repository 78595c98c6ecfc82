"""H.264 B-slice sequences (CAVLC) — bi-predictive frames over the
shared inter layer of h264_inter.py, where a B slice is the two-list
case of the one P/B macroblock coder.

What this module adds on top of that layer (ITU-T H.264 clause
references, all from scratch):

- POC TYPE 0 framing: a Main-profile SPS (profile_idc 77 — B slices
  are not allowed in Baseline) carrying
  log2_max_pic_order_cnt_lsb_minus4, and pic_order_cnt_lsb in EVERY
  slice header — P slices included, which the shared header writer
  emits directly — so a B frame can reference a future-in-display-
  order frame that was decoded earlier (decode order != output
  order);
- reference list initialization per 8.2.4.2.3: list0 = the nearest
  past reference by POC, list1 = the nearest future one; one active
  reference per list, so no ref_idx syntax is present;
- frame_num tracking for non-reference pictures (a B slice repeats
  PrevRefFrameNum + 1) and a DPB keyed by POC that only reference
  pictures (nal_ref_idc > 0) enter;
- REFERENCE B PICTURES (B pyramid): a "bref" entry writes
  nal_ref_idc 2 + dec_ref_pic_marking and enters the DPB with its
  single-list colocated view (L0 motion when predFlagL0, else L1,
  per 8.4.1.2), so later B pictures predict from it through both
  lists and their direct modes read its motion (max_num_ref_frames
  3: anchor + Bref + P);
- the B-frame macroblock classes of the shared layer: every mb_type
  1..21 (Table 7-14), B_8x8 with all twelve coded sub_mb_types and
  B_Direct_8x8, B_Skip / B_Direct_16x16 in SPATIAL or TEMPORAL direct
  mode, intra macroblocks, and explicit (weighted_bipred_idc 1) or
  implicit (idc 2) weighted bi-prediction.

Declared gate (raise, never silent): more than one active reference
per list. The P frames of a B stream keep weighted_pred_flag 0.

The encoder<->decoder round trip is bit-exact by construction
(pinned across QPs, every mb_type, sub-pel fractions and intra-in-B
in tests/test_h264_bslice.py, and byte-pinned in
tests/test_h264_stream_pins.py); a capability-gated ffmpeg cross-pin
(display-order reordered) covers machines with ffmpeg.

Reference parity: preprocess_parallel.sh shells out for video; B
frames are the bulk of any broadcast/streaming H.264 corpus.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _nal,
    _pps_rbsp,
    _sps_rbsp,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    _B,
    _P,
    _deblock_arg,
    _decode_stream,
    _encode_idr,
    _encode_inter,
    _intra_motion,
    _norm_weights,
    _ref_lists,
)

_POC_BITS = 6  # log2_max_pic_order_cnt_lsb_minus4 = 2


def encode_h264_b_sequence(entries: list, qp: int = 0, weights=None,
                           direct_mode: str = "spatial",
                           deblock: bool = False,
                           deblock_offsets: tuple = (0, 0)):
    """Encode a decode-order sequence with B frames. ``entries``:

      ("idr", planes)                  — Intra_16x16 anchor, POC 0;
      ("p", planes, mb_specs, poc)     — single-reference CAVLC P
        frame predicting from the most recently decoded reference
        picture; mb_specs in encode_h264_p_gop's language (skip, i16,
        i4, ipcm, 16x16 / 16x8 / 8x16 and 8x8 at ref_idx 0);
      ("b", planes, mb_specs, poc)     — non-reference CAVLC B frame;
      ("bref", planes, mb_specs, poc)  — reference B frame (B
        pyramid): it enters the DPB, and later B frames predict from
        it and read its motion in direct mode.

    A B frame's list0 is the nearest PAST reference picture by POC and
    its list1 the nearest FUTURE one (both must exist). Each B mb_spec
    is one of
      ("skip",)                         — B_Skip (direct motion, no
        residual);
      ("direct",)                       — B_Direct_16x16;
      ("i16",) | ("i4",) | ("i4", mode) | ("ipcm",) — an intra
        macroblock, as in P frames;
      (mode, [part, ...])               — mode in {"16x16", "16x8",
        "8x16"}, each part ("l0", mv) | ("l1", mv) | ("bi", mv0, mv1);
      ("8x8", [sub, sub, sub, sub])     — B_8x8, each sub ("direct",)
        (B_Direct_8x8) or (use, sub_mode, [mv, ...]) with use in
        {"l0", "l1", "bi"} (bi: one (mv0, mv1) pair per
        sub-partition) and sub_mode in {"8x8", "8x4", "4x8", "4x4"}.

    ``weights``: None (the rounded bi average), "implicit" (POC-derived
    bi weights, weighted_bipred_idc 2) or an explicit table
    {"luma_denom", "chroma_denom", "l0": entry, "l1": entry} with
    entries {"wy", "oy", "wc", "oc", "wcr", "ocr"}; a missing weight
    keeps the default, denominators are 0..7 and weights and offsets
    -128..127. ``direct_mode``: "spatial" or "temporal". ``deblock``
    and ``deblock_offsets`` as in encode_h264_p_gop.

    Returns (annex_b_bytes, [recon planes in decode order],
    [poc per frame])."""
    if not entries or entries[0][0] != "idr":
        raise ValueError("sequence must start with an IDR entry")
    h, w = entries[0][1][0].shape
    if h % 16 or w % 16:
        raise ValueError("B sequences require dimensions % 16 == 0")
    mbw, mbh = w // 16, h // 16
    implicit = weights == "implicit"
    wt = None
    if weights is not None and not implicit:
        wt = _norm_weights(weights, [[weights.get("l0", {})],
                                     [weights.get("l1", {})]])
    dbk = _deblock_arg(deblock, deblock_offsets)
    idr_nal, anchor = _encode_idr(entries[0][1], qp, _POC_BITS, dbk)
    stream = (
        _nal(3, 7, _sps_rbsp(mbw, mbh, w, h, 3, _POC_BITS, 77))
        + _nal(3, 8, _pps_rbsp(deblock=True,
                               bipred_idc=1 if wt else 2 if implicit else 0))
        + idr_nal
    )
    recons, pocs = [anchor], [0]
    dpb = [(0, anchor, _intra_motion(mbw, mbh))]  # newest decoded first
    n_refs = 1  # reference pictures so far: frame_num = PrevRefFrameNum + 1
    for entry in entries[1:]:
        kind = entry[0]
        if kind not in ("p", "b", "bref"):
            raise ValueError("IDR only as the first entry" if kind == "idr"
                             else f"bad entry kind {kind!r}")
        _, planes, mb_specs, poc = entry
        sk = _P if kind == "p" else _B
        nal, recon, motion = _encode_inter(
            sk, planes, mb_specs, qp,
            _ref_lists(sk, dpb, poc, (1,) * sk.nlists), n_refs, dbk,
            _POC_BITS, poc, wt if sk is _B else None, implicit,
            direct_mode == "spatial", kind != "b",
        )
        stream += nal
        recons.append(recon)
        pocs.append(poc)
        if kind != "b":
            dpb.insert(0, (poc, recon, motion))
            del dpb[3:]  # max_num_ref_frames = 3
            n_refs += 1
    return stream, recons, pocs


def decode_h264_b_stream(payload: bytes):
    """Decode a POC-type-0 IDR + P + B stream through the shared
    inter decoder loop (h264_inter). Returns (frames in DECODE order,
    poc per frame) — sort by POC for display order."""
    return _decode_stream(payload)


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
