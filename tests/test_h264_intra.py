"""Intra_16x16 + CAVLC H.264 codec (multimodal/h264_intra.py): the
predicted-macroblock half of the H.264 gate. Pins (1) the QP-0
constant-residual DC path exact over the ENTIRE residual range, (2)
decode == encoder-reconstruction for arbitrary content at many QPs
(the conformance contract a real decoder owes a real encoder), (3)
prefix-freeness of every transcribed VLC table, (4) the level codec
escape ladder, (5) the narrowed NotImplementedError gates, and (6) an
ffmpeg cross-check where the binary exists (same capability-gate
pattern as I_PCM / scipy / protobuf)."""

from __future__ import annotations

import subprocess

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.bitio import BitReader, BitWriter
from neuroimaging_data_pipeline_spark.multimodal import h264_intra as hi
from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
    ffmpeg_available,
)
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    encode_h264_ipcm,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    decode_h264_frame,
    decode_residual_block,
    encode_h264_i16x16,
    encode_residual_block,
)


def test_qp0_constant_mb_exact_over_full_residual_range():
    """The property the m21 oracle rests on: at QP 0, a constant
    residual r in [-255, 255] round-trips the DC Hadamard + quant +
    dequant + inverse transform path bit-exactly — EVERY value
    scanned at the function level, then end-to-end on a frame whose
    MB chain drives every residual magnitude through both signs."""
    for r in range(-255, 256):
        dc = np.full((4, 4), 16 * r, np.int64)  # per-4x4 DC of const r
        zdc = hi._quant_dc4((hi._H4 @ dc @ hi._H4) // 2, 0)
        dcq = hi._dequant_dc4(zdc, 0)
        wm = np.zeros((4, 4), np.int64)
        wm[0, 0] = dcq[0, 0]
        blk = (hi._inv4x4(wm) + 32) >> 6
        assert (blk == r).all(), f"residual {r} not exact at QP 0"
    # end-to-end: zigzag value sequence 0,255,1,254,... makes the
    # left-neighbor DC prediction chain hit diffs ±255, ∓254, ...
    seq = []
    lo, hi_ = 0, 255
    while lo <= hi_:
        seq.append(lo)
        if lo != hi_:
            seq.append(hi_)
        lo, hi_ = lo + 1, hi_ - 1
    for vals in (seq, seq[::-1]):
        y = np.zeros((16, 16 * len(vals)), np.uint8)
        for k, v in enumerate(vals):
            y[:, k * 16 : (k + 1) * 16] = v
        stream, ry, _, _ = encode_h264_i16x16(y, qp=0)
        assert (ry == y).all()
        dy, _, _ = decode_h264_frame(stream)
        assert (dy == y).all()


def test_decode_matches_encoder_recon_random_content():
    rng = np.random.default_rng(11)
    for qp in (0, 7, 17, 26, 33, 44, 51):
        y = rng.integers(0, 256, (48, 32), np.uint8)
        cb = rng.integers(0, 256, (24, 16), np.uint8)
        cr = rng.integers(0, 256, (24, 16), np.uint8)
        stream, ry, rcb, rcr = encode_h264_i16x16(y, cb, cr, qp=qp)
        dy, dcb, dcr = decode_h264_frame(stream)
        assert (dy == ry).all()
        assert (dcb == rcb).all()
        assert (dcr == rcr).all()


def test_rate_falls_and_distortion_rises_with_qp():
    rng = np.random.default_rng(5)
    y = rng.integers(0, 256, (32, 32), np.uint8)
    sizes, errs = [], []
    for qp in (0, 20, 40):
        stream, ry, _, _ = encode_h264_i16x16(y, qp=qp)
        sizes.append(len(stream))
        errs.append(float(np.abs(ry.astype(int) - y.astype(int)).mean()))
    assert sizes[0] > sizes[1] > sizes[2]
    assert errs[0] < errs[1] < errs[2]


def test_cropped_dimensions_roundtrip():
    rng = np.random.default_rng(2)
    y = rng.integers(0, 256, (20, 36), np.uint8)
    stream, ry, rcb, rcr = encode_h264_i16x16(y, qp=12)
    dy, dcb, dcr = decode_h264_frame(stream)
    assert dy.shape == (20, 36) and dcb.shape == (10, 18)
    assert (dy == ry).all() and (dcb == rcb).all() and (dcr == rcr).all()


def test_full_decoder_handles_ipcm_streams():
    rng = np.random.default_rng(3)
    y = rng.integers(0, 256, (32, 48), np.uint8)
    cb = rng.integers(0, 256, (16, 24), np.uint8)
    cr = rng.integers(0, 256, (16, 24), np.uint8)
    dy, dcb, dcr = decode_h264_frame(encode_h264_ipcm(y, cb, cr))
    assert (dy == y).all() and (dcb == cb).all() and (dcr == cr).all()


def _assert_prefix_free(codes, name):
    codes = list(codes)
    assert len(set(codes)) == len(codes), f"{name}: duplicate codeword"
    for a in codes:
        for b in codes:
            if a != b and b.startswith(a):
                pytest.fail(f"{name}: {a!r} is a prefix of {b!r}")


def test_all_vlc_tables_prefix_free():
    for name, tab in (
        ("coeff_token nC<2", hi._CT_N0),
        ("coeff_token nC<4", hi._CT_N2),
        ("coeff_token nC<8", hi._CT_N4),
        ("coeff_token chromaDC", hi._CT_CDC),
    ):
        _assert_prefix_free(tab.values(), name)
    for tc, row in hi._TZ4.items():
        _assert_prefix_free(row, f"total_zeros4x4[{tc}]")
    for tc, row in hi._TZC.items():
        _assert_prefix_free(row, f"total_zeros_chromaDC[{tc}]")
    for zl, row in hi._RUN.items():
        _assert_prefix_free(row, f"run_before[{zl}]")


def test_level_codec_escape_ladder_roundtrip():
    for suffix_len in range(7):
        for lv in list(range(-6000, 6001, 7)) + [-2, -1, 1, 2]:
            if lv == 0:
                continue
            w = BitWriter()
            hi._encode_level(w, lv, suffix_len)
            w.trailing()
            assert hi._decode_level(BitReader(w.bytes_()), suffix_len) == lv


def test_residual_block_roundtrip_randomized():
    """Whole-block CAVLC roundtrip across densities, magnitudes and
    every nC context class (incl. chroma DC and the >=8 FLC path)."""
    rng = np.random.default_rng(17)
    for max_coeff in (16, 15, 4):
        ncs = (-1,) if max_coeff == 4 else (0, 1, 2, 3, 5, 9, 20)
        for nc in ncs:
            for density in (0.0, 0.1, 0.4, 0.9):
                for _ in range(25):
                    coeffs = [
                        int(rng.integers(-900, 900))
                        if rng.random() < density
                        else 0
                        for _ in range(max_coeff)
                    ]
                    w = BitWriter()
                    total = encode_residual_block(w, coeffs, nc, max_coeff)
                    w.trailing()
                    got, tot = decode_residual_block(
                        BitReader(w.bytes_()), nc, max_coeff
                    )
                    assert got == coeffs and tot == total


def test_gates_raise_not_implemented():
    y = np.full((16, 16), 77, np.uint8)
    stream, _, _, _ = encode_h264_i16x16(y, qp=0)
    # the CABAC gate is CLOSED since r9 (decode_h264_frame dispatches
    # to h264_cabac) — but a CAVLC-coded slice mislabeled as CABAC
    # via a flipped PPS flag must still fail LOUDLY, not decode to
    # garbage silently
    pps_cabac = bytearray(stream)
    # find PPS NAL (type 8) and flip entropy_coding_mode_flag: PPS
    # RBSP is ue(0) ue(0) u(1)... = bits 1,1,then flag at bit 2
    idx = stream.find(b"\x00\x00\x00\x01\x68")
    pps_cabac[idx + 5] = 0b11100000 | (pps_cabac[idx + 5] & 0x0F)
    with pytest.raises((ValueError, NotImplementedError, KeyError)):
        decode_h264_frame(bytes(pps_cabac))
    with pytest.raises(ValueError, match="QP"):
        encode_h264_i16x16(y, qp=52)


@pytest.mark.skipif(not ffmpeg_available(), reason="ffmpeg not on PATH")
def test_ffmpeg_decodes_intra_bitstream_identically():
    """Conformance cross-check of the VLC-table transcription and the
    transform/quant ladder: ffmpeg must reconstruct exactly the planes
    our encoder reconstructed."""
    rng = np.random.default_rng(23)
    y = rng.integers(0, 256, (32, 32), np.uint8)
    cb = rng.integers(0, 256, (16, 16), np.uint8)
    cr = rng.integers(0, 256, (16, 16), np.uint8)
    stream, ry, rcb, rcr = encode_h264_i16x16(y, cb, cr, qp=20)
    out = subprocess.run(
        ["ffmpeg", "-v", "error", "-f", "h264", "-i", "pipe:0",
         "-f", "rawvideo", "-pix_fmt", "yuv420p", "pipe:1"],
        input=stream, capture_output=True, check=True,
    ).stdout
    n = 32 * 32
    got_y = np.frombuffer(out[:n], np.uint8).reshape(32, 32)
    got_cb = np.frombuffer(out[n : n + n // 4], np.uint8).reshape(16, 16)
    got_cr = np.frombuffer(out[n + n // 4 :], np.uint8).reshape(16, 16)
    assert (got_y == ry).all()
    assert (got_cb == rcb).all()
    assert (got_cr == rcr).all()


# --- I_4x4 layer --------------------------------------------------------------


def test_i4x4_qp0_constant_block_exact_and_decodes():
    y = np.zeros((16, 16), np.uint8)
    for by in range(4):
        for bx in range(4):
            y[by * 4 : by * 4 + 4, bx * 4 : bx * 4 + 4] = (
                13 + by * 41 + bx * 59
            ) % 256
    stream, ry, rcb, rcr = hi.encode_h264_i4x4(y, qp=0)
    assert (ry == y).all()
    dy, dcb, dcr = decode_h264_frame(stream)
    assert (dy == y).all() and (dcb == 128).all() and (dcr == 128).all()


def test_i4x4_qp0_full_residual_range_exact():
    """Function-level scan: a full-4x4 block (no DC split) with
    constant residual r round-trips quant -> dequant -> inverse
    exactly at QP 0 for every r in [-255, 255]."""
    for r in range(-255, 256):
        z = hi._quant(hi._fwd4x4(np.full((4, 4), r, np.int64)), 0)
        blk = (hi._inv4x4(hi._dequant_ac(z, 0)) + 32) >> 6
        assert (blk == r).all(), f"residual {r} not exact"


def test_i4x4_decode_matches_encoder_recon_random():
    rng = np.random.default_rng(29)
    for qp in (0, 13, 28, 45):
        y = rng.integers(0, 256, (32, 48), np.uint8)
        cb = rng.integers(0, 256, (16, 24), np.uint8)
        cr = rng.integers(0, 256, (16, 24), np.uint8)
        stream, ry, rcb, rcr = hi.encode_h264_i4x4(y, cb, cr, qp=qp)
        dy, dcb, dcr = decode_h264_frame(stream)
        assert (dy == ry).all()
        assert (dcb == rcb).all() and (dcr == rcr).all()


def test_i4x4_all_nine_prediction_modes_roundtrip():
    rng = np.random.default_rng(31)
    for m in range(9):
        y = rng.integers(0, 256, (32, 32), np.uint8)
        stream, ry, _, _ = hi.encode_h264_i4x4(y, qp=20, mode=m)
        dy, _, _ = decode_h264_frame(stream)
        assert (dy == ry).all(), f"mode {m}"


def test_i4x4_cbp_mapping_is_a_permutation():
    assert sorted(hi._CBP_INTRA) == list(range(48))


def test_i4x4_guards():
    y = np.full((16, 16), 50, np.uint8)
    with pytest.raises(ValueError, match="mode"):
        hi.encode_h264_i4x4(y, mode=9)
    with pytest.raises(ValueError, match="QP"):
        hi.encode_h264_i4x4(y, qp=-1)


@pytest.mark.skipif(not ffmpeg_available(), reason="ffmpeg not on PATH")
def test_ffmpeg_decodes_i4x4_bitstream_identically():
    rng = np.random.default_rng(37)
    y = rng.integers(0, 256, (32, 32), np.uint8)
    stream, ry, rcb, rcr = hi.encode_h264_i4x4(y, qp=22)
    out = subprocess.run(
        ["ffmpeg", "-v", "error", "-f", "h264", "-i", "pipe:0",
         "-f", "rawvideo", "-pix_fmt", "yuv420p", "pipe:1"],
        input=stream, capture_output=True, check=True,
    ).stdout
    n = 32 * 32
    assert (np.frombuffer(out[:n], np.uint8).reshape(32, 32) == ry).all()


def test_chroma_dc_dequant_magnitude():
    """Regression pin for the chroma DC x16 dequant bug: a constant
    nonzero chroma residual must survive the DC-Hadamard quant round
    trip at QP 0 (the old >>5 shrank every chroma DC by 16x; all
    fixtures carried zero chroma residual so only lossy error bounds
    could have seen it)."""
    import numpy as np

    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        decode_h264_frame, encode_h264_i16x16,
    )

    for cval in (100, 37, 201):
        c = np.full((8, 8), cval, np.uint8)
        st, _, rcb, _ = encode_h264_i16x16(
            np.full((16, 16), 128, np.uint8), c, c.copy(), qp=0
        )
        dec = decode_h264_frame(st)
        assert int(dec[1][0, 0]) == cval  # DC-only residual, exact
        assert int(rcb[0, 0]) == cval
    # random planes: QP0 chroma error bounded by quant rounding, not 16x
    rng = np.random.default_rng(3)
    cb = rng.integers(0, 256, (16, 16), np.uint8)
    cr = rng.integers(0, 256, (16, 16), np.uint8)
    y = rng.integers(0, 256, (32, 32), np.uint8)
    st, _, _, _ = encode_h264_i16x16(y, cb, cr, qp=0)
    d = decode_h264_frame(st)
    assert np.abs(d[1].astype(int) - cb.astype(int)).max() <= 2
    assert np.abs(d[2].astype(int) - cr.astype(int)).max() <= 2


# --- r11: non-DC Intra_16x16 and chroma prediction modes -------------------


def test_i16_all_pred_and_chroma_modes_roundtrip():
    """r11: luma V/H/DC/Plane x chroma DC/H/V/Plane — every combo
    encodes with per-MB edge fallback and round-trips bit-exactly;
    distinct modes give distinct reconstructions at lossy QP."""
    import itertools

    rng = np.random.default_rng(5)
    y = rng.integers(0, 256, (48, 48), np.uint8)
    cb = rng.integers(0, 256, (24, 24), np.uint8)
    cr = rng.integers(0, 256, (24, 24), np.uint8)
    outs = {}
    for pm, cm in itertools.product(range(4), range(4)):
        st, ry, rcb, rcr = encode_h264_i16x16(
            y, cb, cr, qp=40, pred_mode=pm, chroma_mode=cm
        )
        dy, dcb, dcr = decode_h264_frame(st)
        np.testing.assert_array_equal(dy, ry)
        np.testing.assert_array_equal(dcb, rcb)
        np.testing.assert_array_equal(dcr, rcr)
        outs[(pm, cm)] = (ry, rcb, rcr)
    for a, b in itertools.combinations(outs, 2):
        assert any(
            not np.array_equal(x, z)
            for x, z in zip(outs[a], outs[b])
        ), (a, b)


def test_chroma_plane_known_answer():
    """8.3.4.4 chroma Plane formula pinned against a scalar
    re-derivation on a known neighbor profile."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        _pred8_chroma,
    )

    plane = np.zeros((16, 16), np.int64)
    top = [10, 12, 15, 17, 20, 22, 25, 27]
    left = [10, 13, 16, 19, 22, 25, 28, 31]
    plane[7, 7] = 9  # corner p[-1,-1]
    plane[7, 8:16] = top
    plane[8:16, 7] = left
    got = _pred8_chroma(plane, 1, 1, 3)
    tl = 9
    trx = [tl] + top
    hh = sum((x + 1) * (top[4 + x] - trx[3 - x]) for x in range(4))
    lfy = [tl] + left
    vv = sum((yv + 1) * (left[4 + yv] - lfy[3 - yv]) for yv in range(4))
    a = 16 * (top[7] + left[7])
    b = (34 * hh + 32) >> 6
    c = (34 * vv + 32) >> 6
    for yy in range(8):
        for xx in range(8):
            want = max(0, min(255,
                              (a + b * (xx - 3) + c * (yy - 3) + 16) >> 5))
            assert got[yy, xx] == want, (yy, xx)


def test_i16_edge_fallback_modes():
    """Directional modes fall back to DC where neighbors are missing
    (first row/column) and the emitted syntax matches — pinned by
    the round trip over a picture whose every MB sits on an edge."""
    rng = np.random.default_rng(9)
    y = rng.integers(0, 256, (16, 48), np.uint8)  # single MB row
    cb = rng.integers(0, 256, (8, 24), np.uint8)
    for pm, cm in ((0, 2), (1, 1), (3, 3)):
        st, ry, rcb, rcr = encode_h264_i16x16(
            y, cb, cb.copy(), qp=20, pred_mode=pm, chroma_mode=cm
        )
        dy, dcb, dcr = decode_h264_frame(st)
        np.testing.assert_array_equal(dy, ry)
        np.testing.assert_array_equal(dcb, rcb)
