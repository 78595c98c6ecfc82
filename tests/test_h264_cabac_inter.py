"""CABAC P-slice machinery (multimodal/h264_cabac_inter.py): inter
binarizations, neighbor-context derivations, and full-slice round
trips through the shared arithmetic engine. The 9.3.1.1 P-column
init tables are a DATA gate — tests inject explicit synthetic tables
(any (m, n) assignment yields a self-consistent arithmetic code, so
these round trips pin the machinery, not the table values)."""

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
    _Dec,
    _dec_mb_qp_delta,
    _MbState,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac_inter import (
    P_CTX_IDS,
    decode_h264_cabac_p,
    encode_h264_cabac_p_gop,
    make_p_ctx,
    synthetic_p_init,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import _MbGrid
from tests.test_h264_stream_pins import _cabac_p_gop


def _planes(h, w, seed):
    r = np.random.default_rng(seed)
    return (
        r.integers(0, 256, (h, w), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
    )


def test_init_table_gate_is_loud():
    f = [_planes(32, 32, k) for k in range(2)]
    specs = [[("16x16", [(0, 0)])] * 4]
    with pytest.raises(NotImplementedError, match="init"):
        encode_h264_cabac_p_gop(f, specs, qp=20)
    with pytest.raises(NotImplementedError, match="init"):
        decode_h264_cabac_p(b"\x00\x00\x00\x01\x67")
    with pytest.raises(NotImplementedError, match="ctxIdx"):
        make_p_ctx(20, {11: (0, 64)})


@pytest.mark.parametrize("qp,seed", [(0, 1), (17, 2), (26, 3),
                                     (38, 4), (51, 5)])
def test_cabac_p_roundtrip_all_classes(qp, seed):
    """Every inter MB class in one slice — skip, 16x16, 16x8, 8x16,
    P_8x8 with all four sub types, quarter-pel MVs, two reference
    frames with te-style CABAC ref_idx — decodes bit-exactly."""
    rng = np.random.default_rng(seed)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    frames = [_planes(32, 48, seed + k) for k in range(3)]
    specs = [
        [("16x16", [mv()]) for _ in range(6)],
        [("8x8", [("8x8", [mv()]), ("4x4", [mv()] * 4),
                  ("8x4", [mv(), mv()]), ("4x8", [mv(), mv()])]),
         ("skip",), ("16x8", [mv(), mv()]),
         ("8x16", [mv(), mv()]),
         ("16x16", [(mv(), 1)]), ("16x16", [(mv(), 0)])],
    ]
    table = synthetic_p_init(seed)
    st, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=qp, num_refs=2, init_table=table
    )
    decoded = decode_h264_cabac_p(st, init_table=table)
    assert len(decoded) == 3
    for fr, rc in zip(decoded, recons):
        for a, b in zip(fr, rc):
            np.testing.assert_array_equal(a, b)


def test_large_mvd_hits_eg3_suffix():
    """|mvd| >= 9 exercises the UEG3 escape (EG3 bypass suffix)."""
    frames = [_planes(32, 32, 9), _planes(32, 32, 10)]
    # MVs large enough that mvd exceeds the TU prefix after median
    # prediction (first MB has predictor 0)
    specs = [[("16x16", [(48, -44)]), ("16x16", [(-52, 57)]),
              ("16x16", [(3, 2)]), ("16x16", [(100, -90)])]]
    table = synthetic_p_init(7)
    st, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=23, init_table=table
    )
    decoded = decode_h264_cabac_p(st, init_table=table)
    for a, b in zip(decoded[1], recons[1]):
        np.testing.assert_array_equal(a, b)


def test_skip_heavy_slice():
    """A slice that is mostly skips (the mb_skip_flag contexts see
    both neighbor classes)."""
    f0 = _planes(48, 48, 20)
    # target equal to the anchor so skip MBs are lossless
    frames = [f0, tuple(p.copy() for p in f0)]
    specs = [[("skip",)] * 8 + [("16x16", [(0, 0)])]]
    table = synthetic_p_init(3)
    st, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=30, init_table=table
    )
    decoded = decode_h264_cabac_p(st, init_table=table)
    for a, b in zip(decoded[1], recons[1]):
        np.testing.assert_array_equal(a, b)


def test_different_tables_desync():
    """Decoding with a different init table must NOT reproduce the
    encoder recon — proof the contexts actually drive the code."""
    frames = [_planes(32, 32, 30), _planes(32, 32, 31)]
    specs = [[("16x16", [(4, -4)]), ("16x8", [(0, 0), (8, 8)]),
              ("skip",), ("8x16", [(2, 2), (-2, -2)])]]
    st, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=25, init_table=synthetic_p_init(0)
    )
    try:
        decoded = decode_h264_cabac_p(
            st, init_table=synthetic_p_init(40)
        )
        same = all(
            np.array_equal(a, b)
            for a, b in zip(decoded[1], recons[1])
        )
        assert not same
    except (ValueError, NotImplementedError):
        pass  # desync detected as a parse error — equally conclusive


def test_ctx_id_coverage():
    """P_CTX_IDS covers every context the slice codecs touch."""
    s = set(P_CTX_IDS)
    for c in (11, 12, 13, 14, 15, 16, 21, 22, 23, 40, 46, 47, 53,
              54, 58, 59, 60, 63, 73, 84, 85, 104, 105, 226, 227,
              275):
        assert c in s


@pytest.mark.parametrize("qp", [0, 12, 26, 38, 51])
def test_intra_in_p_roundtrip(qp):
    """r11: Intra_16x16 macroblocks inside CABAC P slices — the
    mb_type intra prefix + suffix (ctx 17..20 with the mid-string
    terminate), chroma mode, qp_delta, cat-0/1 luma + chroma
    residuals through the INTRA coded_block_flag neighbor rule —
    bit-exact round trips across QPs, mixed with every inter class
    so both neighbor regimes border each other."""
    frames = [_planes(48, 32, 200 + qp), _planes(48, 32, 201 + qp),
              _planes(48, 32, 202 + qp)]
    specs = [
        [("i16",), ("16x16", [(4, -4)]), ("skip",),
         ("i16",), ("16x8", [(0, 0), (8, 8)]), ("i16",)],
        [("16x16", [(0, 4)]), ("i16",),
         ("8x8", [("8x8", [(1, 1)]), ("4x4", [(0, 0)] * 4),
                  ("8x4", [(2, 0), (0, 2)]),
                  ("4x8", [(1, 0), (0, 1)])]),
         ("skip",), ("i16",), ("8x16", [(2, 2), (-2, -2)])],
    ]
    table = synthetic_p_init(qp)
    st, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=qp, init_table=table
    )
    decoded = decode_h264_cabac_p(st, init_table=table)
    assert len(decoded) == 3
    for fr, rc in zip(decoded, recons):
        for a, b in zip(fr, rc):
            np.testing.assert_array_equal(a, b)


def test_intra_in_p_first_mb_and_full_intra_slice():
    """Corner placements: an intra MB at (0,0) (unavailable
    neighbors under the INTRA cbf rule) and a P slice that is
    entirely intra macroblocks."""
    frames = [_planes(32, 32, 300), _planes(32, 32, 301)]
    specs = [[("i16",)] * 4]
    table = synthetic_p_init(5)
    st, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=20, init_table=table
    )
    decoded = decode_h264_cabac_p(st, init_table=table)
    for fr, rc in zip(decoded, recons):
        for a, b in zip(fr, rc):
            np.testing.assert_array_equal(a, b)


def test_intra_in_p_ctx_coverage():
    """The intra-in-P contexts are part of P_CTX_IDS (an init table
    that omits them must be rejected loudly)."""
    s = set(P_CTX_IDS)
    for c in (17, 18, 19, 20, 64, 65, 66, 67):
        assert c in s
    table = synthetic_p_init(0)
    del table[17]
    frames = [_planes(32, 32, 1), _planes(32, 32, 2)]
    with pytest.raises(NotImplementedError, match="ctxIdx 17"):
        encode_h264_cabac_p_gop(
            frames, [[("i16",)] * 4], qp=20, init_table=table
        )


def test_skipped_last_mb_roundtrips():
    """A P_Skip in the picture's last macroblock is followed by
    end_of_slice_flag 1 (it used to get 0, and the frame mis-decoded
    without an error)."""
    frames = [_planes(32, 32, 40), _planes(32, 32, 41)]
    specs = [[("16x16", [(1, 0)]), ("16x16", [(0, 2)]),
              ("16x16", [(0, 0)]), ("skip",)]]
    table = synthetic_p_init(3)
    st, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=26, init_table=table
    )
    for fr, rc in zip(decode_h264_cabac_p(st, init_table=table), recons):
        for a, b in zip(fr, rc):
            np.testing.assert_array_equal(a, b)


def test_ref_idx_past_active_count_raises():
    """A spec ref_idx past the active references fails as the CAVLC
    encoder does, not with an IndexError from motion compensation."""
    frames = [_planes(32, 32, 50), _planes(32, 32, 51)]
    specs = [[("16x16", [((0, 0), 1)])] + [("skip",)] * 3]
    with pytest.raises(ValueError, match="ref_idx 1 out of range"):
        encode_h264_cabac_p_gop(frames, specs, qp=20, num_refs=2,
                                init_table=synthetic_p_init(0))


def test_corrupt_ref_idx_raises_valueerror():
    """A flip set in the P slices of the cabac_p_gop pin stream that
    decodes a ref_idx past the active count: ValueError, not an
    IndexError from motion compensation."""
    stream, _ = _cabac_p_gop()
    data = bytearray(stream)
    for i, bit in ((3988, 1), (2987, 4), (2897, 1)):
        data[i] ^= 1 << bit
    with pytest.raises(ValueError):
        decode_h264_cabac_p(bytes(data), init_table=synthetic_p_init(5))


@pytest.mark.parametrize("buf", ["e0724ff27297", "e4281cc22653"])
def test_mb_qp_delta_out_of_range_raises(buf):
    """mb_qp_delta bins spelling a value outside -26..+25 (7.4.5; these
    buffers read as 44 and -27 without the bound) raise ValueError."""
    st = _MbState(_MbGrid(1, 1))
    with pytest.raises(ValueError, match="mb_qp_delta"):
        _dec_mb_qp_delta(_Dec(bytes.fromhex(buf), 0),
                         make_p_ctx(51, synthetic_p_init(3)), st)
