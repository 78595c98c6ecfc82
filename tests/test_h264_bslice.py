"""H.264 B slices: bit-exact round trips across QPs and all 21
mb_types, bi-prediction averaging pin, POC-ordered reference
selection, gates, ffmpeg cross-pin (display-order reordered)."""

from __future__ import annotations

import shutil
import subprocess

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
    decode_h264_b_stream,
    encode_h264_b_sequence,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import _B_USES


def _planes(h, w, seed):
    r = np.random.default_rng(seed)
    return (
        r.integers(0, 256, (h, w), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
    )


def _rand_b_specs(rng, n_mbs, with_i16=True):
    mv = lambda: tuple(int(v) for v in rng.integers(-13, 14, 2))
    specs = []
    for i in range(n_mbs):
        pick = int(rng.integers(0, 22 if with_i16 else 21)) + 1
        if pick == 22:
            specs.append(("i16",))
            continue
        mode, uses = _B_USES[pick]
        parts = []
        for u in uses:
            if u == "bi":
                parts.append(("bi", mv(), mv()))
            else:
                parts.append((u, mv()))
        specs.append((mode, parts))
    return specs


@pytest.mark.parametrize("qp", [0, 20, 37])
def test_b_sequence_roundtrip_bit_exact(qp):
    rng = np.random.default_rng(qp)
    f0, fp, fb = (_planes(48, 48, 10 + qp), _planes(48, 48, 20 + qp),
                  _planes(48, 48, 30 + qp))
    specs_p = _rand_b_specs(rng, 9, with_i16=False)
    # P specs use the P language: translate l0/l1/bi picks to 16x16 l0
    specs_p = [("16x16", [tuple(int(v) for v in rng.integers(-9, 10, 2))])
               for _ in range(9)]
    specs_b = _rand_b_specs(rng, 9)
    stream, recons, pocs = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, specs_p, 4), ("b", fb, specs_b, 2)],
        qp=qp,
    )
    frames, dpocs = decode_h264_b_stream(stream)
    assert dpocs == pocs == [0, 4, 2]
    for fi in range(3):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)


def test_all_21_b_mb_types_roundtrip():
    rng = np.random.default_rng(5)
    f0, fp, fb = (_planes(48, 112, 1), _planes(48, 112, 2),
                  _planes(48, 112, 3))
    mv = lambda: tuple(int(v) for v in rng.integers(-13, 14, 2))
    specs_b = []
    for t in range(1, 22):
        mode, uses = _B_USES[t]
        parts = []
        for u in uses:
            if u == "bi":
                parts.append(("bi", mv(), mv()))
            else:
                parts.append((u, mv()))
        specs_b.append((mode, parts))
    stream, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(0, 0)])] * 21, 4),
         ("b", fb, specs_b, 2)], qp=14,
    )
    frames, _ = decode_h264_b_stream(stream)
    for fi in range(3):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)


def test_bi_prediction_is_rounded_average():
    """Constant references, zero MVs, target == rounded average:
    the B frame must decode with zero residual to (c0 + c1 + 1) >> 1
    on every plane."""
    c = np.full((8, 8), 128, np.uint8)
    f0 = (np.full((16, 16), 51, np.uint8), c, c.copy())
    fp = (np.full((16, 16), 200, np.uint8), c.copy(), c.copy())
    avg = (51 + 200 + 1) >> 1
    fb = (np.full((16, 16), avg, np.uint8), c.copy(), c.copy())
    stream, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(0, 0)])], 4),
         ("b", fb, [("16x16", [("bi", (0, 0), (0, 0))])], 2)], qp=0,
    )
    frames, _ = decode_h264_b_stream(stream)
    assert frames[2][0].min() == frames[2][0].max() == avg


def test_two_b_frames_between_references():
    rng = np.random.default_rng(7)
    f0, fp = _planes(32, 32, 4), _planes(32, 32, 5)
    fb1, fb2 = _planes(32, 32, 6), _planes(32, 32, 7)
    sb1 = _rand_b_specs(rng, 4)
    sb2 = _rand_b_specs(rng, 4)
    stream, recons, pocs = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(2, 2)])] * 4, 6),
         ("b", fb1, sb1, 2), ("b", fb2, sb2, 4)], qp=24,
    )
    frames, dpocs = decode_h264_b_stream(stream)
    assert dpocs == [0, 6, 2, 4]
    for fi in range(4):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)
    # display order = sorted by POC: idr, b1, b2, p
    assert [dpocs.index(p) for p in sorted(dpocs)] == [0, 2, 3, 1]


def test_b_gates_raise():
    f0, fp, fb = _planes(32, 32, 8), _planes(32, 32, 9), _planes(32, 32, 10)
    base = [("idr", f0), ("p", fp, [("16x16", [(0, 0)])] * 4, 4)]
    with pytest.raises(ValueError, match="unknown B macroblock mode"):
        encode_h264_b_sequence(
            base + [("b", fb, [("16x4", [])] * 4, 2)], qp=0
        )
    with pytest.raises(ValueError, match="past and one future"):
        encode_h264_b_sequence(
            base + [("b", fb, [("16x16", [("l0", (0, 0))])] * 4, 8)],
            qp=0,
        )


@pytest.mark.skipif(shutil.which("ffmpeg") is None, reason="no ffmpeg")
def test_b_ffmpeg_cross_pin(tmp_path):
    """libavcodec must reproduce the 3-frame B GOP exactly; ffmpeg
    emits display order, so compare after POC reordering."""
    rng = np.random.default_rng(42)
    f0, fp, fb = (_planes(32, 48, 11), _planes(32, 48, 12),
                  _planes(32, 48, 13))
    specs_b = _rand_b_specs(rng, 6)
    stream, recons, pocs = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(1, -1)])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=27,
    )
    src = tmp_path / "t.h264"
    src.write_bytes(stream)
    out = tmp_path / "t.yuv"
    subprocess.run(
        ["ffmpeg", "-v", "error", "-i", str(src), "-f", "rawvideo",
         "-pix_fmt", "yuv420p", str(out)],
        check=True,
    )
    raw = out.read_bytes()
    h, w = recons[0][0].shape
    fsz = h * w * 3 // 2
    assert len(raw) == 3 * fsz
    display = [recons[i] for i in np.argsort(pocs, kind="stable")]
    for fi, rec in enumerate(display):
        buf = raw[fi * fsz : (fi + 1) * fsz]
        fy = np.frombuffer(buf[: h * w], np.uint8).reshape(h, w)
        fcb = np.frombuffer(
            buf[h * w : h * w + h * w // 4], np.uint8
        ).reshape(h // 2, w // 2)
        fcr = np.frombuffer(buf[h * w + h * w // 4 :], np.uint8).reshape(
            h // 2, w // 2
        )
        np.testing.assert_array_equal(fy, rec[0])
        np.testing.assert_array_equal(fcb, rec[1])
        np.testing.assert_array_equal(fcr, rec[2])


# --- B_8x8 sub-macroblock partitions -----------------------------------------


def test_all_12_b_sub_mb_types_roundtrip():
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        _B_SUB_USES,
    )

    rng = np.random.default_rng(77)
    mv = lambda: tuple(int(v) for v in rng.integers(-13, 14, 2))
    nsub = {"8x8": 1, "8x4": 2, "4x8": 2, "4x4": 4}
    f0, fp, fb = (_planes(48, 64, 21), _planes(48, 64, 22),
                  _planes(48, 64, 23))
    specs_b = []
    for t in range(1, 13):
        use, sm = _B_SUB_USES[t]

        def mksub(use=use, sm=sm):
            if use == "bi":
                return (use, sm, [(mv(), mv()) for _ in range(nsub[sm])])
            return (use, sm, [mv() for _ in range(nsub[sm])])

        specs_b.append(("8x8", [mksub() for _ in range(4)]))
    stream, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(1, 1)])] * 12, 4),
         ("b", fb, specs_b, 2)], qp=19,
    )
    frames, _ = decode_h264_b_stream(stream)
    for fi in range(3):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)


def test_b8x8_mixed_with_other_mb_kinds():
    rng = np.random.default_rng(88)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 24), _planes(32, 48, 25),
                  _planes(32, 48, 26))
    specs_b = [
        ("8x8", [("bi", "4x4", [(mv(), mv()) for _ in range(4)]),
                 ("l0", "8x4", [mv(), mv()]),
                 ("l1", "4x8", [mv(), mv()]),
                 ("bi", "8x8", [(mv(), mv())])]),
        ("i16",),
        ("16x8", [("l0", mv()), ("bi", mv(), mv())]),
        ("8x8", [("l1", "4x4", [mv() for _ in range(4)]),
                 ("bi", "8x8", [(mv(), mv())]),
                 ("l0", "8x8", [mv()]),
                 ("l1", "8x4", [mv(), mv()])]),
        ("16x16", [("bi", mv(), mv())]),
        ("8x16", [("l1", mv()), ("l0", mv())]),
    ]
    stream, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(0, 0)])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=31,
    )
    frames, _ = decode_h264_b_stream(stream)
    for fi in range(3):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)


def test_bad_sub_mb_spec_raises():
    f0, fp, fb = (_planes(16, 16, 27), _planes(16, 16, 28),
                  _planes(16, 16, 29))
    with pytest.raises(ValueError, match="bad B sub_mb spec"):
        encode_h264_b_sequence(
            [("idr", f0), ("p", fp, [("16x16", [(0, 0)])], 4),
             ("b", fb, [("8x8", [("l0", "16x16", [])] * 4)], 2)],
            qp=0,
        )


# --- explicit weighted prediction --------------------------------------------


def test_explicit_weighted_prediction_roundtrip():
    rng = np.random.default_rng(15)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 31), _planes(32, 48, 32),
                  _planes(32, 48, 33))
    specs_b = [
        ("16x16", [("l0", mv())]),
        ("16x16", [("l1", mv())]),
        ("16x16", [("bi", mv(), mv())]),
        ("16x8", [("bi", mv(), mv()), ("l0", mv())]),
        ("8x8", [("bi", "4x4", [(mv(), mv()) for _ in range(4)]),
                 ("l0", "8x4", [mv(), mv()]),
                 ("l1", "4x8", [mv(), mv()]),
                 ("bi", "8x8", [(mv(), mv())])]),
        ("i16",),
    ]
    weights = {
        "luma_denom": 5, "chroma_denom": 4,
        "l0": {"wy": 40, "oy": -3, "wc": 20, "oc": 2},
        "l1": {"wy": 24, "oy": 5},  # chroma defaults for l1
    }
    stream, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(2, -2)])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=23, weights=weights,
    )
    frames, _ = decode_h264_b_stream(stream)
    for fi in range(3):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)


def test_explicit_wp_formula_pins():
    """Constant references + zero MVs: the decoded B macroblock must
    equal the 8.4.2.3.2 explicit formulas exactly (zero residual)."""
    c = np.full((8, 8), 100, np.uint8)
    f0 = (np.full((16, 16), 80, np.uint8), c, c.copy())
    fp = (np.full((16, 16), 160, np.uint8), c.copy(), c.copy())
    wy0, oy0, wy1, oy1, ld = 40, -3, 24, 5, 5
    w = {"luma_denom": ld, "chroma_denom": 0,
         "l0": {"wy": wy0, "oy": oy0}, "l1": {"wy": wy1, "oy": oy1}}
    want_bi = ((80 * wy0 + 160 * wy1 + (1 << ld)) >> (ld + 1)) + (
        (oy0 + oy1 + 1) >> 1
    )
    fb = (np.full((16, 16), want_bi, np.uint8), c.copy(), c.copy())
    st, _, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(0, 0)])], 4),
         ("b", fb, [("16x16", [("bi", (0, 0), (0, 0))])], 2)],
        qp=0, weights=w,
    )
    fr, _ = decode_h264_b_stream(st)
    assert fr[2][0].min() == fr[2][0].max() == want_bi
    want_l0 = ((80 * wy0 + (1 << (ld - 1))) >> ld) + oy0
    fbu = (np.full((16, 16), want_l0, np.uint8), c.copy(), c.copy())
    st2, _, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(0, 0)])], 4),
         ("b", fbu, [("16x16", [("l0", (0, 0))])], 2)],
        qp=0, weights=w,
    )
    fr2, _ = decode_h264_b_stream(st2)
    assert fr2[2][0].min() == fr2[2][0].max() == want_l0


# --- B_Skip / B_Direct_16x16 (spatial direct) --------------------------------


def test_b_skip_and_direct_roundtrip():
    rng = np.random.default_rng(99)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(48, 48, 41), _planes(48, 48, 42),
                  _planes(48, 48, 43))
    specs_p = [("16x16", [mv()]) for _ in range(9)]
    specs_b = [
        ("direct",), ("skip",), ("16x16", [("bi", mv(), mv())]),
        ("skip",), ("skip",), ("direct",),
        ("i16",), ("direct",), ("skip",),  # trailing skip run
    ]
    stream, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, specs_p, 4), ("b", fb, specs_b, 2)],
        qp=21,
    )
    frames, _ = decode_h264_b_stream(stream)
    for fi in range(3):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)
    # all-skip B frame
    stream2, recons2, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, specs_p, 4),
         ("b", fb, [("skip",)] * 9, 2)], qp=21,
    )
    frames2, _ = decode_h264_b_stream(stream2)
    for a, b in zip(frames2[2], recons2[2]):
        np.testing.assert_array_equal(a, b)


def test_spatial_direct_derivation_units():
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        _intra_motion, _MvState, _spatial_direct,
    )

    # no neighbors, intra colocated: directZeroPrediction — both
    # lists active with zero MVs
    s0, s1 = _MvState(2, 2), _MvState(2, 2)
    col = _intra_motion(2, 2)
    r0, r1, pairs = _spatial_direct(s0, s1, 0, 0, col)
    assert (r0, r1) == (0, 0)
    for m0, m1 in pairs:
        assert not m0.any() and not m1.any()

    # left neighbor L0 mv (8, 8): refIdxL0 = 0, refIdxL1 = -1;
    # colocated zero-motion ref-0 block forces mvL0 = 0, a moving
    # colocated block keeps the median predictor
    s0, s1 = _MvState(2, 1), _MvState(2, 1)
    s0.fill(0, 0, 4, 4, np.array([8, 8]), 0)
    s1.mark_off(0, 0, 4, 4)
    col_zero = _intra_motion(2, 1)
    col_zero["inter"][:, 4:] = True
    col_zero["ref"][:, 4:] = 0
    r0, r1, pairs = _spatial_direct(s0, s1, 1, 0, col_zero)
    assert r0 == 0 and r1 == -1
    for m0, _ in pairs:
        assert not m0.any()  # colZeroFlag forces zero
    col_move = _intra_motion(2, 1)
    col_move["inter"][:, 4:] = True
    col_move["ref"][:, 4:] = 0
    col_move["mv"][:, 4:] = [12, -8]
    r0, r1, pairs = _spatial_direct(s0, s1, 1, 0, col_move)
    for m0, _ in pairs:
        np.testing.assert_array_equal(m0, [8, 8])  # only-A median


@pytest.mark.skipif(shutil.which("ffmpeg") is None, reason="no ffmpeg")
def test_direct_ffmpeg_cross_pin(tmp_path):
    """libavcodec must reproduce skip/direct macroblocks exactly —
    the only cross-check of the spatial-direct DERIVATION itself
    (round trips share the derivation code)."""
    rng = np.random.default_rng(7)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 51), _planes(32, 48, 52),
                  _planes(32, 48, 53))
    specs_b = [("16x16", [("l0", mv())]), ("direct",), ("skip",),
               ("16x16", [("bi", mv(), mv())]), ("direct",), ("skip",)]
    stream, recons, pocs = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [mv()])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=26,
    )
    src = tmp_path / "t.h264"
    src.write_bytes(stream)
    out = tmp_path / "t.yuv"
    subprocess.run(
        ["ffmpeg", "-v", "error", "-i", str(src), "-f", "rawvideo",
         "-pix_fmt", "yuv420p", str(out)],
        check=True,
    )
    raw = out.read_bytes()
    h, w = recons[0][0].shape
    fsz = h * w * 3 // 2
    display = [recons[i] for i in np.argsort(pocs, kind="stable")]
    for fi, rec in enumerate(display):
        buf = raw[fi * fsz : (fi + 1) * fsz]
        fy = np.frombuffer(buf[: h * w], np.uint8).reshape(h, w)
        np.testing.assert_array_equal(fy, rec[0])


def test_temporal_direct_roundtrip_and_scaling():
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        _intra_motion, _temporal_direct,
    )

    rng = np.random.default_rng(31)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 61), _planes(32, 48, 62),
                  _planes(32, 48, 63))
    specs_b = [("direct",), ("skip",), ("16x16", [("bi", mv(), mv())]),
               ("skip",), ("direct",), ("i16",)]
    st, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [mv()])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=18, direct_mode="temporal",
    )
    fr, _ = decode_h264_b_stream(st)
    for fi in range(3):
        for a, b in zip(fr[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)
    # POC-midpoint scaling: tb=2, td=4 halves the colocated MV and
    # mvL1 = mvL0 - mvCol points back symmetrically
    col = _intra_motion(1, 1)
    col["inter"][:] = True
    col["ref"][:] = 0
    col["mv"][:, :] = [12, -8]
    pairs = _temporal_direct(0, 0, col, 2, 4)
    tx = (16384 + 2) // 4
    dsf = (2 * tx + 32) >> 6
    for m0, m1 in pairs:
        np.testing.assert_array_equal(
            m0, [(dsf * 12 + 128) >> 8, (dsf * -8 + 128) >> 8]
        )
        np.testing.assert_array_equal(m1, m0 - [12, -8])
    # intra colocated: zero motion both lists
    pairs0 = _temporal_direct(0, 0, _intra_motion(1, 1), 2, 4)
    for m0, m1 in pairs0:
        assert not m0.any() and not m1.any()


def test_b_direct_8x8_roundtrip_both_modes():
    rng = np.random.default_rng(3)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 71), _planes(32, 48, 72),
                  _planes(32, 48, 73))
    specs_b = [
        ("8x8", [("direct",), ("l0", "8x4", [mv(), mv()]),
                 ("direct",), ("bi", "8x8", [(mv(), mv())])]),
        ("16x16", [("l0", mv())]),
        ("8x8", [("direct",)] * 4),
        ("direct",),
        ("8x8", [("l1", "4x4", [mv()] * 4), ("direct",),
                 ("bi", "4x8", [(mv(), mv())] * 2), ("direct",)]),
        ("skip",),
    ]
    for dm in ("spatial", "temporal"):
        st, recons, _ = encode_h264_b_sequence(
            [("idr", f0), ("p", fp, [("16x16", [mv()])] * 6, 4),
             ("b", fb, specs_b, 2)], qp=17, direct_mode=dm,
        )
        fr, _ = decode_h264_b_stream(st)
        for fi in range(3):
            for a, b in zip(fr[fi], recons[fi]):
                np.testing.assert_array_equal(a, b)


def test_implicit_weighted_prediction():
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        _implicit_weights,
    )

    rng = np.random.default_rng(5)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 81), _planes(32, 48, 82),
                  _planes(32, 48, 83))
    specs_b = [("16x16", [("bi", mv(), mv())]), ("direct",), ("skip",),
               ("16x16", [("l0", mv())]),
               ("8x8", [("direct",), ("bi", "8x8", [(mv(), mv())]),
                        ("l1", "8x4", [mv(), mv()]), ("direct",)]),
               ("i16",)]
    st, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [mv()])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=19, weights="implicit",
    )
    fr, _ = decode_h264_b_stream(st)
    for fi in range(3):
        for a, b in zip(fr[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)
    # POC midpoint -> 32/32; asymmetric POC -> dsf >> 2 split
    assert (_implicit_weights(2, 4)["w0"],
            _implicit_weights(2, 4)["w1"]) == (32, 32)
    tx = (16384 + 2) // 4
    w1 = ((1 * tx + 32) >> 6) >> 2
    w = _implicit_weights(1, 4)
    assert (w["w0"], w["w1"]) == (64 - w1, w1)
    # equal POCs fall back to the average
    assert (_implicit_weights(2, 0)["w0"],
            _implicit_weights(2, 0)["w1"]) == (32, 32)
    # bi formula uses logWD 5: constant planes pin
    c = np.full((8, 8), 128, np.uint8)
    f0c = (np.full((16, 16), 60, np.uint8), c, c.copy())
    fpc = (np.full((16, 16), 180, np.uint8), c.copy(), c.copy())
    # B at poc 1 between 0 and 4: w0/w1 asymmetric
    want = (60 * (64 - w1) + 180 * w1 + 32) >> 6
    fbc = (np.full((16, 16), want, np.uint8), c.copy(), c.copy())
    st2, _, _ = encode_h264_b_sequence(
        [("idr", f0c), ("p", fpc, [("16x16", [(0, 0)])], 4),
         ("b", fbc, [("16x16", [("bi", (0, 0), (0, 0))])], 1)],
        qp=0, weights="implicit",
    )
    fr2, _ = decode_h264_b_stream(st2)
    assert fr2[2][0].min() == fr2[2][0].max() == want


def test_i4x4_inside_b_slices():
    rng = np.random.default_rng(19)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 91), _planes(32, 48, 92),
                  _planes(32, 48, 93))
    specs_b = [("i4",), ("direct",), ("16x16", [("bi", mv(), mv())]),
               ("i4", 6), ("skip",), ("i16",)]
    st, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [mv()])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=15,
    )
    fr, _ = decode_h264_b_stream(st)
    for fi in range(3):
        for a, b in zip(fr[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)


def test_ipcm_inside_b_slices_is_lossless():
    rng = np.random.default_rng(29)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 94), _planes(32, 48, 95),
                  _planes(32, 48, 96))
    specs_b = [("ipcm",), ("direct",), ("16x16", [("bi", mv(), mv())]),
               ("i4",), ("skip",), ("ipcm",)]
    st, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [mv()])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=33,
    )
    fr, _ = decode_h264_b_stream(st)
    for fi in range(3):
        for a, b in zip(fr[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)
    np.testing.assert_array_equal(fr[2][0][:16, :16], fb[0][:16, :16])


def test_b_wcr_only_and_distinct_chroma_weights():
    """ADVICE r9: wcr-only B weights round-trip (writer falls back
    wcb = wcr; the resolver must mirror it), and distinct Cb/Cr
    weights hit the per-plane bi formula exactly."""
    rng = np.random.default_rng(91)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, fp, fb = (_planes(32, 48, 71), _planes(32, 48, 72),
                  _planes(32, 48, 73))
    weights = {
        "luma_denom": 4, "chroma_denom": 3,
        "l0": {"wy": 20, "oy": 1, "wcr": 11, "ocr": -2},  # wcr only
        "l1": {"wy": 14, "oy": -1, "wc": 6, "oc": 0, "wcr": 9,
               "ocr": 2},  # distinct Cb/Cr
    }
    specs_b = [
        ("16x16", [("l0", mv())]),
        ("16x16", [("l1", mv())]),
        ("16x16", [("bi", mv(), mv())]),
        ("16x8", [("bi", mv(), mv()), ("l0", mv())]),
        ("8x8", [("bi", "8x8", [(mv(), mv())]),
                 ("l0", "8x4", [mv(), mv()]),
                 ("l1", "4x8", [mv(), mv()]),
                 ("bi", "4x4", [(mv(), mv()) for _ in range(4)])]),
        ("i16",),
    ]
    stream, recons, _ = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, [("16x16", [(1, -1)])] * 6, 4),
         ("b", fb, specs_b, 2)], qp=22, weights=weights,
    )
    frames, _ = decode_h264_b_stream(stream)
    for fi in range(3):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)
    # formula pin: uni-l0 Cb uses wcr (the emitted wcb), Cr uses wcr
    cd, wcr, ocr = 3, 11, -2
    c0 = np.full((8, 8), 192, np.uint8)
    f0c = (np.full((16, 16), 100, np.uint8), c0, c0.copy())
    fpc = (np.full((16, 16), 100, np.uint8), c0.copy(), c0.copy())
    want_c = int(np.clip(((192 * wcr + (1 << (cd - 1))) >> cd) + ocr,
                         0, 255))
    fbc = (np.full((16, 16), 100, np.uint8),
           np.full((8, 8), want_c, np.uint8),
           np.full((8, 8), want_c, np.uint8))
    w2 = {"luma_denom": 0, "chroma_denom": cd,
          "l0": {"wcr": wcr, "ocr": ocr}, "l1": {}}
    st2, rec2, _ = encode_h264_b_sequence(
        [("idr", f0c), ("p", fpc, [("16x16", [(0, 0)])], 4),
         ("b", fbc, [("16x16", [("l0", (0, 0))])], 2)],
        qp=0, weights=w2,
    )
    fr2, _ = decode_h264_b_stream(st2)
    for a, b in zip(fr2[2], rec2[2]):
        np.testing.assert_array_equal(a, b)
    assert fr2[2][1].min() == fr2[2][1].max() == want_c
    assert fr2[2][2].min() == fr2[2][2].max() == want_c


# --- r11: reference B pictures / B pyramid --------------------------------


def test_b_pyramid_roundtrip_all_modes():
    """Hierarchical GOP IDR(0) P(8) Bref(4) B(2) B(6): the reference
    B enters the DPB (nal_ref_idc 2, dec_ref_pic_marking) and later
    B pictures predict from it through both lists; bit-exact round
    trips across direct modes and with in-loop deblocking."""
    import numpy as np

    def planes(seed):
        r = np.random.default_rng(seed)
        return (r.integers(0, 256, (32, 32), np.uint8),
                r.integers(0, 256, (16, 16), np.uint8),
                r.integers(0, 256, (16, 16), np.uint8))

    f = {k: planes(700 + k) for k in range(5)}
    bi = lambda a=(0, 0), b=(0, 0): ("16x16", [("bi", a, b)])  # noqa: E731
    l0 = lambda mv=(0, 0): ("16x16", [("l0", mv)])  # noqa: E731
    l1 = lambda mv=(0, 0): ("16x16", [("l1", mv)])  # noqa: E731
    entries = [
        ("idr", f[0]),
        ("p", f[1], [("16x16", [(0, 0)])] * 4, 8),
        ("bref", f[2], [l0((4, 0)), bi((0, 4), (4, 4)), l1((-4, 0)),
                        ("i16",)], 4),
        ("b", f[3], [l0(), bi(), ("direct",), ("skip",)], 2),
        ("b", f[4], [l1((0, 4)), bi((4, 0), (0, 0)), l0(),
                     ("direct",)], 6),
    ]
    for dm in ("spatial", "temporal"):
        for deblock in (False, True):
            stream, recons, pocs = encode_h264_b_sequence(
                entries, qp=28, direct_mode=dm, deblock=deblock
            )
            frames, pocs2 = decode_h264_b_stream(stream)
            assert pocs2 == pocs == [0, 8, 4, 2, 6]
            for fa, fb in zip(recons, frames):
                for a, b in zip(fa, fb):
                    np.testing.assert_array_equal(a, b)


def test_b_pyramid_temporal_direct_reads_bref_motion():
    """Temporal direct in B(2) scales the COLOCATED (Bref) motion:
    a Bref with nonzero MVs must produce a different B(2) than a
    zero-MV Bref — proof the reference-B colocated view is wired,
    not silently zeroed."""
    import numpy as np

    def planes(seed):
        r = np.random.default_rng(seed)
        return (r.integers(0, 256, (32, 32), np.uint8),
                r.integers(0, 256, (16, 16), np.uint8),
                r.integers(0, 256, (16, 16), np.uint8))

    f = {k: planes(800 + k) for k in range(5)}

    def run(bref_mv):
        entries = [
            ("idr", f[0]),
            ("p", f[1], [("16x16", [(0, 0)])] * 4, 8),
            ("bref", f[2],
             [("16x16", [("l0", bref_mv)])] * 4, 4),
            ("b", f[3], [("direct",)] * 4, 2),
        ]
        stream, recons, _ = encode_h264_b_sequence(
            entries, qp=30, direct_mode="temporal"
        )
        frames, _ = decode_h264_b_stream(stream)
        for fa, fb in zip(recons, frames):
            for a, b in zip(fa, fb):
                np.testing.assert_array_equal(a, b)
        return frames[3]

    still = run((0, 0))
    moving = run((16, 8))
    assert any(
        not np.array_equal(a, b) for a, b in zip(still, moving)
    )


def test_ipcm_in_b_stream_p_frame_roundtrips():
    """An I_PCM macroblock in a P frame of a B stream round-trips: its
    pcm_alignment_zero_bits must fall where the decoder expects them
    behind a P slice header that carries pic_order_cnt_lsb."""
    f0, f1 = _planes(32, 32, 90), _planes(32, 32, 91)
    stream, recons, pocs = encode_h264_b_sequence(
        [("idr", f0),
         ("p", f1, [("ipcm",), ("skip",), ("skip",), ("skip",)], 2)]
    )
    frames, dpocs = decode_h264_b_stream(stream)
    assert dpocs == pocs == [0, 2]
    for got, want in zip(frames, recons):
        for a, b in zip(got, want):
            np.testing.assert_array_equal(a, b)
    # I_PCM is lossless
    np.testing.assert_array_equal(recons[1][0][:16, :16], f1[0][:16, :16])
