"""H.264 inter (P-slice): interpolation identities, MV prediction,
bit-exact sequence round trips, skip handling, gates, ffmpeg pin."""

from __future__ import annotations

import shutil
import subprocess

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    _CBP_INTER,
    _MvState,
    decode_h264_sequence,
    encode_h264_p_sequence,
    interp_chroma,
    interp_luma,
)


def _rand_frames(seed, h, w):
    rng = np.random.default_rng(seed)
    mk = lambda hh, ww: rng.integers(0, 256, (hh, ww), np.uint8)
    return (
        (mk(h, w), mk(h // 2, w // 2), mk(h // 2, w // 2)),
        (mk(h, w), mk(h // 2, w // 2), mk(h // 2, w // 2)),
    )


def _rand_specs(rng, mbw, mbh, modes=("16x16", "16x8", "8x16")):
    specs = []
    for i in range(mbw * mbh):
        m = modes[i % len(modes)]
        n = 1 if m == "16x16" else 2
        specs.append(
            (m, [tuple(int(v) for v in rng.integers(-17, 18, 2))
                 for _ in range(n)])
        )
    return specs


def test_cbp_inter_table_is_a_permutation():
    assert sorted(_CBP_INTER) == list(range(48))


def test_interp_full_pel_is_shift():
    rng = np.random.default_rng(1)
    ref = np.pad(rng.integers(0, 256, (32, 32)).astype(np.int64), 32,
                 mode="edge")
    for dx, dy in ((0, 0), (4, -8), (-12, 16)):
        got = interp_luma(ref, 32 + 4, 32 + 4, 8, 8, dx * 4, dy * 4)
        want = ref[36 + dy : 44 + dy, 36 + dx : 44 + dx]
        np.testing.assert_array_equal(got, want)
        gotc = interp_chroma(ref, 32 + 4, 32 + 4, 8, 8, dx * 8, dy * 8)
        np.testing.assert_array_equal(gotc, want)


def test_interp_half_pel_six_tap_scalar():
    """Pin one half-pel value against the scalar 6-tap formula."""
    rng = np.random.default_rng(2)
    ref = np.pad(rng.integers(0, 256, (16, 16)).astype(np.int64), 32,
                 mode="edge")
    y, x = 36, 38
    got = interp_luma(ref, y, x, 1, 1, 2, 0)[0, 0]
    row = ref[y, x - 2 : x + 4]
    want = np.clip(
        (row[0] - 5 * row[1] + 20 * row[2] + 20 * row[3] - 5 * row[4]
         + row[5] + 16) >> 5, 0, 255,
    )
    assert got == want
    # center j: 6-tap of UN-rounded horizontal half values
    got_j = interp_luma(ref, y, x, 1, 1, 2, 2)[0, 0]
    hh = [
        int(ref[yy, x - 2] - 5 * ref[yy, x - 1] + 20 * ref[yy, x]
            + 20 * ref[yy, x + 1] - 5 * ref[yy, x + 2] + ref[yy, x + 3])
        for yy in range(y - 2, y + 4)
    ]
    want_j = np.clip(
        (hh[0] - 5 * hh[1] + 20 * hh[2] + 20 * hh[3] - 5 * hh[4] + hh[5]
         + 512) >> 10, 0, 255,
    )
    assert got_j == want_j


def test_mv_median_prediction():
    st = _MvState(4, 4)
    st.fill(0, 0, 4, 4, np.array([4, 8]))   # mb (0,0)
    st.fill(4, 0, 4, 4, np.array([12, -4]))  # mb (1,0)
    st.fill(8, 0, 4, 4, np.array([0, 0]))    # mb (2,0)
    # mb (1,1): A=(0,0) unavail (col 0 of row 1 not filled yet)...
    st.fill(0, 4, 4, 4, np.array([-8, 4]))   # mb (0,1)
    # predictor for mb (1,1): A=(-8,4), B=(12,-4), C=(0,0)
    got = st.predict(4, 4, 4)
    np.testing.assert_array_equal(got, np.median(
        np.array([[-8, 4], [12, -4], [0, 0]]), axis=0).astype(int))
    # only-A rule: fresh state, only left neighbor known
    st2 = _MvState(4, 4)
    st2.fill(0, 4, 4, 4, np.array([6, -2]))
    np.testing.assert_array_equal(st2.predict(4, 4, 4), [6, -2])


@pytest.mark.parametrize("qp", [0, 12, 26, 40, 51])
def test_sequence_roundtrip_bit_exact(qp):
    f0, f1 = _rand_frames(40 + qp, 48, 64)
    rng = np.random.default_rng(qp)
    specs = _rand_specs(rng, 4, 3)
    stream, rec0, rec1 = encode_h264_p_sequence(f0, f1, specs, qp=qp)
    frames = decode_h264_sequence(stream)
    assert len(frames) == 2
    for pi in range(3):
        np.testing.assert_array_equal(frames[0][pi], rec0[pi])
        np.testing.assert_array_equal(frames[1][pi], rec1[pi])


def test_quarter_pel_fractions_all_roundtrip():
    """Every (fx, fy) quarter-pel fraction combination flows through
    at least one partition and the stream still round-trips."""
    f0, f1 = _rand_frames(9, 64, 64)
    specs = []
    fracs = [(fx, fy) for fx in range(4) for fy in range(4)]
    for i in range(16):
        fx, fy = fracs[i]
        specs.append(("16x16", [(8 + fx, -8 + fy)]))
    stream, _, rec1 = encode_h264_p_sequence(f0, f1, specs, qp=24)
    frames = decode_h264_sequence(stream)
    for pi in range(3):
        np.testing.assert_array_equal(frames[1][pi], rec1[pi])


def test_skip_runs_roundtrip():
    f0, _ = _rand_frames(7, 48, 48)
    specs = [("skip",), ("16x16", [(4, -4)]), ("skip",),
             ("16x8", [(0, 0), (8, 4)]), ("skip",), ("skip",),
             ("8x16", [(-4, 0), (2, 3)]), ("skip",), ("skip",)]
    stream, _, rec1 = encode_h264_p_sequence(f0, f0, specs, qp=20)
    frames = decode_h264_sequence(stream)
    for pi in range(3):
        np.testing.assert_array_equal(frames[1][pi], rec1[pi])
    # all-skip
    stream, _, rec1 = encode_h264_p_sequence(
        f0, f0, [("skip",)] * 9, qp=20
    )
    frames = decode_h264_sequence(stream)
    for pi in range(3):
        np.testing.assert_array_equal(frames[1][pi], rec1[pi])


def test_gates_raise():
    f0, f1 = _rand_frames(3, 32, 32)
    with pytest.raises(NotImplementedError, match="B slices"):
        encode_h264_p_sequence(f0, f1, [("16x4", [(0, 0)])] * 4)
    with pytest.raises(ValueError, match="16"):
        encode_h264_p_sequence(
            (f0[0][:24], f0[1][:12], f0[2][:12]), f1,
            [("16x16", [(0, 0)])] * 2,
        )
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    with pytest.raises(ValueError, match="num_refs"):
        # r11: 3+ references are supported; 16 overruns the 4-bit
        # frame_num sliding window and must still be rejected
        encode_h264_p_gop([f0, f1], [[("16x16", [(0, 0)])] * 4],
                          num_refs=16)
    with pytest.raises(ValueError, match="ref_idx"):
        encode_h264_p_gop(
            [f0, f1], [[("16x16", [((0, 0), 1)])] * 4], num_refs=2
        )


@pytest.mark.skipif(shutil.which("ffmpeg") is None, reason="no ffmpeg")
def test_inter_ffmpeg_cross_pin(tmp_path):
    """libavcodec must reconstruct both frames exactly (loop filter
    disabled in every slice header)."""
    f0, f1 = _rand_frames(11, 32, 48)
    rng = np.random.default_rng(5)
    specs = _rand_specs(rng, 3, 2)
    stream, rec0, rec1 = encode_h264_p_sequence(f0, f1, specs, qp=28)
    src = tmp_path / "t.h264"
    src.write_bytes(stream)
    out = tmp_path / "t.yuv"
    subprocess.run(
        ["ffmpeg", "-v", "error", "-i", str(src), "-f", "rawvideo",
         "-pix_fmt", "yuv420p", str(out)],
        check=True,
    )
    raw = out.read_bytes()
    h, w = rec0[0].shape
    fsz = h * w * 3 // 2
    assert len(raw) == 2 * fsz
    for fi, rec in ((0, rec0), (1, rec1)):
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


# --- r9 extension: P_8x8 / intra-in-P / multi-ref ---------------------------


def _rand_sub_specs(rng, mbw, mbh, nra=1, with_i16=True):
    """Random mixed MB specs exercising every partition shape, every
    sub_mb_type, quarter-pel fractions, intra-in-P and per-partition
    ref_idx (when nra == 2)."""
    submodes = ("8x8", "8x4", "4x8", "4x4")
    nsub = {"8x8": 1, "8x4": 2, "4x8": 2, "4x4": 4}
    specs = []
    for i in range(mbw * mbh):
        pick = int(rng.integers(0, 6 if with_i16 else 5))
        mv = lambda: tuple(int(v) for v in rng.integers(-17, 18, 2))
        rf = lambda: int(rng.integers(0, nra))
        if pick == 0:
            specs.append(("skip",))
        elif pick == 1:
            specs.append(("16x16", [(mv(), rf())]))
        elif pick == 2:
            specs.append(("16x8", [(mv(), rf()), (mv(), rf())]))
        elif pick == 3:
            specs.append(("8x16", [(mv(), rf()), (mv(), rf())]))
        elif pick == 4:
            subs = []
            for k in range(4):
                sm = submodes[int(rng.integers(0, 4))]
                subs.append((sm, [mv() for _ in range(nsub[sm])], rf()))
            specs.append(("8x8", subs))
        else:
            specs.append(("i16",))
    return specs


@pytest.mark.parametrize("qp", [0, 18, 33])
def test_p8x8_intra_in_p_roundtrip(qp):
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    rng = np.random.default_rng(100 + qp)
    f0, f1 = _rand_frames(200 + qp, 48, 48)
    specs = _rand_sub_specs(rng, 3, 3, nra=1)
    stream, recons = encode_h264_p_gop([f0, f1], [specs], qp=qp)
    frames = decode_h264_sequence(stream)
    assert len(frames) == 2
    for fi in range(2):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)


@pytest.mark.parametrize("qp", [0, 26])
def test_multi_ref_gop_roundtrip(qp):
    """3-frame GOP at num_refs=2: the last P frame mixes ref_idx 0/1
    per partition (te(v) coded) across every partition shape."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    rng = np.random.default_rng(300 + qp)
    f0, f1 = _rand_frames(400 + qp, 48, 32)
    f2 = _rand_frames(500 + qp, 48, 32)[0]
    specs1 = _rand_sub_specs(rng, 2, 3, nra=1)
    specs2 = _rand_sub_specs(rng, 2, 3, nra=2)
    stream, recons = encode_h264_p_gop(
        [f0, f1, f2], [specs1, specs2], qp=qp, num_refs=2
    )
    frames = decode_h264_sequence(stream)
    assert len(frames) == 3
    for fi in range(3):
        for a, b in zip(frames[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)


def test_ref1_actually_selects_the_older_frame():
    """A P2 macroblock at ref_idx 1 with zero MV and zero residual
    must reproduce the ANCHOR's pixels, not P1's."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    y0 = np.full((16, 16), 50, np.uint8)
    y1 = np.full((16, 16), 200, np.uint8)
    c = np.full((8, 8), 128, np.uint8)
    f0 = (y0, c, c.copy())
    f1 = (y1, c.copy(), c.copy())
    # P2 target == anchor content, predicted from ref 1 (the anchor)
    f2 = (y0.copy(), c.copy(), c.copy())
    stream, recons = encode_h264_p_gop(
        [f0, f1, f2],
        [[("16x16", [(0, 0)])], [("16x16", [((0, 0), 1)])]],
        qp=0, num_refs=2,
    )
    frames = decode_h264_sequence(stream)
    np.testing.assert_array_equal(frames[2][0], frames[0][0])
    assert not np.array_equal(frames[2][0], frames[1][0])


def test_intra_in_p_neighbors_unavailable_for_mv_pred():
    """An intra MB between two inter MBs: the right MB's median
    predictor must treat the intra neighbor as mv (0,0) / refIdx -1
    (not trigger the only-A rule), pinned by bit-exact round trip."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    f0, f1 = _rand_frames(77, 16, 48)
    specs = [("16x16", [(8, 4)]), ("i16",), ("16x16", [(-4, 8)])]
    stream, recons = encode_h264_p_gop([f0, f1], [specs], qp=12)
    frames = decode_h264_sequence(stream)
    for a, b in zip(frames[1], recons[1]):
        np.testing.assert_array_equal(a, b)


def test_sub_partition_zscan_mv_prediction_roundtrip():
    """All-4x4 P_8x8 macroblocks: sixteen chained sub-partition
    predictions per MB, each depending on z-scan decode order —
    any predictor divergence breaks the bit-exact round trip."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    rng = np.random.default_rng(9)
    f0, f1 = _rand_frames(88, 32, 32)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    specs = [
        ("8x8", [("4x4", [mv() for _ in range(4)]) for _ in range(4)])
        for _ in range(4)
    ]
    stream, recons = encode_h264_p_gop([f0, f1], [specs], qp=20)
    frames = decode_h264_sequence(stream)
    for a, b in zip(frames[1], recons[1]):
        np.testing.assert_array_equal(a, b)


@pytest.mark.skipif(shutil.which("ffmpeg") is None, reason="no ffmpeg")
def test_gop_ffmpeg_cross_pin(tmp_path):
    """libavcodec must reproduce the 3-frame multi-ref GOP with
    P_8x8 sub-partitions and intra-in-P macroblocks exactly."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    rng = np.random.default_rng(123)
    f0, f1 = _rand_frames(321, 32, 48)
    f2 = _rand_frames(654, 32, 48)[0]
    specs1 = _rand_sub_specs(rng, 3, 2, nra=1)
    specs2 = _rand_sub_specs(rng, 3, 2, nra=2)
    stream, recons = encode_h264_p_gop(
        [f0, f1, f2], [specs1, specs2], qp=28, num_refs=2
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
    for fi, rec in enumerate(recons):
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


def test_e13_shard_pack_decode_and_corruption():
    """Pack GOP blobs into a ustar shard, decode back, and verify a
    single flipped byte anywhere in a member breaks the decode or
    changes the digest (the e13 pipeline's verification property)."""
    import hashlib

    import pandas as pd

    from neuroimaging_data_pipeline_spark.multimodal.h264_gop_helpers import (  # noqa: E501
        pack_gop_shard,
    )
    from neuroimaging_data_pipeline_spark.multimodal.tar import parse_tar

    # build three tiny GOP blobs via the encoder directly
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    blobs = []
    for i in range(3):
        y0 = np.full((16, 16), 40 + 10 * i, np.uint8)
        y1 = np.full((16, 16), 60 + 10 * i, np.uint8)
        c = np.full((8, 8), 128, np.uint8)
        stream, _ = encode_h264_p_gop(
            [(y0, c, c.copy()), (y1, c.copy(), c.copy())],
            [[("16x16", [(0, 0)])]], qp=0,
        )
        blobs.append(stream)
    pdf = pd.DataFrame(
        {"shard_id": [0, 0, 0], "doc_id": [2, 0, 1],
         "content": [blobs[2], blobs[0], blobs[1]]}
    )
    out = pack_gop_shard(pdf)
    tar = bytes(out["tar"].iloc[0])
    members = parse_tar(tar)
    assert [m[0] for m in members] == [
        "00000000.h264", "00000001.h264", "00000002.h264"
    ]  # ascending doc order regardless of input order
    sums = []
    for name, data in members:
        frames = decode_h264_sequence(bytes(data))
        sums.append(int(frames[-1][0].sum()))
    assert sums == [256 * 60, 256 * 70, 256 * 80]
    digest = hashlib.md5(
        "|".join(f"{i}:{s}" for i, s in enumerate(sums)).encode()
    ).hexdigest()
    # corrupt one payload byte of member 1 inside the tar
    pos = tar.index(blobs[1][40:56])  # unique run inside member 1
    bad = bytearray(tar)
    bad[pos + 3] ^= 0x40
    try:
        sums2 = []
        for name, data in parse_tar(bytes(bad)):
            frames = decode_h264_sequence(bytes(data))
            sums2.append(int(frames[-1][0].sum()))
        digest2 = hashlib.md5(
            "|".join(f"{i}:{s}" for i, s in enumerate(sums2)).encode()
        ).hexdigest()
        assert digest2 != digest
    except (ValueError, NotImplementedError):
        pass  # loud decode failure is equally acceptable


def test_i4x4_inside_p_slices():
    """I_4x4 macroblocks (mb_type 5) mixed with inter MBs in a P
    slice: per-4x4 chained prediction with prev-mode flags, neighbor
    modes from non-I4x4 MBs treated as DC, bit-exact round trip."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    rng = np.random.default_rng(17)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    for qp in (0, 24, 39):
        f0, f1 = _rand_frames(170 + qp, 32, 48)
        specs = [("i4",), ("16x16", [mv()]), ("i4", 4), ("skip",),
                 ("i16",), ("i4", 8)]
        st, recons = encode_h264_p_gop([f0, f1], [specs], qp=qp)
        fr = decode_h264_sequence(st)
        for a, b in zip(fr[1], recons[1]):
            np.testing.assert_array_equal(a, b)


def test_ipcm_inside_p_slices_is_lossless():
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    rng = np.random.default_rng(23)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, f1 = _rand_frames(230, 32, 48)
    specs = [("ipcm",), ("16x16", [mv()]), ("i4",), ("skip",),
             ("ipcm",), ("i16",)]
    st, recons = encode_h264_p_gop([f0, f1], [specs], qp=27)
    fr = decode_h264_sequence(st)
    for a, b in zip(fr[1], recons[1]):
        np.testing.assert_array_equal(a, b)
    # PCM macroblocks reproduce the TARGET exactly at any QP
    np.testing.assert_array_equal(fr[1][0][:16, :16], f1[0][:16, :16])
    np.testing.assert_array_equal(fr[1][1][:8, :8], f1[1][:8, :8])


def test_weighted_p_slices():
    """Explicit weighted prediction in P slices (weighted_pred_flag):
    per-reference weight/offset pairs applied to every partition —
    skip, 8x8 sub-partitions and multi-ref included — with the
    8.4.2.3.2 uni formula pinned on constant planes."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    rng = np.random.default_rng(6)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, f1 = _rand_frames(260, 32, 48)
    f2 = _rand_frames(261, 32, 48)[0]
    w = {"luma_denom": 5, "chroma_denom": 3,
         "refs": [{"wy": 40, "oy": -4, "wc": 10, "oc": 3},
                  {"wy": 20, "oy": 6}]}
    specs1 = [("16x16", [mv()]), ("skip",),
              ("8x8", [("4x4", [mv()] * 4), ("8x8", [mv()]),
                       ("8x4", [mv(), mv()]), ("4x8", [mv(), mv()])]),
              ("i16",), ("16x8", [mv(), mv()]), ("i4",)]
    specs2 = [("16x16", [(mv(), 1)]), ("16x16", [(mv(), 0)]),
              ("skip",),
              ("8x8", [("8x8", [mv()], 1), ("8x8", [mv()], 0),
                       ("4x4", [mv()] * 4, 1),
                       ("8x4", [mv(), mv()], 0)]),
              ("ipcm",), ("8x16", [(mv(), 0), (mv(), 1)])]
    st, recons = encode_h264_p_gop(
        [f0, f1, f2], [specs1, specs2], qp=21, num_refs=2, weights=w
    )
    fr = decode_h264_sequence(st)
    for fi in range(3):
        for a, b in zip(fr[fi], recons[fi]):
            np.testing.assert_array_equal(a, b)
    # formula pin
    c = np.full((8, 8), 128, np.uint8)
    f0c = (np.full((16, 16), 100, np.uint8), c, c.copy())
    ld, wy, oy = 5, 40, -4
    want = int(np.clip(((100 * wy + (1 << (ld - 1))) >> ld) + oy, 0, 255))
    f1c = (np.full((16, 16), want, np.uint8), c.copy(), c.copy())
    w2 = {"luma_denom": ld, "chroma_denom": 0,
          "refs": [{"wy": wy, "oy": oy}]}
    st2, _ = encode_h264_p_gop(
        [f0c, f1c], [[("16x16", [(0, 0)])]], qp=0, weights=w2
    )
    fr2 = decode_h264_sequence(st2)
    assert fr2[1][0].min() == fr2[1][0].max() == want


def test_weighted_p_wcr_only_roundtrip():
    """ADVICE r9: a weights entry giving wcr but no wc must decode to
    the encoder recon — the writer emits Cb weight = wcr into the
    bitstream (one chroma_weight_flag covers both planes), so the
    resolver must predict Cb with wcr too."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    rng = np.random.default_rng(77)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
    f0, f1 = _rand_frames(301, 32, 48)
    w = {"luma_denom": 4, "chroma_denom": 3,
         "refs": [{"wy": 20, "oy": 2, "wcr": 12, "ocr": -2}]}
    specs = [("16x16", [mv()]), ("skip",), ("16x8", [mv(), mv()]),
             ("8x8", [("8x8", [mv()]), ("4x4", [mv()] * 4),
                      ("8x4", [mv(), mv()]), ("4x8", [mv(), mv()])]),
             ("i16",), ("16x16", [mv()])]
    st, recons = encode_h264_p_gop([f0, f1], [specs], qp=24, weights=w)
    fr = decode_h264_sequence(st)
    for a, b in zip(fr[1], recons[1]):
        np.testing.assert_array_equal(a, b)
    # formula pin: Cb is weighted with wcr (= the emitted wcb), not
    # the default 1 << chroma_denom
    cd, wcr, ocr = 3, 12, -2
    cb0 = np.full((8, 8), 200, np.uint8)
    f0c = (np.full((16, 16), 100, np.uint8), cb0, cb0.copy())
    want_c = int(np.clip(((200 * wcr + (1 << (cd - 1))) >> cd) + ocr,
                         0, 255))
    f1c = (np.full((16, 16), 100, np.uint8),
           np.full((8, 8), want_c, np.uint8),
           np.full((8, 8), want_c, np.uint8))
    w2 = {"luma_denom": 0, "chroma_denom": cd,
          "refs": [{"wcr": wcr, "ocr": ocr}]}
    st2, rec2 = encode_h264_p_gop(
        [f0c, f1c], [[("16x16", [(0, 0)])]], qp=0, weights=w2
    )
    fr2 = decode_h264_sequence(st2)
    for a, b in zip(fr2[1], rec2[1]):
        np.testing.assert_array_equal(a, b)
    assert fr2[1][1].min() == fr2[1][1].max() == want_c
    assert fr2[1][2].min() == fr2[1][2].max() == want_c


def test_weighted_p_distinct_cb_cr():
    """Distinct Cb/Cr explicit weights survive the round trip and hit
    the 8.4.2.3.2 per-plane formulas."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    cd = 2
    wc, oc, wcr, ocr = 6, 1, 10, -3
    cbv, crv = 120, 80
    f0 = (np.full((16, 16), 90, np.uint8),
          np.full((8, 8), cbv, np.uint8),
          np.full((8, 8), crv, np.uint8))
    want_cb = int(np.clip(((cbv * wc + (1 << (cd - 1))) >> cd) + oc,
                          0, 255))
    want_cr = int(np.clip(((crv * wcr + (1 << (cd - 1))) >> cd) + ocr,
                          0, 255))
    f1 = (np.full((16, 16), 90, np.uint8),
          np.full((8, 8), want_cb, np.uint8),
          np.full((8, 8), want_cr, np.uint8))
    w = {"luma_denom": 0, "chroma_denom": cd,
         "refs": [{"wc": wc, "oc": oc, "wcr": wcr, "ocr": ocr}]}
    st, rec = encode_h264_p_gop(
        [f0, f1], [[("16x16", [(0, 0)])]], qp=0, weights=w
    )
    fr = decode_h264_sequence(st)
    for a, b in zip(fr[1], rec[1]):
        np.testing.assert_array_equal(a, b)
    assert fr[1][1].min() == fr[1][1].max() == want_cb
    assert fr[1][2].min() == fr[1][2].max() == want_cr


def test_interp_mv_bounds_check():
    """Corrupt/hostile MVs that escape the _PAD apron raise ValueError
    instead of silently wrapping with negative slice indices."""
    import pytest

    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        _PAD, interp_chroma, interp_luma,
    )

    plane = np.pad(np.zeros((32, 32), np.int64), _PAD, mode="edge")
    # in-bounds works
    interp_luma(plane, _PAD, _PAD, 16, 16, 0, 0)
    with pytest.raises(ValueError):
        interp_luma(plane, _PAD, _PAD, 16, 16, -4 * (_PAD + 1), 0)
    with pytest.raises(ValueError):
        interp_luma(plane, _PAD, _PAD, 16, 16, 0, 4 * (_PAD + 20))
    cplane = np.pad(np.zeros((16, 16), np.int64), _PAD // 2,
                    mode="edge")
    interp_chroma(cplane, _PAD // 2, _PAD // 2, 8, 8, 0, 0)
    with pytest.raises(ValueError):
        interp_chroma(cplane, _PAD // 2, _PAD // 2, 8, 8,
                      -8 * (_PAD // 2 + 1), 0)


def test_multiref_gop_roundtrip_num_refs_3():
    """r11: >2 reference frames — ref_idx_l0 coded ue(v) (true te(v)
    with range > 1), 5-frame GOP, every MB class, bit-exact round
    trip with and without in-loop deblocking."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        decode_h264_sequence,
        encode_h264_p_gop,
    )

    frames = [_rand_frames(400 + k, 32, 32)[0] for k in range(5)]
    specs = []
    for k in range(1, 5):
        nra = min(k, 3)
        specs.append([
            ("16x16", [((0, 0), (k + m) % nra)]) for m in range(4)
        ])
    # mix in P_8x8 / 16x8 / i16 / skip at frame 4
    specs[3] = [
        ("8x8", [("8x8", [(4, 0)], 2), ("4x4", [(0, 0)] * 4, 0),
                 ("8x4", [(0, 4), (4, 0)], 1),
                 ("4x8", [(1, 0), (0, 1)], 2)]),
        ("16x8", [((0, 0), 2), ((4, 4), 0)]),
        ("skip",), ("i16",),
    ]
    for deblock in (False, True):
        st, recons = encode_h264_p_gop(
            frames, specs, qp=24, num_refs=3, deblock=deblock
        )
        out = decode_h264_sequence(st)
        assert len(out) == 5
        for fr, rc in zip(out, recons):
            for a, b in zip(fr, rc):
                np.testing.assert_array_equal(a, b)


def test_multiref_cabac_roundtrip():
    """CABAC P slices at num_refs=3: unary ref_idx past two."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_cabac_inter import (  # noqa: E501
        decode_h264_cabac_p,
        encode_h264_cabac_p_gop,
        synthetic_p_init,
    )

    frames = [_rand_frames(500 + k, 32, 32)[0] for k in range(4)]
    specs = []
    for k in range(1, 4):
        nra = min(k, 3)
        specs.append([
            ("16x16", [((0, 0), (k + m) % nra)]) for m in range(4)
        ])
    table = synthetic_p_init(11)
    st, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=22, num_refs=3, init_table=table
    )
    out = decode_h264_cabac_p(st, init_table=table)
    for fr, rc in zip(out, recons):
        for a, b in zip(fr, rc):
            np.testing.assert_array_equal(a, b)


@pytest.mark.parametrize("slice_kind", ["p", "b"])
def test_corrupt_i4x4_cbp_in_inter_slice_raises_valueerror(slice_kind):
    """An I_4x4 macroblock inside a P or B slice whose
    coded_block_pattern codeNum is past Table 9-4 (ue 48) must fail
    with the same ValueError the I-slice decoder raises, not an
    IndexError from the table lookup."""
    from neuroimaging_data_pipeline_spark.bitio import BitWriter
    from neuroimaging_data_pipeline_spark.multimodal.h264 import _nal
    from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
        decode_h264_b_stream,
        encode_h264_b_sequence,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        _B,
        _P,
        _inter_slice_header,
        encode_h264_p_gop,
    )

    f0, f1 = _rand_frames(77, 16, 16)
    sl = BitWriter()
    if slice_kind == "p":
        stream, _ = encode_h264_p_gop([f0, f1], [[("skip",)]])
        decode = decode_h264_sequence
        _inter_slice_header(sl, _P, 26, frame_num=1, is_ref=False)
        intra_base = 5
    else:
        stream, _, _ = encode_h264_b_sequence(
            [("idr", f0), ("p", f1, [("skip",)], 4)]
        )
        decode = decode_h264_b_stream
        _inter_slice_header(sl, _B, 26, frame_num=2, poc_bits=6, poc=2,
                            is_ref=False)
        intra_base = 23
    decode(stream)  # sanity: the prefix decodes
    sl.ue(0)  # mb_skip_run
    sl.ue(intra_base)  # mb_type: I_4x4
    for _ in range(16):
        sl.u(1, 1)  # prev_intra4x4_pred_mode_flag
    sl.ue(0)  # intra_chroma_pred_mode
    sl.ue(48)  # coded_block_pattern codeNum: one past the table
    sl.u(0, 32)  # residual bits the parser never reaches
    sl.trailing()
    with pytest.raises(ValueError, match="coded_block_pattern"):
        decode(stream + _nal(0, 1, sl.bytes_()))


@pytest.mark.parametrize("slice_kind", ["p", "b"])
def test_pred_weight_table_out_of_range_raises(slice_kind):
    """7.4.3.2 bounds the log2 weight denominators to 0..7 and the
    weights and offsets to -128..127. A slice header carrying
    luma_log2_weight_denom 8 must be rejected by the decoder (an
    unbounded ue(v) there would feed 1 << denom into the sample
    arithmetic), and both encoders must reject such user weights."""
    from neuroimaging_data_pipeline_spark.bitio import BitWriter
    from neuroimaging_data_pipeline_spark.multimodal.h264 import _nal
    from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
        decode_h264_b_stream,
        encode_h264_b_sequence,
    )
    from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
        encode_h264_p_gop,
    )

    f0, f1 = _rand_frames(78, 16, 16)
    good = {"luma_denom": 1, "refs": [{"wy": 2}], "l0": {"wy": 2}}
    sl = BitWriter()
    if slice_kind == "p":
        def encode(w):
            return encode_h264_p_gop([f0, f1], [[("skip",)]], weights=w)[0]

        decode = decode_h264_sequence
        sl.ue(0)  # first_mb_in_slice
        sl.ue(5)  # slice_type P
        sl.ue(0)  # pic_parameter_set_id
        sl.u(2, 4)  # frame_num
        sl.u(0, 1)  # num_ref_idx_active_override_flag
        sl.u(0, 1)  # ref_pic_list_modification_flag_l0
    else:
        def encode(w):
            return encode_h264_b_sequence(
                [("idr", f0), ("p", f1, [("skip",)], 4)], weights=w)[0]

        decode = decode_h264_b_stream
        sl.ue(0)  # first_mb_in_slice
        sl.ue(6)  # slice_type B
        sl.ue(0)  # pic_parameter_set_id
        sl.u(2, 4)  # frame_num
        sl.u(2, 6)  # pic_order_cnt_lsb
        sl.u(1, 1)  # direct_spatial_mv_pred_flag
        sl.u(0, 3)  # no override, no list modification (l0, l1)
    stream = encode(good)
    decode(stream)  # sanity: the prefix decodes
    sl.ue(8)  # luma_log2_weight_denom: one past 7.4.3.2's range
    sl.ue(0)  # chroma_log2_weight_denom
    sl.u(0, 2 * (1 if slice_kind == "p" else 2))  # flag-0 entries
    if slice_kind == "p":
        sl.u(0, 1)  # adaptive_ref_pic_marking_mode_flag (reference P)
    sl.se(0)  # slice_qp_delta
    sl.ue(1)  # disable_deblocking_filter_idc
    sl.ue(1)  # mb_skip_run: the one macroblock
    sl.trailing()
    nal = _nal(2 if slice_kind == "p" else 0, 1, sl.bytes_())
    with pytest.raises(ValueError, match="log2_weight_denom"):
        decode(stream + nal)
    with pytest.raises(ValueError, match="log2_weight_denom"):
        encode(dict(good, luma_denom=8))
    with pytest.raises(ValueError, match="weight or offset"):
        encode(dict(good, refs=[{"wy": 2, "oy": 128}],
                    l0={"wy": 2, "oy": 128}))
