"""H.264 CABAC intra codec: engine round-trip, bit-exact recon
contract across QPs/modes, QP-0 exactness, gated ffmpeg cross-pin."""

from __future__ import annotations

import random
import shutil
import subprocess

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.bitio import BitWriter
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
    _CTX_INIT_I,
    _Ctx,
    _Dec,
    _Enc,
    decode_h264_cabac,
    encode_h264_cabac_intra,
)


def _planes(rng, h, w, flat_frac=0.0):
    """Random planes; flat_frac of 16x16 tiles forced constant so
    cbp=0 macroblocks sit next to textured ones (neighbor-context
    variety)."""
    y = rng.integers(0, 256, (h, w), dtype=np.uint8)
    cb = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    cr = rng.integers(0, 256, (h // 2, w // 2), dtype=np.uint8)
    if flat_frac:
        for my in range(h // 16):
            for mx in range(w // 16):
                if rng.random() < flat_frac:
                    y[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16] = 77
                    cb[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = 100
                    cr[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = 200
    return y, cb, cr


def test_engine_roundtrip_random_bins():
    """The arithmetic coder itself: a random interleaving of context
    decisions, bypass bins and mid-stream terminates decodes back
    bit-exactly."""
    rng = random.Random(7)
    ctx_ids = sorted(_CTX_INIT_I)
    for trial in range(20):
        ops = []
        for _ in range(rng.randrange(50, 600)):
            r = rng.random()
            if r < 0.6:
                ops.append(("d", rng.choice(ctx_ids), rng.randrange(2)))
            elif r < 0.9:
                ops.append(("b", None, rng.randrange(2)))
            else:
                ops.append(("t", None, 0))
        ops.append(("t", None, 1))
        qp = rng.randrange(52)
        w = BitWriter()
        enc = _Enc(w)
        ectx = _Ctx(qp)
        for kind, ctx, b in ops:
            if kind == "d":
                enc.decision(ectx, ctx, b)
            elif kind == "b":
                enc.bypass(b)
            else:
                enc.terminate(b)
        w.align_zero()
        data = w.bytes_()
        dec = _Dec(data, 0)
        dctx = _Ctx(qp)
        for kind, ctx, b in ops:
            if kind == "d":
                assert dec.decision(dctx, ctx) == b, (trial, kind, ctx)
            elif kind == "b":
                assert dec.bypass() == b, (trial, kind)
            else:
                assert dec.terminate() == b, (trial, kind)


@pytest.mark.parametrize("qp", [0, 10, 26, 38, 51])
def test_cabac_roundtrip_bit_exact(qp, rng):
    """decode(encode(planes)) equals the encoder's decoder-mirrored
    reconstruction exactly — the same contract the CAVLC encoders
    pin — on mixed I16/I4x4 CABAC slices."""
    y, cb, cr = _planes(np.random.default_rng(40 + qp), 48, 64)
    stream, ry, rcb, rcr = encode_h264_cabac_intra(y, cb, cr, qp=qp)
    dy, dcb, dcr = decode_h264_cabac(stream)
    np.testing.assert_array_equal(dy, ry)
    np.testing.assert_array_equal(dcb, rcb)
    np.testing.assert_array_equal(dcr, rcr)


@pytest.mark.parametrize("mode", list(range(9)))
def test_cabac_roundtrip_all_i4x4_modes(mode):
    y, cb, cr = _planes(np.random.default_rng(100 + mode), 32, 32)
    stream, ry, rcb, rcr = encode_h264_cabac_intra(
        y, cb, cr, qp=20, i4x4_mode=mode
    )
    dy, dcb, dcr = decode_h264_cabac(stream)
    np.testing.assert_array_equal(dy, ry)
    np.testing.assert_array_equal(dcb, rcb)
    np.testing.assert_array_equal(dcr, rcr)


def test_cabac_flat_and_textured_mix():
    """cbp=0 macroblocks interleaved with textured ones: exercises
    the zero-cbp CBP contexts and coded_block_flag inc=0 neighbors."""
    y, cb, cr = _planes(np.random.default_rng(9), 64, 64, flat_frac=0.5)
    stream, ry, rcb, rcr = encode_h264_cabac_intra(y, cb, cr, qp=30)
    dy, dcb, dcr = decode_h264_cabac(stream)
    np.testing.assert_array_equal(dy, ry)
    np.testing.assert_array_equal(dcb, rcb)
    np.testing.assert_array_equal(dcr, rcr)


def test_qp0_per4x4_constant_exact():
    """The m33 fixture contract: per-4x4-constant planes at QP 0
    decode to EXACTLY the source — so the oracle can recompute every
    decoded sample from the id formulas."""
    for doc in (0, 1, 2, 5, 13):
        gy, gx = np.mgrid[0:8, 0:8]
        y = ((doc * 13 + gy * 41 + gx * 59) % 256).repeat(4, 0).repeat(4, 1)
        cb = np.full((16, 16), 128, np.uint8)
        cr = np.full((16, 16), 128, np.uint8)
        stream, ry, rcb, rcr = encode_h264_cabac_intra(
            y.astype(np.uint8), cb, cr, qp=0, i4x4_mode=doc % 3,
        )
        dy, dcb, dcr = decode_h264_cabac(stream)
        np.testing.assert_array_equal(dy, y)
        np.testing.assert_array_equal(dcb, cb)
        np.testing.assert_array_equal(dcr, cr)


def test_dispatch_from_decode_h264_frame():
    """h264_intra.decode_h264_frame routes CABAC streams here instead
    of raising the old gate."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
        decode_h264_frame,
    )

    y, cb, cr = _planes(np.random.default_rng(3), 32, 32)
    stream, ry, rcb, rcr = encode_h264_cabac_intra(y, cb, cr, qp=24)
    dy, dcb, dcr = decode_h264_frame(stream)
    np.testing.assert_array_equal(dy, ry)
    np.testing.assert_array_equal(dcb, rcb)
    np.testing.assert_array_equal(dcr, rcr)


@pytest.mark.skipif(shutil.which("ffmpeg") is None, reason="no ffmpeg")
def test_cabac_ffmpeg_cross_pin(tmp_path):
    """Conformance cross-check against libavcodec where ffmpeg is
    installed: our CABAC stream must decode (deblocking disabled in
    the slice header) to our reconstruction."""
    y, cb, cr = _planes(np.random.default_rng(11), 32, 48)
    stream, ry, rcb, rcr = encode_h264_cabac_intra(y, cb, cr, qp=28)
    src = tmp_path / "t.h264"
    src.write_bytes(stream)
    out = tmp_path / "t.yuv"
    subprocess.run(
        ["ffmpeg", "-v", "error", "-i", str(src), "-f", "rawvideo",
         "-pix_fmt", "yuv420p", str(out)],
        check=True,
    )
    raw = out.read_bytes()
    h, w = ry.shape
    fy = np.frombuffer(raw[: h * w], np.uint8).reshape(h, w)
    fcb = np.frombuffer(
        raw[h * w : h * w + h * w // 4], np.uint8
    ).reshape(h // 2, w // 2)
    fcr = np.frombuffer(raw[h * w + h * w // 4 :], np.uint8).reshape(
        h // 2, w // 2
    )
    np.testing.assert_array_equal(fy, ry)
    np.testing.assert_array_equal(fcb, rcb)
    np.testing.assert_array_equal(fcr, rcr)
