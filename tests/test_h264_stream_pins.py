"""Byte pins for the H.264 encoder entry points: the sha256 of each
emitted Annex B stream together with the encoder's reconstruction
planes. The round-trip tests only prove encoder and decoder agree with
each other; these pins prove a refactor of the shared intra or inter
macroblock layers changes no emitted byte and no reconstructed sample.
Each stream is also decoded and checked against the encoder's
reconstruction."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    decode_h264_ipcm,
    encode_h264_ipcm,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
    decode_h264_b_stream,
    encode_h264_b_sequence,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac import (
    decode_h264_cabac,
    encode_h264_cabac_intra,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac_inter import (
    decode_h264_cabac_p,
    encode_h264_cabac_p_gop,
    synthetic_p_init,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    decode_h264_sequence,
    encode_h264_p_gop,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_intra import (
    decode_h264_frame,
    encode_h264_i4x4,
    encode_h264_i16x16,
)


def _planes(h, w, seed):
    r = np.random.default_rng(seed)
    return (
        r.integers(0, 256, (h, w), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
    )


def _smooth(h, w, seed):
    """Low-detail content, so directional intra modes leave small
    residuals and the CAVLC tables see short as well as long codes."""
    r = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    cy, cx = np.mgrid[0 : h // 2, 0 : w // 2]
    return (
        ((yy * 3 + xx * 5) % 200 + r.integers(0, 9, (h, w))).astype(np.uint8),
        ((cy * 7 + cx * 2) % 180 + 20).astype(np.uint8),
        ((cy * 2 + cx * 9) % 160 + 40).astype(np.uint8),
    )


def _digest(stream: bytes, recons) -> str:
    h = hashlib.sha256(stream)
    for planes in recons:
        for p in planes:
            h.update(np.ascontiguousarray(p, np.uint8).tobytes())
    return h.hexdigest()[:20]


def _same(decoded, recon):
    for a, b in zip(decoded, recon):
        np.testing.assert_array_equal(a, b)


# --- cases: name -> (stream, [recon planes per frame]) -----------------------


def _ipcm():
    f = _planes(24, 40, 1)
    stream = encode_h264_ipcm(*f)
    _same(decode_h264_ipcm(stream), f)
    return stream, [f]


def _i16(pm, cm, qp):
    def run():
        f = _smooth(24, 40, 2) if qp else _planes(24, 40, 3)
        stream, *recon = encode_h264_i16x16(
            *f, qp=qp, pred_mode=pm, chroma_mode=cm
        )
        _same(decode_h264_frame(stream), recon)
        return stream, [recon]

    return run


def _i4(mode):
    def run():
        stream, *recon = encode_h264_i4x4(*_smooth(24, 40, 4), qp=12,
                                          mode=mode)
        _same(decode_h264_frame(stream), recon)
        return stream, [recon]

    return run


_P_SPECS = [
    [("16x16", [(4, -4)]), ("skip",), ("i16",), ("i4", 3),
     ("ipcm",), ("8x16", [(1, 2), (-3, 5)])],
    [("8x8", [("8x8", [(1, 1)], 1), ("8x4", [(2, 0), (0, 2)], 0),
              ("4x8", [(-1, 3), (5, -2)], 1),
              ("4x4", [(0, 1), (1, 0), (2, 2), (-2, -1)], 0)]),
     ("i4",), ("16x8", [((3, -1), 1), ((0, 0), 0)]), ("skip",),
     ("i16",), ("16x16", [((-6, 7), 1)])],
    [("ipcm",), ("16x16", [((2, 2), 2)]), ("i4", 8), ("skip",),
     ("8x16", [((1, -1), 2), ((4, 4), 0)]), ("i16",)],
]
_P_WEIGHTS = {
    "luma_denom": 5, "chroma_denom": 3,
    "refs": [{"wy": 36, "oy": -2, "wc": 9, "oc": 1},
             {"wy": 28, "oy": 4},
             {"wcr": 7, "ocr": -1}],
}


def _p_gop(deblock, offsets, weights):
    def run():
        frames = [_planes(32, 48, 10 + i) for i in range(4)]
        stream, recons = encode_h264_p_gop(
            frames, _P_SPECS, qp=24, num_refs=3, weights=weights,
            deblock=deblock, deblock_offsets=offsets,
        )
        for got, want in zip(decode_h264_sequence(stream), recons):
            _same(got, want)
        return stream, recons

    return run


def _b_seq(weights, deblock):
    def run():
        rng = np.random.default_rng(7)
        mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))
        f0, fp, fb, fr = (_planes(32, 48, 20 + i) for i in range(4))
        specs_p = [("16x16", [mv()]), ("i16",), ("skip",), ("i4", 4),
                   ("16x16", [mv()]), ("i16",)]
        specs_b = [("i4",), ("direct",), ("16x16", [("bi", mv(), mv())]),
                   ("i16",), ("skip",), ("ipcm",)]
        specs_r = [("16x8", [("l0", mv()), ("l1", mv())]), ("i16",),
                   ("i4", 7), ("skip",), ("ipcm",), ("direct",)]
        stream, recons, pocs = encode_h264_b_sequence(
            [("idr", f0), ("p", fp, specs_p, 4), ("bref", fr, specs_r, 2),
             ("b", fb, specs_b, 1)],
            qp=21, weights=weights, deblock=deblock,
            deblock_offsets=(1, -1) if deblock else (0, 0),
        )
        frames, dpocs = decode_h264_b_stream(stream)
        assert dpocs == pocs
        for got, want in zip(frames, recons):
            _same(got, want)
        return stream, recons

    return run


_B_USE = ("l0", "l1", "bi")


def _b_temporal():
    """Unweighted temporal-direct B sequence over a reference B: every
    16x8 / 8x16 list combination (B mb_types 4..21), all twelve B_8x8
    sub_mb_types, direct sub-blocks, B_Direct_16x16 and B_Skip."""
    rng = np.random.default_rng(31)
    mv = lambda: tuple(int(v) for v in rng.integers(-9, 10, 2))

    def part(use):
        return (use, mv(), mv()) if use == "bi" else (use, mv())

    def sub(use, sm, n):
        return (use, sm, [(mv(), mv()) if use == "bi" else mv()
                          for _ in range(n)])

    nsub = {"8x8": 1, "8x4": 2, "4x8": 2, "4x4": 4}
    combos = [(mode, (u0, u1)) for mode in ("16x8", "8x16")
              for u0 in _B_USE for u1 in _B_USE]
    subs = [(u, sm) for sm in nsub for u in _B_USE]  # 12 sub_mb_types
    specs_r = [(m, [part(u) for u in us]) for m, us in combos]
    specs_r += [("skip",), ("direct",)]
    specs_b = [("8x8", [sub(u, sm, nsub[sm]) for u, sm in subs[k:k + 4]])
               for k in (0, 4, 8)]
    specs_b += [
        ("8x8", [("direct",), sub("bi", "4x4", 4), ("direct",),
                 sub("l1", "8x4", 2)]),
        ("8x8", [("direct",)] * 4),
        ("16x16", [("l0", mv())]), ("16x16", [("l1", mv())]),
        ("16x16", [("bi", mv(), mv())]), ("skip",), ("direct",),
    ]
    specs_b += [(m, [part(u) for u in us]) for m, us in combos[::2]]
    specs_b.append(("skip",))
    specs_p = [("16x16", [mv()]) if k % 3 else ("8x16", [mv(), mv()])
               for k in range(20)]
    f0, fp, fr, fb = (_smooth(64, 80, 40 + i) for i in range(4))
    stream, recons, pocs = encode_h264_b_sequence(
        [("idr", f0), ("p", fp, specs_p, 8), ("bref", fr, specs_r, 4),
         ("b", fb, specs_b, 6)],
        qp=18, direct_mode="temporal",
    )
    frames, dpocs = decode_h264_b_stream(stream)
    assert dpocs == pocs
    for got, want in zip(frames, recons):
        _same(got, want)
    return stream, recons


def _b_seq_p_ipcm():
    """I_PCM (and I_4x4, Intra_16x16) in the P frame of a B stream."""
    f0, fp, fb = (_planes(32, 48, 70 + i) for i in range(3))
    stream, recons, pocs = encode_h264_b_sequence(
        [("idr", f0),
         ("p", fp, [("ipcm",), ("skip",), ("16x16", [(3, -1)]), ("i4", 2),
                    ("ipcm",), ("i16",)], 4),
         ("b", fb, [("skip",), ("ipcm",), ("direct",),
                    ("16x16", [("bi", (1, 1), (-2, 3))]), ("skip",),
                    ("ipcm",)], 2)],
        qp=26,
    )
    frames, dpocs = decode_h264_b_stream(stream)
    assert dpocs == pocs
    for got, want in zip(frames, recons):
        _same(got, want)
    return stream, recons


def _p_gop_weighted_ref1():
    frames = [_planes(32, 48, 50 + i) for i in range(3)]
    specs = [_P_SPECS[0],
             [("skip",), ("16x16", [(5, -3)]), ("ipcm",),
              ("8x8", [("4x4", [(1, 0), (0, 1), (-1, 2), (2, -2)]),
                       ("8x8", [(3, 3)]), ("4x8", [(0, 0), (1, 1)]),
                       ("8x4", [(-2, 0), (0, -2)])]),
              ("16x8", [(2, 2), (-1, 1)]), ("i4", 1)]]
    stream, recons = encode_h264_p_gop(
        frames, specs, qp=20, num_refs=1,
        weights={"luma_denom": 3, "chroma_denom": 1,
                 "refs": [{"wy": 7, "oy": 3, "wc": 1, "oc": -2,
                           "wcr": 3, "ocr": 4}]},
    )
    for got, want in zip(decode_h264_sequence(stream), recons):
        _same(got, want)
    return stream, recons


def _cabac_p_gop():
    frames = [_planes(32, 48, 60 + i) for i in range(3)]
    specs = [
        [("16x16", [(2, -3)]), ("skip",), ("16x8", [(1, 1), (0, 4)]),
         ("8x16", [(-2, 0), (3, 1)]), ("skip",), ("i16",)],
        [("8x8", [("8x8", [(1, 1)], 1), ("8x4", [(2, 0), (0, 2)], 0),
                  ("4x8", [(-1, 3), (5, -2)], 1),
                  ("4x4", [(0, 1), (1, 0), (2, 2), (-2, -1)], 0)]),
         ("16x16", [((4, 4), 1)]), ("skip",), ("i16",),
         ("16x8", [((0, 0), 0), ((1, -1), 1)]), ("16x16", [(0, 0)])],
    ]
    table = synthetic_p_init(5)
    stream, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=24, num_refs=2, init_table=table
    )
    for got, want in zip(decode_h264_cabac_p(stream, init_table=table),
                         recons):
        _same(got, want)
    return stream, recons


def _cabac_p_gop_ref1():
    """num_refs=1 (no ref_idx coded) at QP 51: a skip-heavy slice whose
    last macroblock is coded, |mvd| >= 9 (the EG3 suffix) and a P_8x8
    with all four sub types."""
    frames = [_planes(32, 48, 80 + i) for i in range(3)]
    specs = [
        [("skip",), ("skip",), ("16x16", [(40, -36)]), ("skip",),
         ("skip",), ("16x8", [(-20, 12), (3, -30)])],
        [("8x8", [("8x8", [(1, 1)]), ("8x4", [(2, 0), (0, 2)]),
                  ("4x8", [(-1, 3), (5, -2)]),
                  ("4x4", [(0, 1), (1, 0), (2, 2), (-2, -1)])]),
         ("16x16", [(-44, 50)]), ("skip",), ("8x16", [(12, 12), (-9, 0)]),
         ("i16",), ("16x16", [(0, 0)])],
    ]
    table = synthetic_p_init(9)
    stream, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=51, num_refs=1, init_table=table
    )
    for got, want in zip(decode_h264_cabac_p(stream, init_table=table),
                         recons):
        _same(got, want)
    return stream, recons


def _cabac_p_gop_intra():
    """An Intra_16x16 first P macroblock, then an all-Intra_16x16 P
    slice."""
    frames = [_planes(32, 32, 90 + i) for i in range(3)]
    specs = [[("i16",), ("16x16", [(3, -1)]), ("skip",),
              ("8x16", [(1, 1), (-2, 2)])],
             [("i16",)] * 4]
    table = synthetic_p_init(2)
    stream, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=20, num_refs=2, init_table=table
    )
    for got, want in zip(decode_h264_cabac_p(stream, init_table=table),
                         recons):
        _same(got, want)
    return stream, recons


def _cabac_p_skip_last():
    """A P_Skip in the picture's last macroblock."""
    frames = [_planes(32, 32, 40), _planes(32, 32, 41)]
    specs = [[("16x16", [(1, 0)]), ("16x16", [(0, 2)]),
              ("16x16", [(0, 0)]), ("skip",)]]
    table = synthetic_p_init(3)
    stream, recons = encode_h264_cabac_p_gop(
        frames, specs, qp=26, init_table=table
    )
    for got, want in zip(decode_h264_cabac_p(stream, init_table=table),
                         recons):
        _same(got, want)
    return stream, recons


def _cabac(qp, mode):
    def run():
        stream, *recon = encode_h264_cabac_intra(*_smooth(24, 40, 5), qp=qp,
                                                 i4x4_mode=mode)
        _same(decode_h264_cabac(stream), recon)
        return stream, [recon]

    return run


CASES = {"ipcm": _ipcm}
for _qp in (0, 28):
    for _pm in range(4):
        for _cm in range(4):
            CASES[f"i16_qp{_qp}_pm{_pm}_cm{_cm}"] = _i16(_pm, _cm, _qp)
for _m in range(9):
    CASES[f"i4_mode{_m}"] = _i4(_m)
CASES["p_gop_plain"] = _p_gop(False, (0, 0), None)
CASES["p_gop_deblock_weights"] = _p_gop(True, (1, -2), _P_WEIGHTS)
CASES["p_gop_deblock2"] = _p_gop(2, (-1, 3), None)
CASES["b_seq_implicit"] = _b_seq("implicit", False)
CASES["b_seq_explicit_deblock"] = _b_seq(
    {"luma_denom": 4, "chroma_denom": 2,
     "l0": {"wy": 20, "oy": -3, "wc": 5, "oc": 2},
     "l1": {"wy": 12, "oy": 6}},
    True,
)
CASES["b_seq_temporal_b8x8_bref"] = _b_temporal
CASES["b_seq_p_ipcm"] = _b_seq_p_ipcm
CASES["p_gop_weighted_ref1"] = _p_gop_weighted_ref1
CASES["cabac_p_gop"] = _cabac_p_gop
CASES["cabac_qp0"] = _cabac(0, 2)
CASES["cabac_qp30"] = _cabac(30, 5)
CASES["cabac_p_gop_ref1_qp51"] = _cabac_p_gop_ref1
CASES["cabac_p_gop_intra"] = _cabac_p_gop_intra
CASES["cabac_p_skip_last"] = _cabac_p_skip_last
for _m in (0, 1, 3, 4, 6, 7, 8):
    CASES[f"cabac_i4_mode{_m}"] = _cabac(16, _m)

PINS = {
    "b_seq_explicit_deblock": "97ad9b7f74b6d729c8cc",
    "b_seq_implicit": "089d351cfcafc77d43ce",
    "b_seq_p_ipcm": "f3a3668d36dbbb3e9325",
    "b_seq_temporal_b8x8_bref": "e641301ac80d915be376",
    "cabac_i4_mode0": "87ae2c761626c90c6698",
    "cabac_i4_mode1": "bab5b5030343ad4dd2f1",
    "cabac_i4_mode3": "5bf0814cd8e91a06861e",
    "cabac_i4_mode4": "b877d2fa136282024865",
    "cabac_i4_mode6": "e303ba833a05ddc5da3b",
    "cabac_i4_mode7": "de133d737585353a9f2a",
    "cabac_i4_mode8": "c0a964f27096d36b194b",
    "cabac_p_gop": "d1f85cd310b5bdb60a1b",
    "cabac_p_gop_intra": "39c36161318986202f36",
    "cabac_p_gop_ref1_qp51": "1d9c56e82332ea48061d",
    "cabac_p_skip_last": "5d495cf47f423b394e3e",
    "cabac_qp0": "74da4e91d749ec1c6676",
    "cabac_qp30": "a661121bd4fc5c793226",
    "i16_qp0_pm0_cm0": "fc3c09375ced6865b75e",
    "i16_qp0_pm0_cm1": "da4e3867f87ccadbced9",
    "i16_qp0_pm0_cm2": "101ea5a9acda223b33a9",
    "i16_qp0_pm0_cm3": "d1bcb35538ff081cdb5e",
    "i16_qp0_pm1_cm0": "06b005281f7e78bb3cfd",
    "i16_qp0_pm1_cm1": "3daab5b35e650259bf4a",
    "i16_qp0_pm1_cm2": "d0b826f62a2912e8b207",
    "i16_qp0_pm1_cm3": "16906198c80c74a7f801",
    "i16_qp0_pm2_cm0": "f27692ec903ed0b83e5c",
    "i16_qp0_pm2_cm1": "df55ff70165b03ecf0dc",
    "i16_qp0_pm2_cm2": "63cb50b3480de7c23993",
    "i16_qp0_pm2_cm3": "91f6a3869ad02857c62b",
    "i16_qp0_pm3_cm0": "38a4d03b5233ff4b83ef",
    "i16_qp0_pm3_cm1": "c45cd8d1290ee0baf683",
    "i16_qp0_pm3_cm2": "3cb715504f6ef877ca5b",
    "i16_qp0_pm3_cm3": "48c553ac4a060c736a57",
    "i16_qp28_pm0_cm0": "efb9b7a234d490451ee1",
    "i16_qp28_pm0_cm1": "211483394e1d78cbdf94",
    "i16_qp28_pm0_cm2": "9a53bbb284a90e295475",
    "i16_qp28_pm0_cm3": "cb97bc5f0ee58f9ccf75",
    "i16_qp28_pm1_cm0": "b3b478875d363f4e4c40",
    "i16_qp28_pm1_cm1": "796afb096a8864e7e0cf",
    "i16_qp28_pm1_cm2": "bf5cb1e0e0a2ec7415ef",
    "i16_qp28_pm1_cm3": "c99b9bdd7d87c2e8df63",
    "i16_qp28_pm2_cm0": "90145a6c2cb18e7e0921",
    "i16_qp28_pm2_cm1": "f99cea0f80a1b4dd9f88",
    "i16_qp28_pm2_cm2": "07a2cce2703dd8dd1e48",
    "i16_qp28_pm2_cm3": "67e3e732d0550fa4834f",
    "i16_qp28_pm3_cm0": "87ad90c199f340a5fb73",
    "i16_qp28_pm3_cm1": "d4e41ae8598037a01aeb",
    "i16_qp28_pm3_cm2": "e9e3a33785f25924bda8",
    "i16_qp28_pm3_cm3": "0bbdb1a9543b66122d38",
    "i4_mode0": "4dcd1cab724c77ae25a0",
    "i4_mode1": "170480bfccee070f8392",
    "i4_mode2": "e37630949663c4db6047",
    "i4_mode3": "29568dceb73fb359057b",
    "i4_mode4": "8b4ea918b22a48245d39",
    "i4_mode5": "3e557f6797196b5aae5b",
    "i4_mode6": "08616b2f818761f4892a",
    "i4_mode7": "7e8673beb88a81617033",
    "i4_mode8": "dac5b6e7c1af3dbf1068",
    "ipcm": "a6dbbf4231c30ef05b75",
    "p_gop_deblock2": "897d60e16862d98c668b",
    "p_gop_deblock_weights": "b062ea1062bda6fa7663",
    "p_gop_plain": "a832d86ac196427e65d8",
    "p_gop_weighted_ref1": "062746da840bc7bddba1",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_stream_bytes_pinned(name):
    stream, recons = CASES[name]()
    assert _digest(stream, recons) == PINS[name]
