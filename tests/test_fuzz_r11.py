"""Adversarial / corrupt-stream fuzz over the r10/r11 parser paths
(VERDICT r10 #6): hostile corpus bytes must fail LOUDLY with a
controlled error (ValueError / NotImplementedError), never hang,
silently succeed on truncated data, or escape with a low-level
IndexError from deep inside a slice loop. Extends the r9 MV
bounds-check work to the MP4 container, the avcC record, the
length-prefixed sample layer, the deblocking filter's block-info
surface and the MP3 frame parser."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neuroimaging_data_pipeline_spark.multimodal.h264_bslice import (
    decode_h264_b_stream,
    encode_h264_b_sequence,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_cabac_inter import (
    decode_h264_cabac_p,
    synthetic_p_init,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_inter import (
    decode_h264_sequence,
    encode_h264_p_gop,
)
from neuroimaging_data_pipeline_spark.multimodal.h264_mp4 import (
    build_avcc,
    decode_h264_mp4,
    demux_h264_mp4,
    mux_h264_mp4,
    parse_avcc,
)
from tests.test_h264_stream_pins import _cabac_p_gop

_CTRL = (ValueError, NotImplementedError)


def _planes(h, w, seed):
    r = np.random.default_rng(seed)
    return (
        r.integers(0, 256, (h, w), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
        r.integers(0, 256, (h // 2, w // 2), dtype=np.uint8),
    )


def _good_mp4() -> bytes:
    frames = [_planes(32, 32, 1), _planes(32, 32, 2)]
    specs = [[("16x16", [(0, 0)]), ("skip",), ("i16",),
              ("16x16", [(4, -4)])]]
    annexb, _ = encode_h264_p_gop(frames, specs, qp=20)
    return mux_h264_mp4(annexb, doc_id=7, width=32, height=32)


GOOD_MP4 = _good_mp4()


# ------------------------------------------------------------- avcC

def _good_avcc() -> bytes:
    _, info = demux_h264_mp4(GOOD_MP4)
    box = build_avcc(info["sps"], info["pps"],
                     length_size=info["length_size"])
    return box[8:]  # parse_avcc takes the record with box header stripped


GOOD_AVCC = _good_avcc()


def test_avcc_roundtrip_sanity():
    cfg = parse_avcc(GOOD_AVCC)
    assert cfg["sps"] and cfg["pps"] and cfg["length_size"] == 4


def test_avcc_every_truncation_fails_loudly():
    """EVERY proper prefix of a valid avcC either raises ValueError
    or (for prefixes that happen to stay self-consistent) parses to
    complete parameter sets — never an IndexError / struct.error /
    silent short slice."""
    for cut in range(len(GOOD_AVCC)):
        try:
            cfg = parse_avcc(GOOD_AVCC[:cut])
        except ValueError:
            continue
        # a successful parse must have consumed intact NAL bytes
        assert all(isinstance(n, bytes) for n in cfg["sps"])
        assert cfg["sps"] == parse_avcc(GOOD_AVCC)["sps"][: len(cfg["sps"])]


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=64))
def test_avcc_random_bytes_controlled(data):
    try:
        cfg = parse_avcc(data)
        assert 1 <= cfg["length_size"] <= 4
    except ValueError:
        pass


# ------------------------------------------- MP4 samples / container

def test_oversize_nal_length_rejected():
    """Corrupting a sample's 4-byte NAL length prefix to a huge
    value must be caught by the sample-bounds check."""
    data = bytearray(GOOD_MP4)
    # find the mdat payload: first IDR sample starts right after the
    # mdat header; patch its length prefix to 0xFFFFFFF0
    at = bytes(data).find(b"mdat") + 4
    data[at : at + 4] = b"\xff\xff\xff\xf0"
    with pytest.raises(ValueError, match="overruns|truncated|checksum|length"):
        demux_h264_mp4(bytes(data))


def test_truncated_mp4_fails_loudly():
    for cut in (4, 16, 64, len(GOOD_MP4) // 2, len(GOOD_MP4) - 3):
        with pytest.raises(_CTRL):
            demux_h264_mp4(GOOD_MP4[:cut])


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31), n=st.integers(1, 3))
def test_mp4_bitflips_controlled(seed, n):
    """Random bit flips anywhere in the container: decode either
    still succeeds (flip landed in a don't-care byte) or raises a
    controlled error — never a hang or low-level crash."""
    rng = np.random.default_rng(seed)
    data = bytearray(GOOD_MP4)
    for _ in range(n):
        i = int(rng.integers(0, len(data)))
        data[i] ^= 1 << int(rng.integers(0, 8))
    try:
        decode_h264_mp4(bytes(data))
    except _CTRL:
        pass
    except (IndexError, KeyError, struct_error_types()):
        pytest.fail("low-level error escaped the parser")


def struct_error_types():
    import struct

    return struct.error


# --------------------------- intra macroblocks inside P and B slices

def _intra_in_inter_streams():
    p_gop, _ = encode_h264_p_gop(
        [_planes(32, 48, s) for s in (11, 12, 13)],
        [[("i4", 5), ("16x16", [(3, -2)]), ("ipcm",), ("skip",),
          ("i16",), ("i4",)],
         [("i16",), ("ipcm",), ("8x16", [(1, 1), (-2, 4)]), ("i4", 7),
          ("skip",), ("16x16", [(0, 5)])]],
        qp=18,
    )
    b_seq, _, _ = encode_h264_b_sequence(
        [("idr", _planes(32, 48, 14)),
         ("p", _planes(32, 48, 15), [("i4",), ("16x16", [(2, 1)]),
                                     ("i16",), ("skip",),
                                     ("16x16", [(-3, 0)]), ("i4", 8)], 4),
         ("b", _planes(32, 48, 16), [("ipcm",), ("i4", 3), ("direct",),
                                     ("16x16", [("bi", (1, 2), (-1, 0))]),
                                     ("i16",), ("skip",)], 2)],
        qp=22,
    )
    p_weighted, _ = encode_h264_p_gop(
        [_planes(32, 48, s) for s in (17, 18, 19, 20)],
        [[("16x16", [((2, 1), 0)]), ("skip",), ("i4",), ("ipcm",),
          ("8x16", [(1, -1), (0, 3)]), ("16x16", [(-2, 2)])],
         [("16x16", [((1, 1), 1)]), ("8x8", [("8x8", [(0, 1)], 1),
          ("4x4", [(1, 0), (0, 0), (2, 1), (-1, 1)], 0),
          ("8x4", [(0, 0), (1, 2)], 1), ("4x8", [(3, 0), (0, 0)], 0)]),
          ("skip",), ("i16",), ("16x8", [((0, 2), 1), ((1, 0), 0)]),
          ("ipcm",)],
         [("16x16", [((0, 0), 2)]), ("skip",), ("8x16", [((1, 1), 2),
          ((2, -1), 1)]), ("i4", 6), ("16x16", [((-1, 0), 0)]),
          ("skip",)]],
        qp=20, num_refs=3,
        weights={"luma_denom": 4, "chroma_denom": 2,
                 "refs": [{"wy": 18, "oy": -3, "wc": 5, "oc": 2},
                          {"wy": 13}, {"wcr": 3, "ocr": 1}]},
    )
    b_weighted, _, _ = encode_h264_b_sequence(
        [("idr", _planes(32, 48, 21)),
         ("p", _planes(32, 48, 22), [("16x16", [(1, 0)]), ("i4",),
                                     ("skip",), ("ipcm",), ("i16",),
                                     ("16x16", [(0, -2)])], 4),
         ("b", _planes(32, 48, 23),
          [("8x8", [("direct",), ("bi", "8x4", [((1, 0), (0, 1))] * 2),
                    ("l1", "4x4", [(1, 1)] * 4), ("l0", "8x8", [(2, 0)])]),
           ("direct",), ("skip",), ("ipcm",), ("i4", 1),
           ("16x8", [("l0", (1, 1)), ("bi", (0, 0), (2, 2))])], 2)],
        qp=24,
        weights={"luma_denom": 5, "chroma_denom": 3,
                 "l0": {"wy": 40, "oy": 2, "wc": 7, "oc": -1},
                 "l1": {"wy": 24, "oy": -4}},
    )
    cabac_p, _ = _cabac_p_gop()
    return ((p_gop, decode_h264_sequence), (b_seq, decode_h264_b_stream),
            (p_weighted, decode_h264_sequence),
            (b_weighted, decode_h264_b_stream),
            (cabac_p, lambda s: decode_h264_cabac_p(
                s, init_table=synthetic_p_init(5))))


INTRA_IN_INTER = _intra_in_inter_streams()


def _inter_slice_spans(stream: bytes) -> list:
    """Byte ranges after the NAL header of every non-IDR slice."""
    spans = []
    i = stream.find(b"\x00\x00\x01")
    while i >= 0:
        j = stream.find(b"\x00\x00\x01", i + 3)
        if stream[i + 3] & 0x1F == 1:
            spans.append((i + 4, len(stream) if j < 0 else j))
        i = j
    return spans


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31), n=st.integers(1, 3))
def test_intra_in_inter_bitflips_controlled(seed, n):
    """Bit flips in the P and B slices of streams whose inter slices
    carry I_4x4, Intra_16x16 and I_PCM macroblocks, and of a CABAC P
    GOP: decode succeeds or raises ValueError / NotImplementedError,
    nothing else."""
    rng = np.random.default_rng(seed)
    for stream, decode in INTRA_IN_INTER:
        decode(stream)  # sanity
        spans = _inter_slice_spans(stream)
        data = bytearray(stream)
        for _ in range(n):
            a, b = spans[int(rng.integers(0, len(spans)))]
            i = int(rng.integers(a, b))
            data[i] ^= 1 << int(rng.integers(0, 8))
        try:
            decode(bytes(data))
        except _CTRL:
            pass


# ------------------------------------ deblocking filter block info

def test_deblock_missing_neighbor_info_shapes():
    """deblock_frame must reject wrong-geometry frames loudly and
    tolerate arbitrary (well-shaped) block info without crashing."""
    from neuroimaging_data_pipeline_spark.multimodal.h264_deblock import (
        deblock_frame,
        make_block_info_b,
    )

    y = np.full((24, 16), 100, np.uint8)  # 24 % 16 != 0
    c = np.full((12, 8), 128, np.uint8)
    with pytest.raises(ValueError, match="whole macroblocks"):
        deblock_frame(y, c, c.copy(), qp=30)
    rng = np.random.default_rng(5)
    for seed in range(8):
        r = np.random.default_rng(seed)
        y = r.integers(0, 256, (32, 32), np.uint8)
        c = r.integers(0, 256, (16, 16), np.uint8)
        info = make_block_info_b(
            2, 2,
            inter=r.integers(0, 2, (8, 8)).astype(bool),
            nnz=r.integers(0, 3, (8, 8)),
            mv0=r.integers(-64, 65, (8, 8, 2)),
            mv1=r.integers(-64, 65, (8, 8, 2)),
            pf0=r.integers(0, 2, (8, 8)).astype(bool),
            pf1=r.integers(0, 2, (8, 8)).astype(bool),
            pic0=0, pic1=8,
        )
        out = deblock_frame(y, c, c.copy(), qp=int(rng.integers(0, 52)),
                            info=info)
        assert out[0].shape == y.shape and out[0].dtype == np.uint8


# ----------------------------------------------------------- MP3

def test_mp3_truncation_and_bitflips_controlled():
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _fixture_granule,
        decode_mp3_l3,
        encode_mp3_l3,
    )

    good = encode_mp3_l3([_fixture_granule(3, k) for k in range(6)])
    decode_mp3_l3(good)  # sanity
    for cut in (0, 2, 10, len(good) // 2, len(good) - 1):
        try:
            decode_mp3_l3(good[:cut])
        except (ValueError, NotImplementedError):
            pass
    rng = np.random.default_rng(9)
    for _ in range(20):
        data = bytearray(good)
        i = int(rng.integers(0, len(data)))
        data[i] ^= 1 << int(rng.integers(0, 8))
        try:
            decode_mp3_l3(bytes(data))
        except (ValueError, NotImplementedError, KeyError):
            pass
