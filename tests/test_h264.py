"""H.264 I_PCM codec tests — multimodal/h264.py. The oracle seal
lives in m20_h264_ipcm; these pin losslessness on arbitrary content,
the Annex B framing invariants (start codes, emulation prevention),
frame cropping, the declared predicted-MB gate, and — where the
binary exists — ffmpeg's own decode of our bitstream (conformance
cross-check, capability-gated like scipy/protobuf/ffmpeg elsewhere)."""

import subprocess

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from neuroimaging_data_pipeline_spark.bitio import BitReader, BitWriter
from neuroimaging_data_pipeline_spark.multimodal.binaryops import (
    ffmpeg_available,
)
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _ep_insert,
    _ep_remove,
    decode_h264_ipcm,
    encode_h264_ipcm,
)


def test_lossless_roundtrip_random_content():
    rng = np.random.RandomState(1)
    y = rng.randint(0, 256, (24, 16)).astype(np.uint8)
    cb = rng.randint(0, 256, (12, 8)).astype(np.uint8)
    cr = rng.randint(0, 256, (12, 8)).astype(np.uint8)
    dy, dcb, dcr = decode_h264_ipcm(encode_h264_ipcm(y, cb, cr))
    assert np.array_equal(dy, y)
    assert np.array_equal(dcb, cb)
    assert np.array_equal(dcr, cr)


def test_emulation_prevention_inserted_and_removed():
    # zero samples produce long 0x00 runs -> EPBs must appear
    y = np.zeros((16, 16), np.uint8)
    payload = encode_h264_ipcm(
        y, np.zeros((8, 8), np.uint8), np.zeros((8, 8), np.uint8)
    )
    assert payload.count(b"\x00\x00\x03") > 0
    # no illegal 00 00 0x sequence survives inside NAL payloads
    # (starts excepted): scan between start codes
    body = payload.split(b"\x00\x00\x00\x01")
    for nal in body[1:]:
        for i in range(len(nal) - 2):
            assert not (
                nal[i] == 0 and nal[i + 1] == 0 and nal[i + 2] <= 2
            ), "unescaped start-code emulation"
    assert np.array_equal(decode_h264_ipcm(payload)[0], y)


def test_ep_insert_remove_are_inverse_on_adversarial_bytes():
    for raw in (
        b"\x00" * 7,
        b"\x00\x00\x01\x00\x00\x02\x00\x00\x03\x00\x00\x04",
        bytes(range(256)) + b"\x00\x00\x00\x00",
    ):
        assert _ep_remove(_ep_insert(raw)) == raw


def test_frame_cropping_non_multiple_of_16():
    rng = np.random.RandomState(2)
    y = rng.randint(0, 256, (18, 30)).astype(np.uint8)
    cb = rng.randint(0, 256, (9, 15)).astype(np.uint8)
    dy, dcb, _ = decode_h264_ipcm(encode_h264_ipcm(y, cb, cb))
    assert dy.shape == (18, 30) and np.array_equal(dy, y)
    assert np.array_equal(dcb, cb)


def test_default_chroma_is_midgray():
    y = np.zeros((16, 16), np.uint8)
    _, cb, cr = decode_h264_ipcm(encode_h264_ipcm(y))
    assert cb.min() == cb.max() == 128 and cr.min() == cr.max() == 128


@settings(max_examples=10, deadline=None)
@given(
    arrays(
        np.uint8,
        st.tuples(
            st.sampled_from([2, 8, 16, 18, 34]),
            st.sampled_from([2, 16, 30, 48]),
        ),
        elements=st.integers(min_value=0, max_value=255),
    )
)
def test_ipcm_roundtrip_property(y):
    dy, _, _ = decode_h264_ipcm(encode_h264_ipcm(y))
    assert np.array_equal(dy, y)


def test_error_paths_and_predicted_mb_gate():
    with pytest.raises(ValueError, match="even"):
        encode_h264_ipcm(np.zeros((15, 16), np.uint8))
    with pytest.raises(ValueError, match="chroma"):
        encode_h264_ipcm(
            np.zeros((16, 16), np.uint8), np.zeros((4, 4), np.uint8),
            np.zeros((8, 8), np.uint8),
        )
    with pytest.raises(ValueError, match="start codes"):
        decode_h264_ipcm(b"\xde\xad\xbe\xef")
    # flip the first mb_type ue(25) to ue(0) = I_4x4 -> declared gate.
    # ue(25): 25+1=26 -> '000011010' (9 bits); ue(0) = '1'. Rebuild the
    # slice RBSP bit-level: easier to craft by re-encoding with a
    # patched writer — monkeypatch the constant instead.
    from neuroimaging_data_pipeline_spark.multimodal import h264 as mod

    payload = encode_h264_ipcm(np.zeros((16, 16), np.uint8))
    # locate the IDR NAL and surgically rewrite its first mb_type:
    # header bits before mb_type: ue(0)=1, ue(7)='0001000'? instead of
    # bit surgery, decode with a patched reader asserting the raise
    idx = payload.rfind(b"\x00\x00\x00\x01")
    nal = bytearray(mod._ep_remove(payload[idx + 5 :]))
    r = BitReader(bytes(nal))
    r.ue(); r.ue(); r.ue(); r.u(4); r.ue(); r.u(1); r.u(1); r.se()
    # overwrite the 9 bits of ue(25) with ue(24)+pad: simpler — write
    # a fresh slice whose first mb_type is 0 via the bit writer
    w = BitWriter()
    w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0); w.u(0, 1); w.u(0, 1)
    w.se(0)
    w.ue(0)  # mb_type I_4x4 -> gate
    w.trailing()
    fake = payload[:idx] + b"\x00\x00\x00\x01\x65" + mod._ep_insert(
        w.bytes_()
    )
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        decode_h264_ipcm(fake)


@pytest.mark.skipif(not ffmpeg_available(), reason="ffmpeg not on PATH")
def test_ffmpeg_decodes_our_bitstream_identically():
    """Conformance cross-check: the reference-grade decoder must read
    our Annex B bytes and produce the exact same samples."""
    rng = np.random.RandomState(3)
    y = rng.randint(0, 256, (32, 48)).astype(np.uint8)
    cb = rng.randint(0, 256, (16, 24)).astype(np.uint8)
    cr = rng.randint(0, 256, (16, 24)).astype(np.uint8)
    payload = encode_h264_ipcm(y, cb, cr)
    proc = subprocess.run(
        [
            "ffmpeg", "-v", "error", "-f", "h264", "-i", "pipe:0",
            "-f", "rawvideo", "-pix_fmt", "yuv420p", "pipe:1",
        ],
        input=payload,
        capture_output=True,
        check=True,
    )
    out = np.frombuffer(proc.stdout, np.uint8)
    n = 32 * 48
    assert np.array_equal(out[:n].reshape(32, 48), y)
    assert np.array_equal(out[n : n + n // 4].reshape(16, 24), cb)
    assert np.array_equal(out[n + n // 4 :].reshape(16, 24), cr)
