"""MP3 Layer III payload decode: Huffman-table transcription checks,
round trips (mono/stereo/scfsi/reservoir), requantization, gates."""

from __future__ import annotations

import shutil
import subprocess

import numpy as np
import pytest

from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
    _HUFF_BIG,
    _HUFF_C1A_LEN,
    _PRETAB,
    _SFB_LONG_44,
    _SLEN,
    GranuleSpec,
    _fixture_granule,
    decode_mp3_l3,
    encode_mp3_l3,
    requantize_long,
)


def test_huffman_tables_are_complete_prefix_codes():
    """Transcription check on the Annex B tables: every shipped table
    must be a COMPLETE prefix code (Kraft sum exactly 1) with unique
    codes — a mis-transcribed entry essentially always breaks this."""
    for t, (nx, lens, cods) in _HUFF_BIG.items():
        assert len(lens) == nx * nx and len(cods) == nx * nx, t
        keys = {format(c, f"0{n}b") for n, c in zip(lens, cods)}
        assert len(keys) == nx * nx, f"table {t}: duplicate codes"
        kraft = sum(2.0 ** -n for n in lens)
        assert kraft == 1.0, f"table {t}: Kraft sum {kraft}"
        # prefix-freeness
        for a in keys:
            for b in keys:
                if a != b:
                    assert not b.startswith(a), (t, a, b)
    kraft = sum(2.0 ** -n for n in _HUFF_C1A_LEN)
    assert kraft == 1.0
    # structural constants
    assert len(_SFB_LONG_44) == 23 and _SFB_LONG_44[-1] == 576
    assert len(_SLEN) == 16 and len(_PRETAB) == 21


def test_fixture_roundtrip_lines_exact():
    for d in (0, 1, 2, 7, 13, 100, 499):
        n_frames = 3 + d % 3
        gs = [_fixture_granule(d, k) for k in range(2 * n_frames)]
        out = decode_mp3_l3(encode_mp3_l3(gs))
        assert out["n_frames"] == n_frames
        assert out["reservoir_used"] is True
        for k, g in enumerate(out["granules"]):
            assert g["lines"] == gs[k].lines, (d, k)
            assert g["scalefacs"] == gs[k].scalefacs, (d, k)


def test_stereo_roundtrip():
    gs = [_fixture_granule(7, k) for k in range(8)]
    out = decode_mp3_l3(encode_mp3_l3(gs, nch=2))
    assert out["n_frames"] == 2 and out["n_granules"] == 8
    for k, g in enumerate(out["granules"]):
        assert g["lines"] == gs[k].lines, k
        assert (g["frame"], g["granule"], g["channel"]) == (
            k // 4, (k // 2) % 2, k % 2
        )


def test_scfsi_reuses_granule0_scalefactors():
    g0, g1 = _fixture_granule(3, 0), _fixture_granule(3, 1)
    g1.scalefac_compress = g0.scalefac_compress
    slen1, slen2 = _SLEN[g1.scalefac_compress]
    g1.scalefacs = [
        min(v, (1 << (slen1 if b < 11 else slen2)) - 1)
        if (slen1 if b < 11 else slen2) else 0
        for b, v in enumerate(g1.scalefacs)
    ]
    # groups 0 (bands 0-5) and 2 (bands 11-15) reused -> must be equal
    g1.scalefacs = (
        g0.scalefacs[:6] + g1.scalefacs[6:11]
        + g0.scalefacs[11:16] + g1.scalefacs[16:]
    )
    out = decode_mp3_l3(encode_mp3_l3([g0, g1], scfsi=0b1010))
    assert out["granules"][0]["scalefacs"] == g0.scalefacs
    assert out["granules"][1]["scalefacs"] == g1.scalefacs
    assert out["granules"][1]["lines"] == g1.lines


def test_bit_reservoir_really_used():
    """main_data_begin must be non-zero somewhere (the packer
    guarantees it), and corrupting a PREVIOUS frame's data region
    must break a LATER frame's decode — proof the decode really
    reads across frame boundaries."""
    d = 4
    gs = [_fixture_granule(d, k) for k in range(8)]
    buf = bytearray(encode_mp3_l3(gs))
    out = decode_mp3_l3(bytes(buf))
    assert out["reservoir_used"] is True
    # find the second frame header (first 0xFF sync after the ID3+1st)
    first = buf.find(b"\xff\xfb")
    second = buf.find(b"\xff\xfb", first + 2)
    assert second > first
    # corrupt the last byte of frame 1's data region (reservoir bytes
    # belonging to frame 2)
    buf[second - 1] ^= 0xFF
    broken = decode_mp3_l3(bytes(buf))
    frame2 = [g for g in broken["granules"] if g["frame"] >= 1]
    want2 = gs[2:]
    assert any(
        g["lines"] != w.lines for g, w in zip(frame2, want2)
    ), "corrupting reservoir bytes did not affect later frames"


def test_requantization_matches_direct_formula():
    g = _fixture_granule(9, 1)
    out = decode_mp3_l3(encode_mp3_l3([_fixture_granule(9, 0), g]))
    got = out["granules"][1]["xr"]
    v = np.asarray(g.lines, np.float64)
    want = np.sign(v) * np.abs(v) ** (4.0 / 3.0)
    want *= 2.0 ** ((g.global_gain - 210) / 4.0)
    mult = 0.5 * (g.scalefac_scale + 1)
    for b in range(21):
        lo, hi = _SFB_LONG_44[b], _SFB_LONG_44[b + 1]
        want[lo:hi] *= 2.0 ** (
            -mult * (g.scalefacs[b] + g.preflag * _PRETAB[b])
        )
    np.testing.assert_array_equal(got, want)
    # independent spot value: line 30 sits in band 7
    i = 30
    if g.lines[i]:
        b = max(j for j in range(22) if _SFB_LONG_44[j] <= i)
        direct = (
            np.sign(g.lines[i]) * abs(g.lines[i]) ** (4.0 / 3.0)
            * 2.0 ** ((g.global_gain - 210) / 4.0)
            * 2.0 ** (-mult * (g.scalefacs[b] + g.preflag * _PRETAB[b]))
        )
        assert got[i] == direct


def test_esc_table_gate_is_loud():
    """A stream selecting an untranscribed table must raise the named
    gate, not desync silently."""
    g = _fixture_granule(2, 0)
    g2 = _fixture_granule(2, 1)
    buf = bytearray(encode_mp3_l3([g, g2]))
    # side info of frame 0: byte offset = ID3 + 4 (header); mono side
    # info layout: 9+5+4 bits, then gr0: 12+9+8+4+1 = 34 bits -> the
    # first table_select starts at bit 18+34 = 52 of the side info
    first = buf.find(b"\xff\xfb")
    si_off = (first + 4) * 8 + 52
    # overwrite the 5-bit table_select with 16 (an ESC table)
    for k in range(5):
        bit = (16 >> (4 - k)) & 1
        byte, sh = (si_off + k) >> 3, 7 - ((si_off + k) & 7)
        buf[byte] = (buf[byte] & ~(1 << sh)) | (bit << sh)
    with pytest.raises(NotImplementedError, match="table 16"):
        decode_mp3_l3(bytes(buf))


def test_encoder_input_validation():
    g = _fixture_granule(0, 0)
    with pytest.raises(ValueError, match="whole frames"):
        encode_mp3_l3([g])
    bad = _fixture_granule(0, 0)
    bad.lines = [5] + bad.lines[1:]  # exceeds table range in region 0
    with pytest.raises(ValueError, match="exceeds table"):
        encode_mp3_l3([bad, _fixture_granule(0, 1)])


@pytest.mark.skipif(shutil.which("ffmpeg") is None, reason="no ffmpeg")
def test_mp3_ffmpeg_accepts_stream(tmp_path):
    """Conformance smoke where ffmpeg exists: libavcodec must parse
    and fully decode the stream without errors (frequency lines feed
    its synthesis filterbank; our decode stops at the lines, so the
    check is acceptance + duration, not PCM equality)."""
    gs = [_fixture_granule(1, k) for k in range(8)]
    src = tmp_path / "t.mp3"
    src.write_bytes(encode_mp3_l3(gs))
    out = tmp_path / "t.wav"
    subprocess.run(
        ["ffmpeg", "-v", "error", "-i", str(src), str(out)],
        check=True, capture_output=True,
    )
    assert out.stat().st_size > 44


# --- r9 extension: short/mixed blocks + MS stereo ---------------------------


def _short_granule(d, k):
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _SLEN, GranuleSpec,
    )

    big = 30 + (d + k) % 10
    count1 = 6
    lines = [0] * 576
    for i in range(2 * big):
        lines[i] = (d + k + i) % 3 - 1
    base = 2 * big
    for j in range(4 * count1):
        lines[base + j] = (d + j) % 3 - 1
    scomp = (d + k) % 16
    slen1, slen2 = _SLEN[scomp]
    ssf = [
        [
            (d + b + w) % (1 << (slen1 if b < 6 else slen2))
            if (slen1 if b < 6 else slen2)
            else 0
            for w in range(3)
        ]
        for b in range(12)
    ]
    return GranuleSpec(
        lines=lines, big_values=big, table_sel=(1, 1, 0), count1=count1,
        count1_table_b=False, global_gain=130 + d % 40,
        scalefac_compress=scomp, scalefacs=[0] * 21,
        block_type=2, subblock_gain=(d % 8, (d + 1) % 8, (d + 2) % 8),
        short_scalefacs=ssf,
    )


def test_short_block_roundtrip_and_requant():
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        decode_mp3_l3, encode_mp3_l3, requantize_short,
    )

    gs = [_short_granule(3, k) for k in range(4)]
    d = decode_mp3_l3(encode_mp3_l3(gs, scfsi=0))
    assert d["n_granules"] == 4
    for k, g in enumerate(d["granules"]):
        assert g["lines"] == gs[k].lines
        assert g["block_type"] == 2 and not g["mixed"]
        want = requantize_short(
            gs[k].lines, gs[k].global_gain, gs[k].short_scalefacs,
            0, gs[k].subblock_gain,
        )
        np.testing.assert_allclose(g["xr"], want)


def test_requantize_short_matches_scalar_formula():
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _SFB_SHORT_44, requantize_short,
    )

    lines = [0] * 576
    lines[0] = 2       # band 0, window 0
    lines[4] = -3      # band 0, window 1 (width 4 -> src 3*0 + 4)
    sf = [[b + w for w in range(3)] for b in range(12)]
    xr = requantize_short(lines, 140, sf, 1, (1, 2, 3))
    g0 = 2.0 ** ((140 - 210 - 8 * 1) / 4.0) * 2.0 ** (-1.0 * sf[0][0])
    assert abs(xr[0] - (2 ** (4 / 3)) * g0) < 1e-12
    g1 = 2.0 ** ((140 - 210 - 8 * 2) / 4.0) * 2.0 ** (-1.0 * sf[0][1])
    assert abs(xr[4] + (3 ** (4 / 3)) * g1) < 1e-12
    # the 136..192 tail has no scalefactor
    lines2 = [0] * 576
    lines2[3 * 136] = 1
    xr2 = requantize_short(lines2, 210, sf, 0, (0, 0, 0))
    assert xr2[3 * 136] == 1.0


def test_mixed_block_roundtrip():
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _SLEN, GranuleSpec, decode_mp3_l3, encode_mp3_l3,
        requantize_mixed,
    )

    def mk(d, k):
        big = 30
        lines = [0] * 576
        for i in range(2 * big):
            lines[i] = (d + k + i) % 3 - 1
        scomp = 9
        slen1, slen2 = _SLEN[scomp]
        ssf = {
            "long": [(d + b) % (1 << slen1) for b in range(8)],
            "short": [
                [(d + b + w) % (1 << (slen1 if b < 6 else slen2))
                 for w in range(3)]
                for b in range(3, 12)
            ],
        }
        return GranuleSpec(
            lines=lines, big_values=big, table_sel=(2, 3, 0), count1=0,
            count1_table_b=True, global_gain=150,
            scalefac_compress=scomp, scalefacs=[0] * 21,
            block_type=2, mixed=True, subblock_gain=(1, 2, 3),
            short_scalefacs=ssf,
        )

    gs = [mk(7, k) for k in range(2)]
    d = decode_mp3_l3(encode_mp3_l3(gs))
    for k, g in enumerate(d["granules"]):
        assert g["lines"] == gs[k].lines
        assert g["mixed"]
        want = requantize_mixed(
            gs[k].lines, 150, gs[k].short_scalefacs, 0, (1, 2, 3), 0
        )
        np.testing.assert_allclose(g["xr"], want)


def test_ms_stereo_butterfly():
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        GranuleSpec, decode_mp3_l3, encode_mp3_l3, requantize_long,
    )

    def mk(d, k):
        big = 30
        lines = [0] * 576
        for i in range(2 * big):
            lines[i] = (d + k + i) % 3 - 1
        return GranuleSpec(
            lines=lines, big_values=big, table_sel=(1, 1, 0), count1=0,
            count1_table_b=False, global_gain=120 + d,
            scalefac_compress=0, scalefacs=[0] * 21,
        )

    gs = [mk(2, k) for k in range(8)]
    d = decode_mp3_l3(encode_mp3_l3(gs, nch=2, ms=True))
    g0, g1 = d["granules"][0], d["granules"][1]
    m = requantize_long(gs[0].lines, gs[0].global_gain, [0] * 21, 0, 0)
    s = requantize_long(gs[1].lines, gs[1].global_gain, [0] * 21, 0, 0)
    np.testing.assert_allclose(g0["xr"], (m + s) / np.sqrt(2))
    np.testing.assert_allclose(g1["xr"], (m - s) / np.sqrt(2))
    assert g0.get("ms") and g1.get("ms")


def test_scfsi_forbidden_with_short_blocks():
    gs = [_short_granule(1, k) for k in range(2)]
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        encode_mp3_l3,
    )

    with pytest.raises(ValueError, match="scfsi"):
        encode_mp3_l3(gs, scfsi=8)


def test_intensity_stereo_long_blocks():
    import numpy as np

    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _SFB_LONG_44, GranuleSpec, decode_mp3_l3, encode_mp3_l3,
        intensity_process, requantize_long,
    )

    def mk(d, k, zero_above=None, sf=None):
        big = 30
        lines = [0] * 576
        for i in range(2 * big):
            lines[i] = (d + k + i) % 3 - 1
        if zero_above is not None:
            for i in range(zero_above, 576):
                lines[i] = 0
        return GranuleSpec(
            lines=lines, big_values=big, table_sel=(1, 1, 0), count1=0,
            count1_table_b=False, global_gain=130 + d,
            scalefac_compress=5 if sf else 0, scalefacs=sf or [0] * 21,
        )

    pos_sf = [0] * 21
    for b in range(8, 21):
        pos_sf[b] = b % 2  # positions 0/1 (slen1 = 1 at scomp 5)
    left = mk(4, 0)
    right = mk(4, 1, zero_above=36, sf=pos_sf)
    gs = [left, right, mk(4, 2), mk(4, 3, zero_above=36, sf=pos_sf)]
    d = decode_mp3_l3(encode_mp3_l3(gs, nch=2, intensity=True))
    g0, g1 = d["granules"][0], d["granules"][1]
    assert g0.get("intensity") and g1.get("intensity")
    xl = requantize_long(left.lines, left.global_gain, [0] * 21, 0, 0)
    b = 8
    lo, hi = _SFB_LONG_44[b], _SFB_LONG_44[b + 1]
    ratio = np.tan(pos_sf[b] * np.pi / 12)
    np.testing.assert_allclose(
        g0["xr"][lo:hi], xl[lo:hi] * ratio / (1 + ratio)
    )
    np.testing.assert_allclose(
        g1["xr"][lo:hi], xl[lo:hi] * 1 / (1 + ratio)
    )
    # below the intensity bound: L/R passthrough without MS
    np.testing.assert_allclose(g0["xr"][:36], xl[:36])
    # with MS enabled, bands below the bound take the butterfly
    d2 = decode_mp3_l3(encode_mp3_l3(gs, nch=2, ms=True, intensity=True))
    xr_ = requantize_long(right.lines, right.global_gain, pos_sf, 0, 0)
    np.testing.assert_allclose(
        d2["granules"][0]["xr"][:36], (xl[:36] + xr_[:36]) / np.sqrt(2)
    )
    # is_pos == 7 falls back (illegal position)
    pos7 = [7 if b >= 8 else 0 for b in range(21)]
    right7 = mk(4, 1, zero_above=36, sf=pos7)
    gs7 = [left, right7, mk(4, 2), mk(4, 3, zero_above=36, sf=pos7)]
    # scomp must give slen >= 3 to carry value 7: use scomp 13 (3,3)
    for g in (gs7[1], gs7[3]):
        g.scalefac_compress = 13
    d7 = decode_mp3_l3(encode_mp3_l3(gs7, nch=2, intensity=True))
    np.testing.assert_allclose(d7["granules"][0]["xr"], xl)


def test_midrange_tables_roundtrip():
    """r10: tables 7,8,9 (6x6) and 10,12 (8x8) — values up to 5 / 7
    survive the encode/decode round trip through every region."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        GranuleSpec, decode_mp3_l3, encode_mp3_l3,
    )

    for tabs, vmax in (((7, 8, 9), 5), ((10, 12, 10), 7)):
        for d in (0, 3, 11):
            big = 60
            lines = [0] * 576
            for i in range(2 * big):
                lines[i] = ((d + i) % (2 * vmax + 1)) - vmax
            gs = []
            for k in range(2):
                gs.append(GranuleSpec(
                    lines=lines, big_values=big, table_sel=tabs,
                    count1=0, count1_table_b=False,
                    global_gain=140 + d, scalefac_compress=0,
                    scalefacs=[0] * 21, region0_count=4,
                    region1_count=3,
                ))
            out = decode_mp3_l3(encode_mp3_l3(gs))
            for g in out["granules"]:
                assert g["lines"] == lines, (tabs, d)


def test_esc_linbits_mechanism():
    """The ESC/linbits mechanism (2.4.2.7 syntax order: hcod,
    linbits_x, sign_x, linbits_y, sign_y) round-trips values >= 15
    through an EXPLICIT synthetic 16x16 table. The table is NOT a
    spec table (16/24 remain transcription gates) — this pins the
    mechanism so landing the table data is pure data entry."""
    from neuroimaging_data_pipeline_spark.bitio import (
        BitReader,
        BitWriter,
        lut8,
    )
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _esc_dec_pair, _esc_enc_pair, _invert_table,
    )

    # synthetic complete 16x16 prefix code: canonical code over
    # lengths 7 (16 symbols) + 8 (208) + 9 (32)
    lens = [7] * 16 + [8] * 208 + [9] * 32
    cods, code = [], 0
    prev = lens[0]
    for ln in lens:
        code <<= ln - prev
        cods.append(code)
        code += 1
        prev = ln
    assert sum(2.0 ** -l for l in lens) == 1.0
    raw = _invert_table(lens, cods)
    dmap = (raw, lut8(raw))  # r13 decode-table shape: (map, 8-bit LUT)
    for linbits in (1, 4, 13):
        vals = [(0, 0), (15, -15), (14 + (1 << linbits), -3),
                (-(15 + (1 << linbits) - 1), 15), (7, -14)]
        bw = BitWriter()
        for x, y in vals:
            _esc_enc_pair(bw, 16, lens, cods, linbits, x, y)
        br = BitReader(bw.bytes_())
        got = [_esc_dec_pair(br, 16, dmap, linbits) for _ in vals]
        assert got == vals, linbits
    # out-of-range value is a loud encoder error
    bw = BitWriter()
    with pytest.raises(ValueError, match="linbits"):
        _esc_enc_pair(bw, 16, lens, cods, 1, 17, 0)


def test_esc_spec_tables_still_gated():
    """Selecting table 16/24 raises the narrowed per-table gate (code
    table data, not mechanism)."""
    from neuroimaging_data_pipeline_spark.bitio import BitWriter
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _huff_enc_pair,
    )

    for t in (16, 24, 23, 31):
        with pytest.raises(NotImplementedError, match="mechanism"):
            _huff_enc_pair(BitWriter(), t, 1, 1)


def test_intensity_stereo_short_blocks():
    """r10: PURE-SHORT intensity stereo — per-window intensity bound,
    tan(is_pos*pi/12) pan pinned per window, is_pos 7 fallback."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _SFB_SHORT_44, decode_mp3_l3, encode_mp3_l3,
        intensity_process_short, requantize_short,
    )

    def mk(d, k, zero_above=None, ssf=None):
        big = 40
        lines = [0] * 576
        for i in range(2 * big):
            lines[i] = (d + k + i) % 3 - 1
        if zero_above is not None:
            for i in range(zero_above, 576):
                lines[i] = 0
        from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
            GranuleSpec,
        )

        return GranuleSpec(
            lines=lines, big_values=big, table_sel=(1, 1), count1=0,
            count1_table_b=False, global_gain=130 + d,
            scalefac_compress=5, scalefacs=None, block_type=2,
            subblock_gain=(0, 0, 0),
            short_scalefacs=ssf or [[0] * 3 for _ in range(12)],
        )

    # right channel zero above line 36 (= all three windows of bands
    # 0..3 plus part of band 4's window 0 region); positions 0/1
    pos = [[(b + w) % 2 for w in range(3)] for b in range(12)]
    left = mk(6, 0)
    right = mk(6, 1, zero_above=36, ssf=pos)
    gs = [left, right, mk(6, 2), mk(6, 3, zero_above=36, ssf=pos)]
    d = decode_mp3_l3(encode_mp3_l3(gs, nch=2, intensity=True))
    g0, g1 = d["granules"][0], d["granules"][1]
    assert g0.get("intensity") and g1.get("intensity")
    xl = requantize_short(left.lines, left.global_gain,
                          [[0] * 3 for _ in range(12)], 0, (0, 0, 0))
    want_l, want_r = intensity_process_short(
        xl,
        requantize_short(right.lines, right.global_gain, pos, 0,
                         (0, 0, 0)),
        pos, right.lines, False,
    )
    np.testing.assert_allclose(g0["xr"], want_l)
    np.testing.assert_allclose(g1["xr"], want_r)
    # per-window formula pin on an intensity band: band 6, window 2
    b, w = 6, 2
    lo, hi = _SFB_SHORT_44[b], _SFB_SHORT_44[b + 1]
    s = 3 * lo + w * (hi - lo)
    ratio = np.tan(pos[b][w] * np.pi / 12)
    np.testing.assert_allclose(
        g0["xr"][s : s + (hi - lo)],
        xl[s : s + (hi - lo)] * ratio / (1 + ratio),
    )
    np.testing.assert_allclose(
        g1["xr"][s : s + (hi - lo)],
        xl[s : s + (hi - lo)] * 1 / (1 + ratio),
    )
    # is_pos == 7 everywhere falls back to passthrough
    pos7 = [[7] * 3 for _ in range(12)]
    right7 = mk(6, 1, zero_above=36, ssf=pos7)
    for g in (right7,):
        g.scalefac_compress = 13  # slen 3 carries value 7
    gs7 = [left, right7, mk(6, 2), right7]
    d7 = decode_mp3_l3(encode_mp3_l3(gs7, nch=2, intensity=True))
    np.testing.assert_allclose(d7["granules"][0]["xr"], xl)


def test_e14_shard_pack_decode_pair():
    """mp3_shard_helpers: tar pack -> full Layer III decode round
    trip with order-pinned member naming (the e14 pipeline unit)."""
    import hashlib

    import pandas as pd

    from neuroimaging_data_pipeline_spark.multimodal.mp3_shard_helpers import (  # noqa: E501
        pack_mp3_shard,
    )
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _fixture_granule, encode_mp3_l3,
    )
    from neuroimaging_data_pipeline_spark.multimodal.tar import parse_tar

    docs = [3, 1, 7]  # deliberately unsorted
    blobs = {
        d: encode_mp3_l3([_fixture_granule(d, k)
                          for k in range(2 * (3 + d % 3))])
        for d in docs
    }
    pdf = pd.DataFrame({
        "shard_id": [0] * 3,
        "doc_id": docs,
        "content": [blobs[d] for d in docs],
    })
    out = pack_mp3_shard(pdf)
    members = list(parse_tar(bytes(out["tar"].iloc[0])))
    assert [m[0] for m in members] == [
        "00000001.mp3", "00000003.mp3", "00000007.mp3"
    ]
    for name, data in members:
        d = int(name.split(".")[0])
        assert bytes(data) == blobs[d]
    # decode path: weighted checksum matches a direct decode
    wsums = {}
    for name, data in members:
        out_d = decode_mp3_l3(bytes(data))
        assert out_d["reservoir_used"]
        w = sum(v * (i + 1) * (k + 1)
                for k, g in enumerate(out_d["granules"])
                for i, v in enumerate(g["lines"]) if v)
        wsums[int(name.split(".")[0])] = w
    digest = hashlib.md5(
        "|".join(f"{d}:{wsums[d]}" for d in sorted(docs)).encode()
    ).hexdigest()
    assert len(digest) == 32


def test_intensity_stereo_mixed_blocks():
    """r11: MIXED-block intensity — short-region per-window bound
    with mixed short scalefactor positions, long-region intensity
    when the right channel's zero part reaches below line 36, is_pos
    7 fallback, MS composition below the bound."""
    import numpy as np

    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _SFB_LONG_44,
        _SFB_SHORT_44,
        GranuleSpec,
        decode_mp3_l3,
        encode_mp3_l3,
        intensity_process_mixed,
        requantize_mixed,
    )

    def mk(d, k, zero_above=None, msf=None):
        big = 40
        lines = [0] * 576
        for i in range(2 * big):
            lines[i] = (d + k + i) % 3 - 1
        if zero_above is not None:
            for i in range(zero_above, 576):
                lines[i] = 0
        return GranuleSpec(
            lines=lines, big_values=big, table_sel=(1, 1), count1=0,
            count1_table_b=False, global_gain=130 + d,
            scalefac_compress=5, scalefacs=None, block_type=2,
            mixed=True, subblock_gain=(0, 0, 0),
            short_scalefacs=msf or {"long": [0] * 8,
                                    "short": [[0] * 3] * 9},
        )

    zero_sf = {"long": [0] * 8, "short": [[0] * 3 for _ in range(9)]}
    # positions: long bands 0/1 alternating, short bands (b+w) % 2
    pos = {"long": [b % 2 for b in range(8)],
           "short": [[(b + w) % 2 for w in range(3)] for b in range(9)]}

    # case A: right zero above line 60 — short-region intensity only
    left = mk(6, 0)
    right = mk(6, 1, zero_above=60, msf=pos)
    gs = [left, right, mk(6, 2), mk(6, 3, zero_above=60, msf=pos)]
    d = decode_mp3_l3(encode_mp3_l3(gs, nch=2, intensity=True))
    g0, g1 = d["granules"][0], d["granules"][1]
    assert g0.get("intensity") and g1.get("intensity")
    assert g0["mixed"] and g1["mixed"]
    xl = requantize_mixed(left.lines, left.global_gain, zero_sf, 0,
                          (0, 0, 0), 0)
    xr_ = requantize_mixed(right.lines, right.global_gain, pos, 0,
                           (0, 0, 0), 0)
    want_l, want_r = intensity_process_mixed(
        xl, xr_, pos, right.lines, False
    )
    np.testing.assert_allclose(g0["xr"], want_l)
    np.testing.assert_allclose(g1["xr"], want_r)
    # the long region is NOT intensity (right has content below 36):
    np.testing.assert_allclose(g0["xr"][:36], xl[:36])
    # short-region formula pin: band 8, window 1 is in the zero part
    b, w = 8, 1
    lo, hi = _SFB_SHORT_44[b], _SFB_SHORT_44[b + 1]
    s = 3 * lo + w * (hi - lo)
    ratio = np.tan(pos["short"][b - 3][w] * np.pi / 12)
    np.testing.assert_allclose(
        g0["xr"][s : s + (hi - lo)],
        xl[s : s + (hi - lo)] * ratio / (1 + ratio),
    )

    # case B: right zero above line 20 — the zero part reaches the
    # LONG region; long bands >= bound take long positions
    rightB = mk(6, 1, zero_above=20, msf=pos)
    gsB = [left, rightB, mk(6, 2), mk(6, 3, zero_above=20, msf=pos)]
    dB = decode_mp3_l3(encode_mp3_l3(gsB, nch=2, intensity=True))
    g0B = dB["granules"][0]
    b = 6  # long band 6 spans 24..30, above the bound (20)
    lo, hi = _SFB_LONG_44[b], _SFB_LONG_44[b + 1]
    ratio = np.tan(pos["long"][b] * np.pi / 12)
    np.testing.assert_allclose(
        g0B["xr"][lo:hi], xl[lo:hi] * ratio / (1 + ratio)
    )
    # below the bound without MS: passthrough
    np.testing.assert_allclose(g0B["xr"][:16], xl[:16])

    # case C: MS composition below the bound
    dC = decode_mp3_l3(
        encode_mp3_l3(gsB, nch=2, ms=True, intensity=True)
    )
    xrB = requantize_mixed(rightB.lines, rightB.global_gain, pos, 0,
                           (0, 0, 0), 0)
    np.testing.assert_allclose(
        dC["granules"][0]["xr"][:16],
        (xl[:16] + xrB[:16]) / np.sqrt(2),
    )

    # case D: is_pos 7 everywhere falls back to passthrough
    pos7 = {"long": [7] * 8, "short": [[7] * 3 for _ in range(9)]}
    right7 = mk(6, 1, zero_above=20, msf=pos7)
    right7.scalefac_compress = 13  # slen 3 carries value 7
    gs7 = [left, right7, mk(6, 2), right7]
    d7 = decode_mp3_l3(encode_mp3_l3(gs7, nch=2, intensity=True))
    np.testing.assert_allclose(d7["granules"][0]["xr"], xl)


def test_start_stop_block_types_roundtrip():
    """r11: block types 1 (start) and 3 (stop) — long-layout
    granules under window-switching syntax: 21 long scalefactors +
    preflag, the implied 7/13 region split, two table selects,
    subblock_gain present-but-inert. Round trip + long-path
    requantization pin, mixed into a GOP with long and short
    granules."""
    import numpy as np

    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        GranuleSpec,
        decode_mp3_l3,
        encode_mp3_l3,
        requantize_long,
    )

    def mk(d, k, bt):
        big = 30
        lines = [0] * 576
        for i in range(2 * big):
            lines[i] = (d + k + i) % 3 - 1
        return GranuleSpec(
            lines=lines, big_values=big,
            table_sel=(1, 2) if bt else (1, 2, 0),
            count1=0, count1_table_b=False, global_gain=140 + d,
            scalefac_compress=5,
            scalefacs=[(d + k + b) % 2 for b in range(21)],
            preflag=(d + k) % 2, block_type=bt,
        )

    def mks(d, k):
        big = 30
        lines = [0] * 576
        for i in range(2 * big):
            lines[i] = (d + k + i) % 3 - 1
        return GranuleSpec(
            lines=lines, big_values=big, table_sel=(1, 1),
            count1=0, count1_table_b=False, global_gain=140 + d,
            scalefac_compress=5, scalefacs=None, block_type=2,
            subblock_gain=(0, 1, 0),
            short_scalefacs=[[0] * 3 for _ in range(12)],
        )

    gs = [mk(3, 0, 1), mks(3, 1), mk(3, 2, 3), mk(3, 3, 0)]
    out = decode_mp3_l3(encode_mp3_l3(gs))
    for k in (0, 2, 3):
        g = out["granules"][k]
        assert g["lines"] == gs[k].lines
        assert g["block_type"] == gs[k].block_type
        want = requantize_long(
            gs[k].lines, gs[k].global_gain, gs[k].scalefacs, 0,
            gs[k].preflag,
        )
        np.testing.assert_allclose(g["xr"], want)
    assert out["granules"][1]["block_type"] == 2
