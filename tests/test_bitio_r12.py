"""Property fuzz for the shared bit-I/O kernel (``bitio.py``) and the
codec fast paths built on it: batched reads, zero-scan Exp-Golomb and
unary, the accumulator writer with ``extend``/``nbits``, the 8-bit
first-level prefix-code LUT, bounded LEB128 varints, find()-driven
emulation prevention and int-keyed VLC walks. Each is compared against
a transcribed per-bit reference model on random inputs.

The vectorized codec pass is only safe because outputs are
bit-identical — these pins make that property survive future edits
without needing the full oracle battery to catch a drift.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neuroimaging_data_pipeline_spark.bitio import (
    BitReader,
    BitWriter,
    lut8,
    read_uvarint,
    unzigzag,
    write_uvarint,
    zigzag,
)
from neuroimaging_data_pipeline_spark.multimodal.h264 import (
    _ep_insert,
    _ep_remove,
)


# --- reference models (the pre-r12 per-bit forms, transcribed) -------------


def _ref_read_bits(data: bytes, reads: list[int]) -> list[int] | None:
    """Per-bit reader; None = ran dry (the fast reader must raise)."""
    out = []
    pos = 0
    for n in reads:
        v = 0
        for _ in range(n):
            if (pos >> 3) >= len(data):
                return None
            v = (v << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        out.append(v)
    return out


def _ref_write_bits(writes: list[tuple[int, int]]) -> bytes:
    bits: list[int] = []
    for v, n in writes:
        for k in range(n - 1, -1, -1):
            bits.append((v >> k) & 1)
    bits += [0] * (-len(bits) % 8)
    return bytes(
        int("".join(map(str, bits[i : i + 8])), 2)
        for i in range(0, len(bits), 8)
    )


def _ref_ep_insert(rbsp: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _ref_ep_remove(nal: bytes) -> bytes:
    out = bytearray()
    zeros = 0
    i = 0
    while i < len(nal):
        b = nal[i]
        if zeros >= 2 and b == 3 and (i + 1 >= len(nal) or nal[i + 1] <= 3):
            zeros = 0
            i += 1
            continue
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
        i += 1
    return bytes(out)


# --- properties ------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=64),
    widths=st.lists(st.integers(0, 33), min_size=0, max_size=40),
)
def test_bitr_matches_per_bit_reference(data, widths):
    want = _ref_read_bits(data, widths)
    r = BitReader(data)
    if want is None:
        with pytest.raises(ValueError):
            for n in widths:
                r.u(n)
        return
    got = [r.u(n) for n in widths]
    assert got == want
    assert r.pos == sum(widths)


@settings(max_examples=300, deadline=None)
@given(
    writes=st.lists(
        st.tuples(st.integers(0, (1 << 33) - 1), st.integers(1, 33)),
        min_size=0, max_size=40,
    )
)
def test_bitw_matches_per_bit_reference(writes):
    w = BitWriter()
    for v, n in writes:
        w.u(v, n)
    w.align_zero()
    assert w.bytes_() == _ref_write_bits(writes)


@settings(max_examples=300, deadline=None)
@given(vals=st.lists(st.integers(0, 100_000), min_size=1, max_size=30))
def test_expgolomb_roundtrip(vals):
    w = BitWriter()
    for v in vals:
        w.ue(v)
    w.trailing()
    r = BitReader(w.bytes_())
    assert [r.ue() for _ in vals] == vals
    # signed twin
    w2 = BitWriter()
    signed = [v - 50_000 for v in vals]
    for v in signed:
        w2.se(v)
    w2.trailing()
    r2 = BitReader(w2.bytes_())
    assert [r2.se() for _ in signed] == signed


@settings(max_examples=400, deadline=None)
@given(data=st.binary(min_size=0, max_size=96))
def test_ep_insert_matches_reference_and_roundtrips(data):
    ins = _ep_insert(data)
    assert ins == _ref_ep_insert(data)
    assert _ep_remove(ins) == data


@settings(max_examples=400, deadline=None)
@given(data=st.binary(min_size=0, max_size=96))
def test_ep_remove_matches_reference(data):
    assert _ep_remove(data) == _ref_ep_remove(data)


@settings(max_examples=200, deadline=None)
@given(data=st.binary(min_size=0, max_size=64), seed=st.integers(0, 2**31))
def test_ep_zero_run_stress(data, seed):
    """Zero-run-heavy payloads (the emulation-prevention hot case)."""
    rng = np.random.default_rng(seed)
    buf = bytearray(data)
    for _ in range(min(8, len(buf))):
        i = int(rng.integers(0, max(1, len(buf))))
        buf[i : i + 1] = b"\x00" * int(rng.integers(1, 4))
    payload = bytes(buf)
    ins = _ep_insert(payload)
    assert ins == _ref_ep_insert(payload)
    assert _ep_remove(ins) == payload


def test_mp3_bitio_matches_reference():
    """MP3's field widths through the shared writer/reader: random
    field sequences round-trip and the writer's bytes match the
    bit-list reference; extend() preserves exact bit concatenation."""
    rng = np.random.default_rng(7)
    for _ in range(200):
        writes = [
            (int(rng.integers(0, 1 << int(n))), int(n))
            for n in rng.integers(1, 25, size=int(rng.integers(1, 30)))
        ]
        w = BitWriter()
        for v, n in writes:
            w.u(v, n)
        assert w.nbits() == sum(n for _, n in writes)
        assert w.bytes_() == _ref_write_bits(writes)
        r = BitReader(w.bytes_())
        assert [r.u(n) for _, n in writes] == [
            v & ((1 << n) - 1) for v, n in writes
        ]
        # split at a random point and re-join via extend()
        cut = int(rng.integers(0, len(writes) + 1))
        wa, wb = BitWriter(), BitWriter()
        for v, n in writes[:cut]:
            wa.u(v, n)
        for v, n in writes[cut:]:
            wb.u(v, n)
        wa.extend(wb)
        assert wa.bytes_() == w.bytes_() and wa.nbits() == w.nbits()


def test_mp3_walk_code_matches_string_walk():
    """_walk_code on the shipped tables equals the r11 string walk."""
    from neuroimaging_data_pipeline_spark.multimodal.mp3l3 import (
        _DEC_BIG,
        _HUFF_BIG,
        _walk_code,
    )

    rng = np.random.default_rng(11)
    for t, (nx, lens, cods) in _HUFF_BIG.items():
        dmap = _DEC_BIG[t][1]
        idxs = rng.integers(0, len(lens), size=40)
        w = BitWriter()
        for i in idxs:
            w.u(int(cods[int(i)]), int(lens[int(i)]))
        w.u(0, 7)  # slack so the walk never runs dry mid-code
        r = BitReader(w.bytes_())
        for i in idxs:
            assert _walk_code(r, dmap, 19, "t") == int(i)


# --- shared kernel: unary, extend/nbits, lut8, varints ----------------------


def _ref_unary(data: bytes, pos: int) -> tuple[int, int] | None:
    """Per-bit zero count up to the next one bit -> (count, new pos);
    None = ran dry."""
    q = 0
    while True:
        if (pos >> 3) >= len(data):
            return None
        bit = (data[pos >> 3] >> (7 - (pos & 7))) & 1
        pos += 1
        if bit:
            return q, pos
        q += 1


@settings(max_examples=300, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=48).map(
        lambda b: bytes(x & 0x81 for x in b)  # long zero runs
    ) | st.binary(min_size=0, max_size=48),
    ops=st.lists(st.integers(-1, 17), min_size=0, max_size=30),
)
def test_unary_matches_per_bit_reference(data, ops):
    """unary() interleaved with u(n) reads (-1 = unary) tracks the
    per-bit model, including runs that cross 64-bit windows."""
    r = BitReader(data)
    pos = 0
    for op in ops:
        if op < 0:
            want = _ref_unary(data, pos)
            if want is None:
                with pytest.raises(ValueError, match="truncated"):
                    r.unary()
                return
            assert r.unary() == want[0]
            pos = want[1]
        else:
            want = _ref_read_bits(data, [pos, op])
            if want is None:
                with pytest.raises(ValueError, match="truncated"):
                    r.u(op)
                return
            assert r.u(op) == want[1]
            pos += op
        assert r.pos == pos


def test_unary_long_run_and_exhaustion():
    data = bytes(40) + b"\x01"  # 327 zeros then the marker
    r = BitReader(data, 3)
    assert r.unary() == 324 and r.pos == len(data) * 8
    for bad in (b"", bytes(9)):
        with pytest.raises(ValueError, match="truncated"):
            BitReader(bad).unary()


@settings(max_examples=300, deadline=None)
@given(
    writes=st.lists(
        st.tuples(st.integers(0, (1 << 40) - 1), st.integers(0, 40)),
        min_size=0, max_size=60,
    ),
    cut=st.integers(0, 60),
)
def test_writer_extend_and_nbits_match_reference(writes, cut):
    """Split a field sequence across two writers at any point — with
    any number of pending bits on either side, including past the
    128-bit flush — and extend(): the bytes and nbits() equal one
    writer's and the per-bit reference."""
    masked = [(v & ((1 << n) - 1), n) for v, n in writes]
    w = BitWriter()
    for v, n in writes:
        w.u(v, n)
    total = sum(n for _, n in writes)
    assert w.nbits() == total
    assert w.bytes_() == _ref_write_bits(masked)
    assert w.nbits() == total  # bytes_() pads the copy, not the writer
    wa, wb = BitWriter(), BitWriter()
    for v, n in writes[:cut]:
        wa.u(v, n)
    for v, n in writes[cut:]:
        wb.u(v, n)
    wa.extend(wb)
    assert wa.nbits() == total
    assert wa.bytes_() == w.bytes_()
    wa.u(1, 1)  # writing on after bytes_() continues the same stream
    assert wa.bytes_() == _ref_write_bits(masked + [(1, 1)])


def test_flac_unary_field_is_a_one_in_q_plus_one_bits():
    """The rice quotient is written as u(1, q + 1) and read back by
    unary() for quotients far past one accumulator flush."""
    qs = [0, 1, 7, 8, 31, 32, 33, 127, 128, 129, 300, 1000]
    w = BitWriter()
    for q in qs:
        w.u(1, q + 1)
        w.u(5, 3)
    r = BitReader(w.bytes_())
    for q in qs:
        assert r.unary() == q
        assert r.u(3) == 5


def _ref_lut8(dec: dict) -> list:
    """Independent form: for each 8-bit window, the unique (<= 8 bit)
    code of the map that prefixes it."""
    lut: list = [None] * 256
    for p8 in range(256):
        hits = [
            (sym, ln) for (ln, code), sym in dec.items()
            if ln <= 8 and p8 >> (8 - ln) == code
        ]
        assert len(hits) <= 1, "not prefix-free"
        lut[p8] = hits[0] if hits else None
    return lut


def _ref_walk(data: bytes, dec: dict, n_syms: int) -> list:
    """Plain per-bit prefix-code walk over a (length, code) map."""
    out, pos = [], 0
    for _ in range(n_syms):
        code = ln = 0
        while (ln, code) not in dec:
            code = (code << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
            ln += 1
        out.append(dec[(ln, code)])
    return out


def _cavlc_tables():
    from neuroimaging_data_pipeline_spark.multimodal import h264_intra as hi

    return [hi._CT_DEC[id(t)] for t in (hi._CT_N0, hi._CT_N2, hi._CT_N4,
                                        hi._CT_CDC)] + [
        *hi._TZ4_DEC.values(), *hi._TZC_DEC.values(), *hi._RUN_DEC.values()
    ]


def _mp3_tables():
    from neuroimaging_data_pipeline_spark.multimodal import mp3l3 as m

    return [dtab for _nx, dtab in m._DEC_BIG.values()] + [m._DEC_C1A]


def _jpeg_tables():
    from neuroimaging_data_pipeline_spark.multimodal import jpeg as j

    out = []
    for bits, vals in ((j._DC_BITS, j._DC_VALS), (j._AC_BITS, j._AC_VALS)):
        dec = {
            (ln, code): sym
            for sym, (code, ln) in j._canonical_codes(bits, vals).items()
        }
        out.append((dec, lut8(dec)))
    return out


@pytest.mark.parametrize("family", ["cavlc", "mp3", "jpeg"])
def test_lut8_matches_independent_prefix_scan(family):
    tabs = {"cavlc": _cavlc_tables, "mp3": _mp3_tables,
            "jpeg": _jpeg_tables}[family]()
    assert tabs
    for dec, lut in tabs:
        assert lut == _ref_lut8(dec) == lut8(dec)


def _encode_syms(dec: dict, idxs) -> tuple[list, list[tuple[int, int]]]:
    codes = sorted(dec.items(), key=lambda kv: kv[0])
    picked = [codes[int(i) % len(codes)] for i in idxs]
    return [sym for _, sym in picked], [(code, ln) for (ln, code), _ in picked]


@pytest.mark.parametrize("family", ["cavlc", "mp3", "jpeg"])
def test_lut8_decoders_match_plain_bit_walk(family):
    """Each codec's LUT-first decoder (H.264 _read_vlc, MP3 _walk_code,
    JPEG _BitReader.huff) equals a plain per-bit walk on random symbol
    streams, long codes included."""
    from neuroimaging_data_pipeline_spark.multimodal import h264_intra as hi
    from neuroimaging_data_pipeline_spark.multimodal import jpeg as j
    from neuroimaging_data_pipeline_spark.multimodal import mp3l3 as m

    rng = np.random.default_rng(23)
    tabs = {"cavlc": _cavlc_tables, "mp3": _mp3_tables,
            "jpeg": _jpeg_tables}[family]()
    for dtab in tabs:
        dec = dtab[0]
        syms, fields = _encode_syms(dec, rng.integers(0, 1 << 30, size=60))
        if family == "jpeg":
            jw = j._BitWriter()
            for code, ln in fields:
                jw.put(code, ln)
            jr = j._BitReader(jw.flush())
            got = [jr.huff(dtab) for _ in syms]
        else:
            w = BitWriter()
            for code, ln in fields:
                w.u(code, ln)
            w.u(0, 24)  # slack: a walk never runs dry mid-code
            data = w.bytes_()
            assert _ref_walk(data, dec, len(syms)) == syms
            r = BitReader(data)
            if family == "cavlc":
                got = [hi._read_vlc(r, dtab, "t") for _ in syms]
            else:
                got = [m._walk_code(r, dtab, 19, "t") for _ in syms]
            assert r.pos == sum(ln for _, ln in fields)
        assert got == syms


@settings(max_examples=400, deadline=None)
@given(n=st.integers(0, (1 << 64) - 1), pad=st.binary(max_size=3))
def test_varint_roundtrip_64(n, pad):
    enc = write_uvarint(n)
    assert len(enc) <= 10
    # reference: 7-bit groups, low first, continuation on all but last
    groups = [(n >> (7 * k)) & 0x7F for k in range(len(enc))]
    assert list(enc) == [g | 0x80 for g in groups[:-1]] + [groups[-1]]
    assert read_uvarint(pad + enc + b"\x00", len(pad), 10) == (
        n, len(pad) + len(enc)
    )


@settings(max_examples=200, deadline=None)
@given(n=st.integers(0, (1 << 32) - 1))
def test_varint_roundtrip_snappy_bound(n):
    enc = write_uvarint(n)
    assert len(enc) <= 5
    assert read_uvarint(enc, 0, 5) == (n, len(enc))


@pytest.mark.parametrize("max_bytes", [5, 10])
def test_varint_bounds(max_bytes):
    longest = b"\xff" * (max_bytes - 1) + b"\x01"
    assert read_uvarint(longest, 0, max_bytes)[1] == max_bytes
    with pytest.raises(ValueError, match="longer than"):
        read_uvarint(b"\xff" * max_bytes + b"\x01", 0, max_bytes)
    with pytest.raises(ValueError, match="longer than"):
        read_uvarint(b"\x80" * 40 + b"\x01", 0, max_bytes)
    for cut in range(max_bytes):
        with pytest.raises(ValueError, match="truncated"):
            read_uvarint(b"\x80" * cut, 0, max_bytes)


@settings(max_examples=300, deadline=None)
@given(n=st.integers(-(1 << 63), (1 << 63) - 1))
def test_zigzag_matches_reference(n):
    z = zigzag(n)
    assert z == (2 * n if n >= 0 else -2 * n - 1)
    assert unzigzag(z) == n


# --- Avro and Parquet-footer varint readers are bounded --------------------


def test_avro_varint_truncated_and_overlong_raise_valueerror():
    from neuroimaging_data_pipeline_spark.sources.avro import _zigzag_decode

    with pytest.raises(ValueError, match="truncated"):
        _zigzag_decode(b"\x80\x80", 0)
    with pytest.raises(ValueError):
        _zigzag_decode(b"\x80" * 40 + b"\x01", 0)
    assert _zigzag_decode(b"\x03", 0) == (-2, 1)


def test_parquet_footer_varint_truncated_and_overlong_raise_valueerror():
    from neuroimaging_data_pipeline_spark.sources.parquet_meta import _Reader

    with pytest.raises(ValueError, match="truncated"):
        _Reader(b"\x80\x80").varint()
    with pytest.raises(ValueError):
        _Reader(b"\x80" * 40 + b"\x01").varint()
    assert _Reader(b"\x96\x01").varint() == 150
    assert _Reader(b"\x03").zigzag() == -2
