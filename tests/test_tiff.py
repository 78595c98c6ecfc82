"""TIFF codec (multimodal/tiff.py): TIFF-variant LZW (MSB-first,
early-change, ClearCode resets), horizontal predictor, strip layout,
both byte orders — and the pin that this is NOT the GIF LZW."""

from __future__ import annotations

import random
import struct

import pytest

from neuroimaging_data_pipeline_spark.bitio import BitWriter
from neuroimaging_data_pipeline_spark.multimodal.tiff import (
    _CLEAR,
    _EOI,
    _FIRST,
    _diff_rows,
    _undiff_rows,
    lzw_decode,
    lzw_encode,
    read_tiff,
    write_tiff,
)


def _pixels(i: int, w: int = 16, h: int = 12) -> bytes:
    return bytes((i * 13 + y * 31 + x * 7) % 256 for y in range(h) for x in range(w))


def test_lzw_roundtrip_families():
    rng = random.Random(1)
    cases = [
        b"", b"A", b"TOBEORNOTTOBEORTOBEORNOT",
        b"AB" * 4000,                                   # deep repeats
        bytes(rng.randrange(256) for _ in range(20000)),  # forces 4094 reset
        bytes((i * i) % 256 for i in range(5000)),        # crosses every width
    ]
    for c in cases:
        assert lzw_decode(lzw_encode(c)) == c, len(c)


def _late_change_encode(data: bytes) -> bytes:
    """A GIF-timed (LATE-change) encoder over the TIFF bit layout:
    widens one entry later than TIFF requires. Used to prove the
    decoder's width accounting is genuinely EARLY-change — a stream
    with late timing must desync at the 511 boundary, not decode."""
    w = BitWriter()
    table = {bytes([i]): i for i in range(256)}
    next_code, width = _FIRST, 9
    w.u(_CLEAR, width)
    cur = b""
    for b in bytes(data):
        cand = cur + bytes([b])
        if cand in table:
            cur = cand
            continue
        w.u(table[cur], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:  # LATE: 512, not 511
            width += 1
        cur = bytes([b])
    if cur:
        w.u(table[cur], width)
    w.u(_EOI, width)
    return w.bytes_()


def test_early_change_is_load_bearing_at_the_511_boundary():
    # high-entropy input adds ~1 table entry per output code, so a few
    # hundred bytes cross the 9->10 bit switch at code 510
    rng = random.Random(3)
    data = bytes(rng.randrange(256) for _ in range(600))
    assert lzw_decode(lzw_encode(data)) == data
    late = _late_change_encode(data)
    try:
        got = lzw_decode(late)
    except ValueError:
        got = None  # desync detected loudly
    assert got != data  # a late-change stream must NOT decode cleanly


def test_tiff_lzw_is_not_gif_lzw():
    from neuroimaging_data_pipeline_spark.multimodal import gif

    data = bytes((i * 7) % 199 for i in range(1000))
    assert lzw_encode(data) != gif.lzw_encode(data, 8)
    # and the GIF decoder cannot read a TIFF stream (different bit
    # order and width timing)
    try:
        cross = gif.lzw_decode(lzw_encode(data), 8)
    except Exception:
        cross = None
    assert cross != data


def test_predictor_roundtrip_and_effectiveness():
    rows = bytes(range(50, 114)) * 3  # smooth rows: predictor helps
    assert _undiff_rows(_diff_rows(rows, 64), 64) == rows
    assert len(lzw_encode(_diff_rows(rows, 64))) < len(lzw_encode(rows))


@pytest.mark.parametrize("i", range(8))
def test_file_roundtrip_orders_and_compressions(i):
    px = _pixels(i)
    blob = write_tiff(px, 16, 12, compression=5 if i % 2 else 1,
                      little_endian=i % 4 < 2)
    t = read_tiff(blob)
    assert t["pixels"] == px
    assert t["n_strips"] == 3
    assert t["compression"] == ("lzw" if i % 2 else "none")
    assert t["byte_order"] == ("II" if i % 4 < 2 else "MM")


def test_strips_are_located_only_through_the_offset_array():
    blob = bytearray(write_tiff(_pixels(4), 16, 12, compression=1))
    # corrupt the out-of-line StripOffsets array's first entry: the
    # reader must fail on strip size, not fall back to scanning
    t = read_tiff(bytes(blob))
    assert t["pixels"] == _pixels(4)
    at = blob.find(struct.pack("<I", len(blob) - 3 * 64))  # first strip offset
    assert at > 0
    struct.pack_into("<I", blob, at, len(blob) + 50)
    with pytest.raises(ValueError, match="out of bounds"):
        read_tiff(bytes(blob))


def test_header_guards():
    blob = write_tiff(_pixels(1), 16, 12)
    with pytest.raises(ValueError, match="byte-order"):
        read_tiff(b"XX" + blob[2:])
    bad = bytearray(blob)
    struct.pack_into("<H", bad, 2, 43)
    with pytest.raises(ValueError, match="magic"):
        read_tiff(bytes(bad))
