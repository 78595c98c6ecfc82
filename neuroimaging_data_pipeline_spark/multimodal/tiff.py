"""TIFF 6.0 image codec, stdlib-only and from scratch — the strip-
organized raster container scientific and scanned corpora ship in.
Reuses the IFD entry machinery the EXIF codec already proved
(multimodal/exif.py — EXIF *is* a TIFF IFD), and adds the parts that
make a standalone TIFF file: the 8-byte header, the baseline raster
tags, STRIP-based pixel storage, and the two classic compressions.

What is REAL here, both directions:

- the header (II/MM byte-order mark — both orders written and
  parsed — 42 magic, IFD0 offset) and a baseline-grayscale IFD0
  (ImageWidth/Length, BitsPerSample, Compression, Photometric,
  StripOffsets, RowsPerStrip, StripByteCounts, SamplesPerPixel),
  with multi-value arrays stored out-of-line per the 4-byte inline
  rule;
- strips: pixels split into RowsPerStrip-row strips, each located
  ONLY through the StripOffsets/StripByteCounts arrays (the layout
  that lets a reader fetch one strip of a huge raster — the same
  random-access posture as the ZIP and SQLite sources here);
- TIFF-variant LZW (spec section 13): MSB-first bit packing, 256
  Clear / 257 EOI, 9→12-bit codes with the notorious EARLY-CHANGE
  rule — the encoder widens when the next free code reaches
  2^w - 1 (511/1023/2047) and the one-entry-behind decoder mirrors
  it at 2^w - 2 (510/1022/2046); the table resets via ClearCode at
  code 4094.  This is NOT the GIF LZW in multimodal/gif.py, which
  packs LSB-first and changes late — the pair of variants is pinned
  apart in pytest;
- the horizontal-differencing predictor (tag 317 = 2) applied per
  row before LZW, undone after decode.

The m27 oracle recomputes width/height/strip-count and the per-image
pixel mean/sum from the pure integer pixel formula, so a bug in byte
order, IFD layout, strip offsets, LZW widths or the predictor breaks
the hash match.

Scale: opaque binary + Arrow ``mapInPandas``, narrow, zero shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from neuroimaging_data_pipeline_spark.bitio import BitReader, BitWriter
from neuroimaging_data_pipeline_spark.multimodal.exif import (
    _ifd_bytes,
    _read_ifd,
)

TAG_WIDTH = 0x0100
TAG_LENGTH = 0x0101
TAG_BITS = 0x0102
TAG_COMPRESSION = 0x0103
TAG_PHOTOMETRIC = 0x0106
TAG_STRIP_OFFSETS = 0x0111
TAG_SAMPLES = 0x0115
TAG_ROWS_PER_STRIP = 0x0116
TAG_STRIP_COUNTS = 0x0117
TAG_PREDICTOR = 0x013D

_CLEAR, _EOI, _FIRST = 256, 257, 258
_MAX_CODE = 4094  # table resets via ClearCode when the next free code gets here


# --- TIFF-variant LZW ------------------------------------------------------------
# codes pack MSB-first (GIF's LZW packs LSB-first — a different codec)


def lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 LZW: the encoder widens EARLY — as soon as the next
    free code equals 2^w - 1 (libtiff's maxcode = 2^w - 2 bound) —
    and emits ClearCode when the next free code reaches 4094."""
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
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == _MAX_CODE:
            w.u(_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = _FIRST, 9
        cur = bytes([b])
    if cur:
        w.u(table[cur], width)
    w.u(_EOI, width)
    return w.bytes_()


def lzw_decode(buf: bytes) -> bytes:
    """Mirror decoder: one table entry BEHIND the encoder at every
    read, so the early-change thresholds shift down one — widen when
    the next free code equals 2^w - 2 (510/1022/2046)."""
    r = BitReader(bytes(buf))
    out = bytearray()
    table: list[bytes] = []
    next_code = width = 0
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, next_code, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        next_code, width, prev = _FIRST, 9, None

    reset()
    while True:
        code = r.u(width)
        if code == _EOI:
            return bytes(out)
        if code == _CLEAR:
            reset()
            continue
        if prev is None:  # first code after (re)start: a literal
            if code >= 256:
                raise ValueError("non-literal code right after Clear")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
            table.append(prev + entry[:1])
            next_code += 1
        elif code == next_code:  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
            next_code += 1
        else:
            raise ValueError(f"LZW code {code} ahead of table ({next_code})")
        if next_code == (1 << width) - 2 and width < 12:
            width += 1
        if next_code > 4095:
            raise ValueError("LZW table overflow (encoder missed Clear)")
        out += entry
        prev = entry


# --- predictor -------------------------------------------------------------------


def _diff_rows(raw: bytes, row_bytes: int) -> bytes:
    out = bytearray(raw)
    for r0 in range(0, len(out), row_bytes):
        for x in range(min(row_bytes, len(out) - r0) - 1, 0, -1):
            out[r0 + x] = (out[r0 + x] - out[r0 + x - 1]) & 0xFF
    return bytes(out)


def _undiff_rows(raw: bytes, row_bytes: int) -> bytes:
    out = bytearray(raw)
    for r0 in range(0, len(out), row_bytes):
        for x in range(1, min(row_bytes, len(out) - r0)):
            out[r0 + x] = (out[r0 + x] + out[r0 + x - 1]) & 0xFF
    return bytes(out)


# --- file writer / reader --------------------------------------------------------


def write_tiff(
    pixels: bytes,
    width: int,
    height: int,
    rows_per_strip: int = 4,
    compression: int = 1,
    little_endian: bool = True,
) -> bytes:
    """Baseline grayscale (8-bit, 1 sample) TIFF with strip storage.
    compression 1 = none, 5 = LZW with the horizontal predictor."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if compression not in (1, 5):
        raise NotImplementedError(f"compression {compression}")
    end = "<" if little_endian else ">"
    bom = b"II" if little_endian else b"MM"
    strips = []
    for y0 in range(0, height, rows_per_strip):
        raw = pixels[y0 * width : min(y0 + rows_per_strip, height) * width]
        if compression == 5:
            raw = lzw_encode(_diff_rows(raw, width))
        strips.append(raw)
    n = len(strips)
    entries = [
        (TAG_WIDTH, 3, [width]),
        (TAG_LENGTH, 3, [height]),
        (TAG_BITS, 3, [8]),
        (TAG_COMPRESSION, 3, [compression]),
        (TAG_PHOTOMETRIC, 3, [1]),  # BlackIsZero
        (TAG_STRIP_OFFSETS, 4, [0] * n),  # patched after layout
        (TAG_SAMPLES, 3, [1]),
        (TAG_ROWS_PER_STRIP, 3, [rows_per_strip]),
        (TAG_STRIP_COUNTS, 4, [len(s) for s in strips]),
    ]
    if compression == 5:
        entries.append((TAG_PREDICTOR, 3, [2]))
    # layout: header(8) + IFD block + strip data; IFD size is stable
    # across the offset patch (same counts), so two passes suffice
    ifd = _ifd_bytes(end, 8, entries)
    data_at = 8 + len(ifd)
    offsets = []
    for s in strips:
        offsets.append(data_at)
        data_at += len(s)
    entries[5] = (TAG_STRIP_OFFSETS, 4, offsets)
    ifd = _ifd_bytes(end, 8, entries)
    return (
        bom + struct.pack(end + "HI", 42, 8) + ifd + b"".join(strips)
    )


def read_tiff(buf: bytes) -> dict:
    """Parse a baseline grayscale TIFF back to pixels + tag facts.
    Strips are located only through StripOffsets/StripByteCounts."""
    buf = bytes(buf)
    bom = buf[:2]
    if bom == b"II":
        end = "<"
    elif bom == b"MM":
        end = ">"
    else:
        raise ValueError(f"bad TIFF byte-order mark {bom!r}")
    magic, ifd_at = struct.unpack_from(end + "HI", buf, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    f, _next = _read_ifd(buf, end, ifd_at)
    width, height = int(f[TAG_WIDTH]), int(f[TAG_LENGTH])
    comp = int(f.get(TAG_COMPRESSION, 1))
    if int(f.get(TAG_BITS, 8)) != 8 or int(f.get(TAG_SAMPLES, 1)) != 1:
        raise NotImplementedError("grayscale 8-bit/1-sample only")
    offs = f[TAG_STRIP_OFFSETS]
    cnts = f[TAG_STRIP_COUNTS]
    offs = offs if isinstance(offs, list) else [offs]
    cnts = cnts if isinstance(cnts, list) else [cnts]
    if len(offs) != len(cnts):
        raise ValueError("strip offset/count arrays disagree")
    rps = int(f.get(TAG_ROWS_PER_STRIP, height))
    predictor = int(f.get(TAG_PREDICTOR, 1))
    pixels = bytearray()
    for i, (o, c) in enumerate(zip(offs, cnts)):
        raw = buf[o : o + c]
        if len(raw) != c:
            raise ValueError(f"strip {i} out of bounds")
        if comp == 5:
            raw = lzw_decode(raw)
            if predictor == 2:
                raw = _undiff_rows(raw, width)
        elif comp != 1:
            raise NotImplementedError(f"compression {comp}")
        n_rows = min(rps, height - i * rps)
        if len(raw) != n_rows * width:
            raise ValueError(f"strip {i} wrong decoded size")
        pixels += raw
    if len(pixels) != width * height:
        raise ValueError("strips do not cover the raster")
    return {
        "width": width,
        "height": height,
        "compression": {1: "none", 5: "lzw"}[comp],
        "n_strips": len(offs),
        "pixels": bytes(pixels),
        "byte_order": bom.decode(),
    }


# --- Spark surface ---------------------------------------------------------------

_W, _H = 16, 12


def synthesize_tiff_images(
    docs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """One TIFF per document from the pure integer pixel formula
    v = (id*13 + y*31 + x*7) % 256 (the oracle recomputes it in SQL).
    Odd ids: LZW + predictor; even: uncompressed. Byte order flips
    every two ids so both orders stay hot."""
    out_schema = f"{id_col} long, content binary"

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for i in pdf[id_col]:
                i = int(i)
                px = bytes(
                    (i * 13 + y * 31 + x * 7) % 256
                    for y in range(_H)
                    for x in range(_W)
                )
                blobs.append(
                    write_tiff(
                        px, _W, _H,
                        compression=5 if i % 2 else 1,
                        little_endian=i % 4 < 2,
                    )
                )
                ids.append(i)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "content": pd.Series(blobs, dtype=object)})

    return docs.select(id_col).mapInPandas(build, out_schema)


def tiff_features(
    media: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
) -> DataFrame:
    out_schema = (
        f"{id_col} long, width int, height int, compression string,"
        " n_strips long, mean_px double, sum_px long"
    )

    def feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, content in zip(pdf[id_col], pdf[content_col]):
                t = read_tiff(bytes(content))
                px = t["pixels"]
                rows.append(
                    (int(i), t["width"], t["height"], t["compression"],
                     t["n_strips"], sum(px) / len(px), sum(px))
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "compression",
                         "n_strips", "mean_px", "sum_px"],
            )

    return media.mapInPandas(feat, out_schema)
