"""Shared bit-level kernel for the codec family.

One MSB-first bit writer and reader (H.264, MP3, FLAC, TIFF LZW,
bzip2), the 8-bit first-level prefix-code LUT (H.264 CAVLC, MP3
Huffman pairs, JPEG DHT) and LEB128 varints with zigzag (protobuf,
Snappy, Avro, Thrift compact, xz). Each codec keeps its own syntax layer
on top; the formats that fit none of these (JPEG's byte-stuffed scan,
inflate's LSB-first and zstd's backward streams, SQLite's big-endian
varint) keep their own readers.
"""

from __future__ import annotations

# --- MSB-first bits ---------------------------------------------------------


class BitWriter:
    """``u`` does not split bytes per call: pending bits pile up in the
    integer accumulator and are flushed to the bytearray in one
    ``to_bytes`` per ~16 bytes (a 128-bit flush threshold measured
    fastest; larger ones make every call shift a big accumulator).
    ``n`` counts ALL pending bits, so external ``n % 8`` alignment
    checks keep their meaning. Values are masked to their field
    width."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def u(self, v: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (v & ((1 << bits) - 1))
        n = self.n + bits
        if n >= 128:
            rem = n & 7
            self.out += (self.acc >> rem).to_bytes((n - rem) >> 3, "big")
            self.acc &= (1 << rem) - 1
            n = rem
        self.n = n

    def ue(self, v: int) -> None:
        # Exp-Golomb codeword = (nbits-1) zeros then the nbits-bit
        # code — exactly `code` written in a 2*nbits-1 bit field.
        code = v + 1
        self.u(code, 2 * code.bit_length() - 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def extend(self, other: BitWriter) -> None:
        """Append another writer's whole bitstream (no byte alignment
        assumed on either side)."""
        self.u(int.from_bytes(other.out, "big"), len(other.out) << 3)
        self.u(other.acc, other.n)

    def nbits(self) -> int:
        return (len(self.out) << 3) + self.n

    def _flush(self) -> None:
        if self.n >= 8:
            rem = self.n & 7
            self.out += (
                (self.acc >> rem).to_bytes((self.n - rem) >> 3, "big")
            )
            self.acc &= (1 << rem) - 1
            self.n = rem

    def align_zero(self) -> None:
        pad = (-self.n) % 8
        if pad:
            self.acc <<= pad
            self.n += pad
        self._flush()

    def trailing(self) -> None:
        self.u(1, 1)
        self.align_zero()

    def bytes_(self) -> bytes:
        """The stream so far, zero-padded to a byte boundary (the
        padding is not written into the writer)."""
        self._flush()
        if self.n:
            return bytes(self.out) + bytes(
                [(self.acc << (8 - self.n)) & 0xFF]
            )
        return bytes(self.out)


class BitReader:
    """Position-based reader: ``pos`` is the bit offset into ``data``,
    so inlined decode loops may read ``data``/``pos`` directly and
    write ``pos`` back. Every read past the end raises ValueError."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def u(self, bits: int) -> int:
        # Batched extraction: pull the spanned bytes in one slice and
        # shift — O(bytes spanned), not O(bits).
        pos = self.pos
        end = pos + bits
        if bits == 1:  # single-flag reads dominate; skip the slice
            try:
                byte = self.data[pos >> 3]
            except IndexError:
                raise ValueError("truncated bitstream") from None
            self.pos = end
            return (byte >> (7 - (pos & 7))) & 1
        last = (end + 7) >> 3
        if last > len(self.data):
            raise ValueError("truncated bitstream")
        self.pos = end
        chunk = int.from_bytes(self.data[pos >> 3 : last], "big")
        return (chunk >> ((last << 3) - end)) & ((1 << bits) - 1)

    def ue(self) -> int:
        # One 48-bit window + bit_length instead of a per-bit
        # zero-prefix scan (the prefix is capped at 32, so six bytes
        # always cover it when the stream has the bits; a shorter
        # window means the stream tail).
        data = self.data
        pos = self.pos
        n = len(data) << 3
        if pos >= n:
            raise ValueError("truncated bitstream")
        byte_i = pos >> 3
        win = int.from_bytes(data[byte_i : byte_i + 6], "big")
        m = ((min(byte_i + 6, len(data)) - byte_i) << 3) - (pos & 7)
        val = win & ((1 << m) - 1)  # the next m real bits
        if val == 0:
            if m > 32:
                raise ValueError("bad Exp-Golomb code")
            raise ValueError("truncated bitstream")
        zeros = m - val.bit_length()
        if zeros > 32:
            raise ValueError("bad Exp-Golomb code")
        self.pos = pos + zeros + 1
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def unary(self) -> int:
        """Count the zeros before the next one bit and consume both
        (FLAC's rice quotient), a 64-bit window + bit_length at a
        time."""
        data = self.data
        pos = self.pos
        q = 0
        while True:
            win = data[pos >> 3 : (pos >> 3) + 8]
            if not win:
                raise ValueError("truncated bitstream")
            m = (len(win) << 3) - (pos & 7)
            val = int.from_bytes(win, "big") & ((1 << m) - 1)
            if val:
                zeros = m - val.bit_length()
                self.pos = pos + zeros + 1
                return q + zeros
            q += m
            pos += m

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


# --- prefix codes -----------------------------------------------------------


def lut8(dec: dict) -> list:
    """256-entry first-level decode LUT over the next 8 bits of a
    prefix code whose decode map is keyed by (code length, code
    value): entry = (symbol, code length) for codes of <= 8 bits, None
    for the longer tail, which callers resolve with a bit walk over
    ``dec``. Prefix-freedom makes the shortest map hit on any 8-bit
    window the transmitted code."""
    lut: list = [None] * 256
    for p8 in range(256):
        for ln in range(1, 9):
            hit = dec.get((ln, p8 >> (8 - ln)))
            if hit is not None:
                lut[p8] = (hit, ln)
                break
    return lut


# --- LEB128 varints ---------------------------------------------------------


def write_uvarint(n: int) -> bytes:
    """Unsigned LEB128: 7 bits per byte, low group first, high bit set
    on every byte but the last."""
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def read_uvarint(
    buf: bytes | memoryview, pos: int, max_bytes: int
) -> tuple[int, int]:
    """Decode one unsigned LEB128 at ``pos`` -> (value, next pos).
    ``max_bytes`` is the format's bound: 10 for 64-bit values
    (protobuf, Avro, Thrift), 9 for xz's 63-bit VLI, 5 for Snappy's
    32-bit length."""
    val = shift = 0
    for i in range(pos, pos + max_bytes):
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i + 1
        shift += 7
    raise ValueError(f"varint longer than {max_bytes} bytes")


def zigzag(n: int) -> int:
    """Signed 64-bit -> unsigned, small magnitudes first."""
    return (n << 1) ^ (n >> 63)


def unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)
