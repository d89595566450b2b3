"""Bit readers shared by the hand-written codecs.

``BitReader`` reads MSB-first: CCITT G3/G4, H.264 parameter sets and
CAVLC residuals, FLAC frames, JPEG entropy segments. ``LsbBitReader``
reads LSB-first: VP8L, and zstd's FSE table headers. Both start at a
byte offset into ``data`` without copying it and keep ``pos`` as an
absolute bit offset into ``data``.

Truncation has one behaviour: a read that would cross the end of
``data``, or
that asks for a negative width, raises ``BitstreamError``. Each public
decoder catches it once at its entry point and returns its documented
``None``. ``peek`` never raises; bits past the end read as 0, so a
decoder can look ahead at the tail of a stream.

``ebsp_to_rbsp`` strips H.264 emulation-prevention bytes.

Two readers stay with their codecs. ``jpeg2000._HdrBits`` skips the
stuffed bit after every 0xFF byte of a packet header, and
``zstd_pure._RevBits`` reads its stream backwards from a 1-bit end
marker and zero-fills the final state flush. Folding either in here
would make every read branch on which codec is calling.
"""

from __future__ import annotations


class BitstreamError(Exception):
    """A read past the end of the data, or of negative width."""


class BitReader:
    """MSB-first reader over the bytes ``data[start:]``."""

    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes, start: int = 0):
        self.data = data
        self.pos = start * 8
        self.end = len(data) * 8

    def u(self, k: int) -> int:
        """The next ``k`` bits as an unsigned integer."""
        p = self.pos
        q = p + k
        if not p <= q <= self.end:
            raise BitstreamError
        self.pos = q
        chunk = int.from_bytes(self.data[p >> 3 : (q + 7) >> 3], "big")
        return (chunk >> (-q & 7)) & ((1 << k) - 1)

    def peek(self, k: int) -> int:
        """The next ``k`` bits without consuming them, zero-padded past
        the end of the data."""
        p = self.pos
        q = p + k
        e = self.end
        if q <= e:
            chunk = int.from_bytes(self.data[p >> 3 : (q + 7) >> 3], "big")
            return (chunk >> (-q & 7)) & ((1 << k) - 1)
        if p >= e:
            return 0
        chunk = int.from_bytes(self.data[p >> 3 : e >> 3], "big")
        return (chunk & ((1 << (e - p)) - 1)) << (q - e)

    def skip(self, k: int) -> None:
        """Consume ``k`` bits, typically a code found with ``peek``."""
        p = self.pos
        q = p + k
        if not p <= q <= self.end:
            raise BitstreamError
        self.pos = q

    def signed(self, k: int) -> int:
        """The next ``k`` bits as a two's-complement integer."""
        v = self.u(k)
        return v - (1 << k) if v and v >> (k - 1) else v

    def unary(self) -> int:
        """The number of 0 bits before the next 1 bit; consumes both."""
        data, p, e = self.data, self.pos, self.end
        start = p
        while p < e:
            cur = data[p >> 3] & (0xFF >> (p & 7))
            if cur:
                p = (p | 7) + 1 - cur.bit_length()  # the 1 bit
                self.pos = p + 1
                return p - start
            p = (p | 7) + 1
        raise BitstreamError

    def ue(self) -> int:
        """Exp-Golomb ue(v), at most 31 leading zeros (H.264 §9.1)."""
        head = self.peek(32)
        if not head:
            raise BitstreamError
        zeros = 32 - head.bit_length()  # all inside the data
        self.pos += zeros
        return self.u(zeros + 1) - 1

    def se(self) -> int:
        """Exp-Golomb se(v) (H.264 §9.1.1)."""
        k = self.ue()
        return (k + 1) >> 1 if k & 1 else -(k >> 1)

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self.pos = (self.pos + 7) & ~7

    def rest_is_zero(self) -> bool:
        """True when no 1 bit is left in the data (encoder padding)."""
        p, e = self.pos, self.end
        if p >= e:
            return True
        b = p >> 3
        return not self.data[b] & (0xFF >> (p & 7)) and not any(
            self.data[b + 1 : e >> 3]
        )


class LsbBitReader:
    """LSB-first reader over the bytes ``data[start:]``: bit 0 of each
    byte comes first, and multi-bit fields are little-endian."""

    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes, start: int = 0):
        self.data = data
        self.pos = start * 8
        self.end = len(data) * 8

    def read(self, k: int) -> int:
        """The next ``k`` bits as an unsigned integer."""
        p = self.pos
        q = p + k
        if not p <= q <= self.end:
            raise BitstreamError
        self.pos = q
        chunk = int.from_bytes(self.data[p >> 3 : (q + 7) >> 3], "little")
        return (chunk >> (p & 7)) & ((1 << k) - 1)

    def peek(self, k: int) -> int:
        """The next ``k`` bits without consuming them, zero-padded past
        the end of the data (the slice stops there, and the bits it
        leaves out are the high ones)."""
        p = self.pos
        chunk = int.from_bytes(self.data[p >> 3 : (p + k + 7) >> 3], "little")
        return (chunk >> (p & 7)) & ((1 << k) - 1)

    def skip(self, k: int) -> None:
        """Consume ``k`` bits, typically a code found with ``peek``."""
        p = self.pos
        q = p + k
        if not p <= q <= self.end:
            raise BitstreamError
        self.pos = q


def ebsp_to_rbsp(data: bytes) -> bytes:
    """Strip H.264 emulation-prevention bytes: every ``00 00 03``
    becomes ``00 00``, scanning left to right (ISO 14496-10
    §7.4.1.1)."""
    return bytes(data).replace(b"\x00\x00\x03", b"\x00\x00")
