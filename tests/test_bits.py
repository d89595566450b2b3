"""sources/bits.py against a string model: every byte of the window is
spelled out with ``bin()`` and reads slice that string."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_ingestion_py_spark.sources.bits import (
    BitReader,
    BitstreamError,
    LsbBitReader,
    ebsp_to_rbsp,
)


def _msb_string(data: bytes) -> str:
    return "".join(bin(b)[2:].zfill(8) for b in data)


def _lsb_string(data: bytes) -> str:
    return "".join(bin(b)[2:].zfill(8)[::-1] for b in data)


class _Truncated(Exception):
    pass


class _MsbModel:
    def __init__(self, bits: str):
        self.bits = bits
        self.i = 0

    def _take(self, k: int) -> str:
        if k < 0 or self.i + k > len(self.bits):
            raise _Truncated
        got = self.bits[self.i : self.i + k]
        self.i += k
        return got

    def u(self, k: int) -> int:
        return int(self._take(k) or "0", 2)

    def peek(self, k: int) -> int:
        return int(self.bits[self.i : self.i + k].ljust(k, "0") or "0", 2)

    def skip(self, k: int) -> None:
        self._take(k)

    def signed(self, k: int) -> int:
        s = self._take(k)
        v = int(s or "0", 2)
        return v - (1 << k) if s[:1] == "1" else v

    def unary(self) -> int:
        j = self.bits.find("1", self.i)
        if j < 0:
            raise _Truncated
        zeros = j - self.i
        self.i = j + 1
        return zeros

    def ue(self) -> int:
        j = self.bits.find("1", self.i)
        if j < 0 or j - self.i > 31:
            raise _Truncated
        zeros = j - self.i
        self.i = j
        return int(self._take(zeros + 1), 2) - 1

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k % 2 else -(k // 2)

    def align(self) -> None:
        self.i = -(-self.i // 8) * 8

    def rest_is_zero(self) -> bool:
        return "1" not in self.bits[self.i :]


_WIDTH = st.integers(min_value=0, max_value=40)
_MSB_OPS = st.lists(
    st.one_of(
        st.tuples(st.sampled_from(["u", "peek", "skip", "signed"]), _WIDTH),
        st.tuples(
            st.sampled_from(["ue", "se", "unary", "align", "rest_is_zero"])
        ),
    ),
    max_size=24,
)


@st.composite
def _windows(draw):
    # zero-heavy bytes so Exp-Golomb and unary codes get long prefixes
    data = draw(st.binary(max_size=24) | st.lists(
        st.sampled_from([0, 0, 0, 1, 0x80, 0xFF]), max_size=24
    ).map(bytes))
    start = draw(st.integers(min_value=0, max_value=len(data)))
    return data, start


@settings(max_examples=400, deadline=None)
@given(_windows(), _MSB_OPS)
def test_msb_reader_matches_the_string_model(window, ops):
    data, start = window
    r = BitReader(data, start)
    m = _MsbModel(_msb_string(data[start:]))
    for name, *args in ops:
        try:
            want = getattr(m, name)(*args)
        except _Truncated:
            with pytest.raises(BitstreamError):
                getattr(r, name)(*args)
            return
        assert getattr(r, name)(*args) == want, (name, args)
        assert r.pos - 8 * start == m.i


_LSB_OPS = st.lists(
    st.tuples(st.sampled_from(["read", "peek", "skip"]), _WIDTH), max_size=24
)


@settings(max_examples=300, deadline=None)
@given(_windows(), _LSB_OPS)
def test_lsb_reader_matches_the_string_model(window, ops):
    data, start = window
    r = LsbBitReader(data, start)
    bits = _lsb_string(data[start:])
    i = 0
    for name, k in ops:
        if name == "peek":  # zero-padded past the end
            want = bits[i : i + k].ljust(k, "0")
            assert r.peek(k) == int(want[::-1] or "0", 2)
            continue
        if i + k > len(bits):
            with pytest.raises(BitstreamError):
                getattr(r, name)(k)
            return
        got = getattr(r, name)(k)
        if name == "read":
            assert got == int(bits[i : i + k][::-1] or "0", 2)
        i += k
        assert r.pos - 8 * start == i


@settings(max_examples=100, deadline=None)
@given(_windows())
def test_truncation_at_every_bit_boundary(window):
    data, start = window
    n = 8 * (len(data) - start)
    bits = _msb_string(data[start:])
    for cut in range(n + 1):
        for make, read in (
            (BitReader, BitReader.u),
            (LsbBitReader, LsbBitReader.read),
        ):
            reader = make(data, start)
            read(reader, cut)
            with pytest.raises(BitstreamError):
                read(reader, n - cut + 1)  # one bit past the end
            reader = make(data, start)
            read(reader, cut)
            read(reader, n - cut)
            assert read(reader, 0) == 0  # zero width at the end is fine
            with pytest.raises(BitstreamError):
                read(reader, 1)
        r = BitReader(data, start)
        r.skip(cut)
        assert r.peek(n - cut + 5) == int(bits[cut:] + "00000", 2)
        with pytest.raises(BitstreamError):
            r.skip(n - cut + 1)


def test_exp_golomb_prefix_limit():
    # 31 leading zeros is the longest ue(v) prefix (H.264 §9.1)
    longest = BitReader(b"\x00\x00\x00\x01" + b"\xff" * 4)
    assert longest.ue() == (1 << 32) - 2
    assert longest.pos == 63
    with pytest.raises(BitstreamError):
        BitReader(b"\x00\x00\x00\x00" + b"\xff" * 5).ue()


def test_negative_widths_are_rejected():
    for reader in (BitReader(b"\xff\xff", 1), LsbBitReader(b"\xff\xff", 1)):
        read = reader.u if isinstance(reader, BitReader) else reader.read
        with pytest.raises(BitstreamError):
            read(-1)
        with pytest.raises(BitstreamError):
            reader.skip(-1)
    with pytest.raises(BitstreamError):
        BitReader(b"\xff").signed(-1)


def _rbsp_model(data: bytes) -> bytes:
    out, i = bytearray(), 0
    while i < len(data):
        if data[i : i + 3] == b"\x00\x00\x03":
            out += b"\x00\x00"
            i += 3
        else:
            out.append(data[i])
            i += 1
    return bytes(out)


def test_rbsp_emulation_prevention_edges():
    assert ebsp_to_rbsp(b"\x00\x00\x03\x01") == b"\x00\x00\x01"  # start
    assert ebsp_to_rbsp(b"\x65\x00\x00\x03") == b"\x65\x00\x00"  # end
    back_to_back = b"\x00\x00\x03\x00\x00\x03\x00\x00\x03"
    assert ebsp_to_rbsp(back_to_back) == b"\x00" * 6
    assert ebsp_to_rbsp(b"\x00\x00\x00\x03\x02") == b"\x00\x00\x00\x02"
    assert ebsp_to_rbsp(b"\x00\x03\x00\x00") == b"\x00\x03\x00\x00"
    assert ebsp_to_rbsp(b"") == b""


@given(st.lists(st.sampled_from([0, 0, 3, 1]), max_size=40).map(bytes))
def test_rbsp_matches_a_left_to_right_scan(data):
    assert ebsp_to_rbsp(data) == _rbsp_model(data)
