"""FLAC sample-decoder tests: pin ``decode_flac_samples`` against an
INDEPENDENT minimal mono-16-bit FLAC encoder written here from
RFC 9639 — subframe types (CONSTANT / VERBATIM / FIXED 0-4 / LPC),
Rice residuals in both methods with partition orders and the raw-bits
escape, wasted bits, multi-frame streams, and the CRC-8/CRC-16
integrity gates. CRC implementations are anchored to the published
check values (CRC-8 0xF4, CRC-16/BUYPASS 0xFEE8 for b'123456789') so
encoder and decoder cannot share a wrong polynomial unnoticed."""

from __future__ import annotations

import numpy as np
import pytest

from data_ingestion_py_spark.sources.multimodal import (
    _crc8_flac,
    _crc16_flac,
    decode_audio_pcm,
    decode_audio_samples,
    decode_flac_samples,
)


def test_crc_check_values_match_published_constants():
    assert _crc8_flac(b"123456789") == 0xF4
    assert _crc16_flac(b"123456789") == 0xFEE8
    assert _crc8_flac(b"") == 0 and _crc16_flac(b"") == 0


class _BW:
    def __init__(self) -> None:
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def w(self, nbits: int, val: int) -> None:
        val &= (1 << nbits) - 1
        self.acc = (self.acc << nbits) | val
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)

    def align(self) -> None:
        if self.nbits:
            self.w(8 - self.nbits, 0)


_BS_CODES = {192: 1, 576: 2, 1152: 3, 256: 8, 512: 9, 1024: 10, 4096: 12}
_FIXED = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _streaminfo(rate: int, total: int, channels: int = 1, bits: int = 16) -> bytes:
    body = (16).to_bytes(2, "big") * 2  # min/max blocksize
    body += b"\x00\x00\x00" * 2  # min/max frame size (unknown)
    packed = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | total
    body += packed.to_bytes(8, "big")
    body += b"\x00" * 16  # md5 (unchecked)
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def _rice(bw: _BW, res: list[int], param: int) -> None:
    for r in res:
        u = (r << 1) if r >= 0 else ((-r) << 1) - 1
        q = u >> param
        bw.w(q, 0)
        bw.w(1, 1)
        bw.w(param, u & ((1 << param) - 1))


def _residual(
    bw: _BW,
    res: list[int],
    order: int,
    blocksize: int,
    param: int,
    po: int = 0,
    method: int = 0,
    escape_raw: int | None = None,
) -> None:
    pbits = 4 if method == 0 else 5
    bw.w(2, method)
    bw.w(4, po)
    pos = 0
    for part in range(1 << po):
        count = (blocksize >> po) - (order if part == 0 else 0)
        if escape_raw is not None and part == (1 << po) - 1:
            bw.w(pbits, (1 << pbits) - 1)
            bw.w(5, escape_raw)
            for r in res[pos : pos + count]:
                bw.w(escape_raw, r)
        else:
            bw.w(pbits, param)
            _rice(bw, res[pos : pos + count], param)
        pos += count


def _frame(
    samples: list[int],
    frame_no: int,
    kind: str,
    *,
    param: int = 4,
    po: int = 0,
    method: int = 0,
    order: int = 2,
    lpc_coefs: list[int] | None = None,
    lpc_shift: int = 0,
    lpc_prec: int = 12,
    wasted: int = 0,
    escape_raw: int | None = None,
) -> bytes:
    bs = len(samples)
    bw = _BW()
    bw.w(14, 0x3FFE)
    bw.w(1, 0)
    bw.w(1, 0)  # fixed blocksize strategy
    bs_code = _BS_CODES.get(bs, 6 if bs <= 256 else 7)
    bw.w(4, bs_code)
    bw.w(4, 0)  # sample rate: from STREAMINFO
    bw.w(4, 0)  # mono
    bw.w(3, 4)  # 16-bit
    bw.w(1, 0)
    assert frame_no < 128
    bw.w(8, frame_no)
    if bs_code == 6:
        bw.w(8, bs - 1)
    elif bs_code == 7:
        bw.w(16, bs - 1)
    hdr = bytes(bw.out)
    assert bw.nbits == 0
    bw.w(8, _crc8_flac(hdr))
    # subframe
    bps = 16 - wasted
    enc = [s >> wasted for s in samples]
    if kind == "constant":
        bw.w(1, 0)
        bw.w(6, 0)
        bw.w(1, 0)
        bw.w(bps, enc[0])
    elif kind == "verbatim":
        bw.w(1, 0)
        bw.w(6, 1)
        if wasted:
            bw.w(1, 1)
            bw.w(wasted - 1, 0)
            bw.w(1, 1)
        else:
            bw.w(1, 0)
        for s in enc:
            bw.w(bps, s)
    elif kind == "fixed":
        bw.w(1, 0)
        bw.w(6, 8 + order)
        bw.w(1, 0)
        coefs = _FIXED[order]
        for s in enc[:order]:
            bw.w(bps, s)
        res = [
            enc[t] - sum(c * enc[t - 1 - j] for j, c in enumerate(coefs))
            for t in range(order, bs)
        ]
        _residual(bw, res, order, bs, param, po, method, escape_raw)
    elif kind == "lpc":
        coefs = lpc_coefs or [3, -1]
        order = len(coefs)
        bw.w(1, 0)
        bw.w(6, 32 + order - 1)
        bw.w(1, 0)
        for s in enc[:order]:
            bw.w(bps, s)
        bw.w(4, lpc_prec - 1)
        bw.w(5, lpc_shift)
        for c in coefs:
            bw.w(lpc_prec, c)
        res = [
            enc[t]
            - (sum(c * enc[t - 1 - j] for j, c in enumerate(coefs)) >> lpc_shift)
            for t in range(order, bs)
        ]
        _residual(bw, res, order, bs, param, po, method, escape_raw)
    bw.align()
    body = bytes(bw.out)
    return body + _crc16_flac(body).to_bytes(2, "big")


def _wave(n: int, seed: int, amp: int = 900) -> list[int]:
    k = np.arange(n, dtype=np.int64)
    return (
        ((k * 2654435761 + seed * 97) % (2 * amp + 1)) - amp
    ).astype(int).tolist()


def _check(frames: list[bytes], expect: list[int], rate: int = 8000):
    payload = _streaminfo(rate, len(expect)) + b"".join(frames)
    got = decode_flac_samples(payload)
    assert got is not None
    assert got[0] == rate
    assert got[1].tolist() == expect
    return payload


def test_flac_constant_and_verbatim():
    s0 = [-123] * 16
    s1 = _wave(16, 3)
    _check([_frame(s0, 0, "constant"), _frame(s1, 1, "verbatim")], s0 + s1)


def test_flac_fixed_all_orders():
    for order in range(5):
        s = _wave(64, 10 + order)
        _check([_frame(s, 0, "fixed", order=order, param=6)], s)


def test_flac_lpc_with_shift_and_precision():
    s = _wave(32, 21, amp=400)
    for coefs, shift, prec in (
        ([3, -1], 1, 12),
        ([5, -3, 1], 2, 6),
        ([1], 0, 4),
    ):
        _check(
            [_frame(s, 0, "lpc", lpc_coefs=coefs, lpc_shift=shift,
                    lpc_prec=prec, param=7)],
            s,
        )


def test_flac_rice_partitions_method2_and_escape():
    s = _wave(64, 33)
    # partition order 2 (4 partitions), 5-bit method
    _check([_frame(s, 0, "fixed", order=1, param=8, po=2, method=1)], s)
    # raw-bits escape in the last partition
    _check(
        [_frame(s, 0, "fixed", order=1, param=8, po=1, escape_raw=13)], s
    )


def test_flac_wasted_bits_shift_back():
    s = [v * 4 for v in _wave(16, 5, amp=500)]  # 2 wasted bits
    _check([_frame(s, 0, "verbatim", wasted=2)], s)


def test_flac_multi_frame_stream_and_short_last_frame():
    f0, f1, f2 = _wave(256, 1), _wave(192, 2), _wave(5, 3)
    frames = [
        _frame(f0, 0, "fixed", order=2, param=6),
        _frame(f1, 1, "verbatim"),
        _frame(f2, 2, "verbatim"),  # last frame may be any size
    ]
    _check(frames, f0 + f1 + f2)


def test_flac_crc_and_honest_gates():
    s = _wave(16, 8)
    payload = bytearray(_check([_frame(s, 0, "verbatim")], s))
    # flip one bit in the last byte (frame CRC-16 region): honest None
    payload[-1] ^= 1
    assert decode_flac_samples(bytes(payload)) is None
    # flip a bit inside the frame header (CRC-8 must catch it)
    payload = bytearray(_check([_frame(s, 0, "verbatim")], s))
    payload[len(_streaminfo(8000, 16)) + 2] ^= 0x10
    assert decode_flac_samples(bytes(payload)) is None
    # stereo / 8-bit STREAMINFO: outside the mono-16 gate
    body = _streaminfo(8000, 16, channels=2) + _frame(s, 0, "verbatim")
    assert decode_flac_samples(body) is None
    body = _streaminfo(8000, 16, bits=8) + _frame(s, 0, "verbatim")
    assert decode_flac_samples(body) is None
    # truncated mid-frame
    good = _check([_frame(s, 0, "verbatim")], s)
    assert decode_flac_samples(good[:-5]) is None
    assert decode_flac_samples(b"fLaC") is None
    assert decode_flac_samples(None) is None
    assert decode_flac_samples(b"not flac at all") is None
    # a wasted-bits count that leaves no sample bits is corrupt
    body = _streaminfo(8000, 16) + _frame([0] * 16, 0, "verbatim", wasted=16)
    assert decode_flac_samples(body) is None


def test_flac_flows_through_audio_dispatch_and_stats():
    s = _wave(48, 12)
    payload = _streaminfo(8000, 48) + _frame(s, 0, "fixed", order=2, param=6)
    rate, v = decode_audio_samples(payload)
    assert rate == 8000 and v.tolist() == s
    n, peak, energy = decode_audio_pcm(payload)
    assert n == 48
    assert peak == max(abs(x) for x in s)
    assert energy == sum(x * x for x in s)
