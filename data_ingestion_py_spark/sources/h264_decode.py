"""H.264/AVC baseline intra-frame (IDR) pixel decode — CAVLC only
(r15, VERDICT task #3): the pixel half of the r14 frame planner.

The r14 layer locates every IDR byte range across MP4 / Annex-B /
MPEG-TS without decoding; this module decodes JUST those intra
frames — no inter machinery, no CABAC, no deblocking filter (the
in-loop filter only smooths block edges; for phash-grade rasters the
unfiltered reconstruction is the documented divergence, ITU-T H.264
§8.7 being optional for conformance of *output* only in decoders
that advertise it). Supported: baseline I slices, 4:2:0, 8-bit,
frame_mbs_only, macroblock types I_4x4 / I_16x16 / I_PCM, all intra
prediction modes (9 luma 4x4, 4 luma 16x16, 4 chroma), CAVLC
residual decoding (coeff_token / total_zeros / run_before VLC
tables, level prefix/suffix per §9.2.2), dequantisation and the
exact-integer 4x4 inverse transform (+ the 16x16 luma DC Hadamard
and 2x2 chroma DC transforms, §8.5). Anything else — CABAC
(pps.entropy_coding_mode 1), non-I slices, MBAFF, 4:2:2/4:4:4,
high-profile 8x8 transforms, slice groups — returns None, the
honest refusal; never guessed pixels.

Table provenance: the CAVLC code tables are transcribed from ITU-T
H.264 Tables 9-5 / 9-7 / 9-8 / 9-9 / 9-10 (the ccitt.py pattern —
tests share only these CONSTANTS and pin the published worked
examples plus full round-trips through an independent test-side
encoder; a skipif interop seam documents cross-validation against
ffmpeg where available).

Reference tie-in: the reference decodes media through fitz/ffmpeg
externally (data_ingestion.py:116); this is the extras-free intra
path that lets a 100 TB pipeline fetch ONLY keyframe byte ranges
(r14 plans) and still produce rasters for phash/dedup in-container.
"""

from __future__ import annotations

from data_ingestion_py_spark.sources.bits import (
    BitReader,
    BitstreamError,
    ebsp_to_rbsp,
)
from data_ingestion_py_spark.sources.spread import spread_for_kernel

try:  # numpy is a hard dep of the package; guard for doc tooling only
    import numpy as np
except ImportError:  # pragma: no cover
    np = None  # type: ignore[assignment]


# ---------------------------------------------------------------------
# CAVLC tables (ITU-T H.264 §9.2) — shared CONSTANTS with the
# test-side encoder, worked-example-pinned in tests/test_h264_decode.py
# ---------------------------------------------------------------------

#: Table 9-5 coeff_token, keyed by nC class 0 (0<=nC<2), 1 (2<=nC<4),
#: 2 (4<=nC<8), 4 (chroma DC, nC==-1); class 3 (nC>=8) is the 6-bit
#: FLC handled in code. {bits: (TotalCoeff, TrailingOnes)}
_COEFF_TOKEN = {
    0: {
        "1": (0, 0),
        "000101": (1, 0), "01": (1, 1),
        "00000111": (2, 0), "000100": (2, 1), "001": (2, 2),
        "000000111": (3, 0), "00000110": (3, 1),
        "0000101": (3, 2), "00011": (3, 3),
        "0000000111": (4, 0), "000000110": (4, 1),
        "00000101": (4, 2), "000011": (4, 3),
        "00000000111": (5, 0), "0000000110": (5, 1),
        "000000101": (5, 2), "0000100": (5, 3),
        "0000000001111": (6, 0), "00000000110": (6, 1),
        "0000000101": (6, 2), "00000100": (6, 3),
        "0000000001011": (7, 0), "0000000001110": (7, 1),
        "00000000101": (7, 2), "000000100": (7, 3),
        "0000000001000": (8, 0), "0000000001010": (8, 1),
        "0000000001101": (8, 2), "0000000100": (8, 3),
        "00000000001111": (9, 0), "00000000001110": (9, 1),
        "0000000001001": (9, 2), "00000000100": (9, 3),
        "00000000001011": (10, 0), "00000000001010": (10, 1),
        "00000000001101": (10, 2), "0000000001100": (10, 3),
        "000000000001111": (11, 0), "000000000001110": (11, 1),
        "00000000001001": (11, 2), "00000000001100": (11, 3),
        "000000000001011": (12, 0), "000000000001010": (12, 1),
        "000000000001101": (12, 2), "00000000001000": (12, 3),
        "0000000000001111": (13, 0), "000000000000001": (13, 1),
        "000000000001001": (13, 2), "000000000001100": (13, 3),
        "0000000000001011": (14, 0), "0000000000001110": (14, 1),
        "0000000000001101": (14, 2), "000000000001000": (14, 3),
        "0000000000000111": (15, 0), "0000000000001010": (15, 1),
        "0000000000001001": (15, 2), "0000000000001100": (15, 3),
        "0000000000000100": (16, 0), "0000000000000110": (16, 1),
        "0000000000000101": (16, 2), "0000000000001000": (16, 3),
    },
    1: {
        "11": (0, 0),
        "001011": (1, 0), "10": (1, 1),
        "000111": (2, 0), "00111": (2, 1), "011": (2, 2),
        "0000111": (3, 0), "001010": (3, 1),
        "001001": (3, 2), "0101": (3, 3),
        "00000111": (4, 0), "000110": (4, 1),
        "000101": (4, 2), "0100": (4, 3),
        "00000100": (5, 0), "0000110": (5, 1),
        "0000101": (5, 2), "00110": (5, 3),
        "000000111": (6, 0), "00000110": (6, 1),
        "00000101": (6, 2), "001000": (6, 3),
        "00000001111": (7, 0), "000000110": (7, 1),
        "000000101": (7, 2), "000100": (7, 3),
        "00000001011": (8, 0), "00000001110": (8, 1),
        "00000001101": (8, 2), "0000100": (8, 3),
        "000000001111": (9, 0), "00000001010": (9, 1),
        "00000001001": (9, 2), "000000100": (9, 3),
        "000000001011": (10, 0), "000000001110": (10, 1),
        "000000001101": (10, 2), "00000001100": (10, 3),
        "000000001000": (11, 0), "000000001010": (11, 1),
        "000000001001": (11, 2), "00000001000": (11, 3),
        "0000000001111": (12, 0), "0000000001110": (12, 1),
        "0000000001101": (12, 2), "000000001100": (12, 3),
        "0000000001011": (13, 0), "0000000001010": (13, 1),
        "0000000001001": (13, 2), "0000000001100": (13, 3),
        "0000000000111": (14, 0), "00000000001011": (14, 1),
        "0000000000110": (14, 2), "0000000001000": (14, 3),
        "00000000001001": (15, 0), "00000000001000": (15, 1),
        "00000000001010": (15, 2), "0000000000001": (15, 3),
        "00000000000111": (16, 0), "00000000000110": (16, 1),
        "00000000000101": (16, 2), "00000000000100": (16, 3),
    },
    2: {
        "1111": (0, 0),
        "001111": (1, 0), "1110": (1, 1),
        "001011": (2, 0), "01111": (2, 1), "1101": (2, 2),
        "001000": (3, 0), "01100": (3, 1),
        "01110": (3, 2), "1100": (3, 3),
        "0001111": (4, 0), "01010": (4, 1),
        "01011": (4, 2), "1011": (4, 3),
        "0001011": (5, 0), "01000": (5, 1),
        "01001": (5, 2), "1010": (5, 3),
        "0001001": (6, 0), "001110": (6, 1),
        "001101": (6, 2), "1001": (6, 3),
        "0001000": (7, 0), "001010": (7, 1),
        "001001": (7, 2), "1000": (7, 3),
        "00001111": (8, 0), "0001110": (8, 1),
        "0001101": (8, 2), "01101": (8, 3),
        "00001011": (9, 0), "00001110": (9, 1),
        "0001010": (9, 2), "001100": (9, 3),
        "000001111": (10, 0), "00001010": (10, 1),
        "00001101": (10, 2), "0001100": (10, 3),
        "000001011": (11, 0), "000001110": (11, 1),
        "00001001": (11, 2), "00001100": (11, 3),
        "000001000": (12, 0), "000001010": (12, 1),
        "000001101": (12, 2), "00001000": (12, 3),
        "0000001101": (13, 0), "000000111": (13, 1),
        "000001001": (13, 2), "000001100": (13, 3),
        "0000001001": (14, 0), "0000001100": (14, 1),
        "0000001011": (14, 2), "0000001010": (14, 3),
        "0000000101": (15, 0), "0000001000": (15, 1),
        "0000000111": (15, 2), "0000000110": (15, 3),
        "0000000001": (16, 0), "0000000100": (16, 1),
        "0000000011": (16, 2), "0000000010": (16, 3),
    },
    4: {  # chroma DC (4:2:0), nC == -1: 4 coefficients max
        "01": (0, 0),
        "000111": (1, 0), "1": (1, 1),
        "000100": (2, 0), "000110": (2, 1), "001": (2, 2),
        "000011": (3, 0), "0000011": (3, 1),
        "0000010": (3, 2), "000101": (3, 3),
        "000010": (4, 0), "00000011": (4, 1),
        "00000010": (4, 2), "0000000": (4, 3),
    },
}

#: Table 9-7/9-8: total_zeros for 4x4 blocks, [TotalCoeff][bits] ->
#: totalZeros
_TOTAL_ZEROS = {
    1: {"1": 0, "011": 1, "010": 2, "0011": 3, "0010": 4,
        "00011": 5, "00010": 6, "000011": 7, "000010": 8,
        "0000011": 9, "0000010": 10, "00000011": 11,
        "00000010": 12, "000000011": 13, "000000010": 14,
        "000000001": 15},
    2: {"111": 0, "110": 1, "101": 2, "100": 3, "011": 4,
        "0101": 5, "0100": 6, "0011": 7, "0010": 8, "00011": 9,
        "00010": 10, "000011": 11, "000010": 12, "000001": 13,
        "000000": 14},
    3: {"0101": 0, "111": 1, "110": 2, "101": 3, "0100": 4,
        "0011": 5, "100": 6, "011": 7, "0010": 8, "00011": 9,
        "00010": 10, "000001": 11, "00001": 12, "000000": 13},
    4: {"00011": 0, "111": 1, "0101": 2, "0100": 3, "110": 4,
        "101": 5, "100": 6, "0011": 7, "011": 8, "0010": 9,
        "00010": 10, "00001": 11, "00000": 12},
    5: {"0101": 0, "0100": 1, "0011": 2, "111": 3, "110": 4,
        "101": 5, "100": 6, "011": 7, "0010": 8, "00001": 9,
        "0001": 10, "00000": 11},
    6: {"000001": 0, "00001": 1, "111": 2, "110": 3, "101": 4,
        "100": 5, "011": 6, "010": 7, "0001": 8, "001": 9,
        "000000": 10},
    7: {"000001": 0, "00001": 1, "101": 2, "100": 3, "011": 4,
        "11": 5, "010": 6, "0001": 7, "001": 8, "000000": 9},
    8: {"000001": 0, "0001": 1, "00001": 2, "011": 3, "11": 4,
        "10": 5, "010": 6, "001": 7, "000000": 8},
    9: {"000001": 0, "000000": 1, "0001": 2, "11": 3, "10": 4,
        "001": 5, "01": 6, "00001": 7},
    10: {"00001": 0, "00000": 1, "001": 2, "11": 3, "10": 4,
         "01": 5, "0001": 6},
    11: {"0000": 0, "0001": 1, "001": 2, "010": 3, "1": 4,
         "011": 5},
    12: {"0000": 0, "0001": 1, "01": 2, "1": 3, "001": 4},
    13: {"000": 0, "001": 1, "1": 2, "01": 3},
    14: {"00": 0, "01": 1, "1": 2},
    15: {"0": 0, "1": 1},
}

#: Table 9-9(a): total_zeros for chroma DC (4:2:0, maxNumCoeff 4)
_TOTAL_ZEROS_CDC = {
    1: {"1": 0, "01": 1, "001": 2, "000": 3},
    2: {"1": 0, "01": 1, "00": 2},
    3: {"1": 0, "0": 1},
}

#: Table 9-10: run_before, [min(zerosLeft,7)][bits] -> run
_RUN_BEFORE = {
    1: {"1": 0, "0": 1},
    2: {"1": 0, "01": 1, "00": 2},
    3: {"11": 0, "10": 1, "01": 2, "00": 3},
    4: {"11": 0, "10": 1, "01": 2, "001": 3, "000": 4},
    5: {"11": 0, "10": 1, "011": 2, "010": 3, "001": 4, "000": 5},
    6: {"11": 0, "000": 1, "001": 2, "011": 3, "010": 4,
        "101": 5, "100": 6},
    7: {"111": 0, "110": 1, "101": 2, "100": 3, "011": 4,
        "010": 5, "001": 6, "0001": 7, "00001": 8, "000001": 9,
        "0000001": 10, "00000001": 11, "000000001": 12,
        "0000000001": 13, "00000000001": 14},
}

#: Table 9-4 (intra column): coded_block_pattern me(v) mapping
_CBP_INTRA = (
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4, 8,
    17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41,
)


def _build_tree(table: dict) -> dict:
    """Bit-string table → prefix tree; raises at import on a code
    that prefixes another (transcription collision guard)."""
    root: dict = {}
    for code, val in table.items():
        node = root
        for i, ch in enumerate(code):
            b = int(ch)
            if i == len(code) - 1:
                if b in node:
                    raise ValueError(f"collision at {code}")
                node[b] = ("leaf", val)
            else:
                nxt = node.get(b)
                if nxt is None:
                    node[b] = node = {}
                elif isinstance(nxt, tuple):
                    raise ValueError(f"prefix collision at {code}")
                else:
                    node = nxt
    return root


_CT_TREES = {k: _build_tree(v) for k, v in _COEFF_TOKEN.items()}
_TZ_TREES = {k: _build_tree(v) for k, v in _TOTAL_ZEROS.items()}
_TZC_TREES = {k: _build_tree(v) for k, v in _TOTAL_ZEROS_CDC.items()}
_RB_TREES = {k: _build_tree(v) for k, v in _RUN_BEFORE.items()}


def _read_vlc(bits: BitReader, tree: dict):
    """One code of a ``_build_tree`` table (codes are ≤ 16 bits), or
    None when the bits match no code."""
    node = tree
    head = bits.peek(16)
    for depth in range(15, -1, -1):
        nxt = node.get((head >> depth) & 1)
        if nxt is None:
            return None
        if isinstance(nxt, tuple):
            bits.skip(16 - depth)
            return nxt[1]
        node = nxt
    return None


def _residual_block(
    bits: BitReader, n_coeff_max: int, nc: int
) -> list[int] | None:
    """One CAVLC residual block (§9.2) → coefficient list of length
    ``n_coeff_max`` in decoding (zigzag) order, or None."""
    if nc < 0:
        ct = _read_vlc(bits, _CT_TREES[4])
    elif nc < 2:
        ct = _read_vlc(bits, _CT_TREES[0])
    elif nc < 4:
        ct = _read_vlc(bits, _CT_TREES[1])
    elif nc < 8:
        ct = _read_vlc(bits, _CT_TREES[2])
    else:
        v = bits.u(6)
        ct = (0, 0) if v == 3 else ((v >> 2) + 1, v & 3)
    if ct is None:
        return None
    total_coeff, trailing_ones = ct
    coeffs = [0] * n_coeff_max
    if total_coeff == 0:
        return coeffs
    if total_coeff > n_coeff_max or trailing_ones > total_coeff:
        return None
    levels = [-1 if bits.u(1) else 1 for _ in range(trailing_ones)]
    suffix_len = 1 if (total_coeff > 10 and trailing_ones < 3) else 0
    for i in range(total_coeff - trailing_ones):
        prefix = bits.unary()
        if prefix > 32:
            return None
        if suffix_len == 0 and prefix == 14:
            sz = 4
        elif prefix >= 15:
            sz = prefix - 3
        else:
            sz = suffix_len
        level_code = (min(15, prefix) << suffix_len) + bits.u(sz)
        if prefix >= 15 and suffix_len == 0:
            level_code += 15
        if prefix >= 16:
            level_code += (1 << (prefix - 3)) - 4096
        if i == 0 and trailing_ones < 3:
            level_code += 2
        if level_code % 2 == 0:
            level = (level_code + 2) >> 1
        else:
            level = -((level_code + 1) >> 1)
        levels.append(level)
        if suffix_len == 0:
            suffix_len = 1
        if abs(level) > (3 << (suffix_len - 1)) and suffix_len < 6:
            suffix_len += 1
    # total_zeros
    if total_coeff < n_coeff_max:
        if nc < 0:
            tz = _read_vlc(bits, _TZC_TREES.get(total_coeff, {}))
        else:
            tz = _read_vlc(bits, _TZ_TREES.get(total_coeff, {}))
        if tz is None:
            return None
    else:
        tz = 0
    if tz > n_coeff_max - total_coeff:
        return None
    runs = [0] * total_coeff
    zeros_left = tz
    for i in range(total_coeff - 1):
        if zeros_left == 0:
            break
        run = _read_vlc(bits, _RB_TREES[min(zeros_left, 7)])
        if run is None or run > zeros_left:
            return None
        runs[i] = run
        zeros_left -= run
    runs[total_coeff - 1] = zeros_left
    # place coefficients: levels[0] is the HIGHEST-frequency coeff
    pos = total_coeff - 1 + tz
    for i in range(total_coeff):
        if pos < 0 or pos >= n_coeff_max:
            return None
        coeffs[pos] = levels[i]
        pos -= runs[i] + 1
    return coeffs


# ---------------------------------------------------------------------
# dequant + inverse transforms (§8.5, exact integer)
# ---------------------------------------------------------------------

_V_TABLE = (  # LevelScale4x4 per qp%6: (pos-class 0, 1, 2)
    (10, 16, 13), (11, 18, 14), (13, 20, 16),
    (14, 23, 18), (16, 25, 20), (18, 29, 23),
)

#: zigzag scan order: coefficient index -> (row, col)
_ZIGZAG = (
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (3, 1), (2, 2), (1, 3), (2, 3), (3, 2), (3, 3),
)


def _pos_class(r: int, c: int) -> int:
    if (r, c) in ((0, 0), (0, 2), (2, 0), (2, 2)):
        return 0
    if (r, c) in ((1, 1), (1, 3), (3, 1), (3, 3)):
        return 1
    return 2


def _dequant4x4(coeffs: list[int], qp: int, skip_dc: bool) -> list[list[int]]:
    """Zigzag coefficient list → dequantised 4x4 block (§8.5.12.1).
    ``skip_dc`` leaves position 0 untouched (it arrives via the DC
    transform path for I_16x16 / chroma)."""
    v = _V_TABLE[qp % 6]
    shift = qp // 6
    d = [[0] * 4 for _ in range(4)]
    for i, (r, c) in enumerate(_ZIGZAG):
        if i == 0 and skip_dc:
            d[r][c] = coeffs[0]
            continue
        d[r][c] = (coeffs[i] * v[_pos_class(r, c)]) << shift
    return d


def _itransform4x4(d: list[list[int]]) -> list[list[int]]:
    """Exact inverse 4x4 integer transform (§8.5.12.2), output
    pre-rounded residual ((x + 32) >> 6 applied)."""
    e = [[0] * 4 for _ in range(4)]
    for i in range(4):
        a, b, c, dd = d[i]
        e0 = a + c
        e1 = a - c
        e2 = (b >> 1) - dd
        e3 = b + (dd >> 1)
        e[i] = [e0 + e3, e1 + e2, e1 - e2, e0 - e3]
    out = [[0] * 4 for _ in range(4)]
    for j in range(4):
        a, b, c, dd = e[0][j], e[1][j], e[2][j], e[3][j]
        f0 = a + c
        f1 = a - c
        f2 = (b >> 1) - dd
        f3 = b + (dd >> 1)
        col = (f0 + f3, f1 + f2, f1 - f2, f0 - f3)
        for i in range(4):
            out[i][j] = (col[i] + 32) >> 6
    return out


def _hadamard4x4(c: list[list[int]]) -> list[list[int]]:
    e = [[0] * 4 for _ in range(4)]
    for i in range(4):
        c0, c1, c2, c3 = c[i]
        e[i] = [c0 + c1 + c2 + c3, c0 + c1 - c2 - c3,
                c0 - c1 - c2 + c3, c0 - c1 + c2 - c3]
    out = [[0] * 4 for _ in range(4)]
    for j in range(4):
        c0, c1, c2, c3 = e[0][j], e[1][j], e[2][j], e[3][j]
        col = (c0 + c1 + c2 + c3, c0 + c1 - c2 - c3,
               c0 - c1 - c2 + c3, c0 - c1 + c2 - c3)
        for i in range(4):
            out[i][j] = col[i]
    return out


def _luma_dc_dequant(dc: list[list[int]], qp: int) -> list[list[int]]:
    f = _hadamard4x4(dc)
    v00 = _V_TABLE[qp % 6][0]
    out = [[0] * 4 for _ in range(4)]
    if qp >= 36:
        sh = qp // 6 - 6
        for i in range(4):
            for j in range(4):
                out[i][j] = (f[i][j] * v00) << sh
    else:
        sh = 6 - qp // 6
        add = 1 << (sh - 1)
        for i in range(4):
            for j in range(4):
                out[i][j] = (f[i][j] * v00 + add) >> sh
    return out


def _chroma_dc_dequant(dc: list[int], qp: int) -> list[int]:
    # 2x2 Hadamard: rows (a b / c d)
    a, b, c, d = dc
    f = (a + b + c + d, a - b + c - d, a + b - c - d, a - b - c + d)
    v00 = _V_TABLE[qp % 6][0]
    return [((x * v00) << (qp // 6)) >> 5 for x in f]


_QPC_TABLE = {  # Table 8-15 for qPI > 29
    30: 29, 31: 30, 32: 31, 33: 32, 34: 32, 35: 33, 36: 34, 37: 34,
    38: 35, 39: 35, 40: 36, 41: 36, 42: 37, 43: 37, 44: 37, 45: 38,
    46: 38, 47: 38, 48: 39, 49: 39, 50: 39, 51: 39,
}


def _qp_chroma(qp: int, offset: int) -> int:
    q = max(0, min(51, qp + offset))
    return q if q < 30 else _QPC_TABLE[q]


# ---------------------------------------------------------------------
# intra prediction (§8.3)
# ---------------------------------------------------------------------


def _pred4x4(mode, dst, y0, x0, w, h, plane, avail):
    """Predict the 4x4 block at (y0, x0) of ``plane`` in place; the
    neighbour samples come from already-reconstructed pixels.
    ``avail(y, x)`` says whether that pixel is decodable context.
    Returns False on a mode that needs unavailable samples (stream
    malformed for baseline constrained intra assumptions)."""
    up = [0] * 8
    left = [0] * 4
    have_up = avail(y0 - 1, x0)
    have_left = avail(y0, x0 - 1)
    have_ul = avail(y0 - 1, x0 - 1)
    ul = plane[y0 - 1][x0 - 1] if have_ul else 0
    if have_up:
        for i in range(4):
            up[i] = plane[y0 - 1][x0 + i]
        # up-right: fall back to up[3] when unavailable (spec 8.3.1.2.1)
        for i in range(4, 8):
            up[i] = (
                plane[y0 - 1][x0 + i]
                if avail(y0 - 1, x0 + i)
                else up[3]
            )
    if have_left:
        for i in range(4):
            left[i] = plane[y0 + i][x0 - 1]

    def clip(v):
        return 0 if v < 0 else 255 if v > 255 else v

    if mode == 0:  # vertical
        if not have_up:
            return False
        for r in range(4):
            for c in range(4):
                dst[r][c] = up[c]
    elif mode == 1:  # horizontal
        if not have_left:
            return False
        for r in range(4):
            for c in range(4):
                dst[r][c] = left[r]
    elif mode == 2:  # DC
        if have_up and have_left:
            dc = (sum(up[:4]) + sum(left) + 4) >> 3
        elif have_up:
            dc = (sum(up[:4]) + 2) >> 2
        elif have_left:
            dc = (sum(left) + 2) >> 2
        else:
            dc = 128
        for r in range(4):
            for c in range(4):
                dst[r][c] = dc
    elif mode == 3:  # diagonal down-left
        if not have_up:
            return False
        for r in range(4):
            for c in range(4):
                i = r + c
                if i == 6:
                    dst[r][c] = (up[6] + 3 * up[7] + 2) >> 2
                else:
                    dst[r][c] = (up[i] + 2 * up[i + 1] + up[i + 2] + 2) >> 2
    elif mode == 4:  # diagonal down-right
        if not (have_up and have_left and have_ul):
            return False
        for r in range(4):
            for c in range(4):
                if c > r:
                    dst[r][c] = (
                        (up[c - r - 2] + 2 * up[c - r - 1] + up[c - r] + 2)
                        >> 2
                        if c - r >= 2
                        else (ul + 2 * up[0] + up[1] + 2) >> 2
                    )
                elif c < r:
                    dst[r][c] = (
                        (left[r - c - 2] + 2 * left[r - c - 1]
                         + left[r - c] + 2) >> 2
                        if r - c >= 2
                        else (ul + 2 * left[0] + left[1] + 2) >> 2
                    )
                else:
                    dst[r][c] = (up[0] + 2 * ul + left[0] + 2) >> 2
    elif mode == 5:  # vertical-right
        if not (have_up and have_left and have_ul):
            return False
        for r in range(4):
            for c in range(4):
                z = 2 * c - r
                if z >= 0 and z % 2 == 0:
                    i = c - (r >> 1)
                    dst[r][c] = (
                        (ul if i == 0 else up[i - 1]) + up[i] + 1
                    ) >> 1
                elif z >= 0:  # odd: zVR in {1, 3, 5} -> i >= 1
                    i = c - (r >> 1)
                    p_m1 = ul if i == 1 else up[i - 2]
                    dst[r][c] = (
                        p_m1 + 2 * up[i - 1] + up[i] + 2
                    ) >> 2
                elif z == -1:
                    dst[r][c] = (left[0] + 2 * ul + up[0] + 2) >> 2
                else:
                    dst[r][c] = (
                        left[r - 1] + 2 * left[r - 2]
                        + (left[r - 3] if r >= 3 else ul) + 2
                    ) >> 2
    elif mode == 6:  # horizontal-down
        if not (have_up and have_left and have_ul):
            return False
        for r in range(4):
            for c in range(4):
                z = 2 * r - c
                if z >= 0 and z % 2 == 0:
                    i = r - (c >> 1)
                    dst[r][c] = ((ul if i == 0 else left[i - 1])
                                 + left[i] + 1) >> 1
                elif z >= 0:  # odd: zHD in {1, 3, 5} -> i >= 1
                    i = r - (c >> 1)
                    p_m1 = ul if i == 1 else left[i - 2]
                    dst[r][c] = (p_m1 + 2 * left[i - 1]
                                 + left[i] + 2) >> 2
                elif z == -1:
                    dst[r][c] = (up[0] + 2 * ul + left[0] + 2) >> 2
                else:
                    dst[r][c] = (
                        up[c - 1] + 2 * up[c - 2]
                        + (up[c - 3] if c >= 3 else ul) + 2
                    ) >> 2
    elif mode == 7:  # vertical-left
        if not have_up:
            return False
        for r in range(4):
            for c in range(4):
                i = c + (r >> 1)
                if r % 2 == 0:
                    dst[r][c] = (up[i] + up[i + 1] + 1) >> 1
                else:
                    dst[r][c] = (up[i] + 2 * up[i + 1] + up[i + 2] + 2) >> 2
    elif mode == 8:  # horizontal-up
        if not have_left:
            return False
        for r in range(4):
            for c in range(4):
                z = c + 2 * r
                if z % 2 == 0 and z <= 4:
                    i = r + (c >> 1)
                    dst[r][c] = (left[i] + left[i + 1] + 1) >> 1
                elif z % 2 == 1 and z <= 3:
                    i = r + (c >> 1)
                    dst[r][c] = (left[i] + 2 * left[i + 1]
                                 + left[i + 2] + 2) >> 2
                elif z == 5:
                    dst[r][c] = (left[2] + 3 * left[3] + 2) >> 2
                else:  # z > 5
                    dst[r][c] = left[3]
    else:
        return False
    for r in range(4):
        for c in range(4):
            dst[r][c] = clip(dst[r][c])
    return True


def _pred16x16(mode, plane, my, mx, have_up, have_left) -> bool:
    """I_16x16 luma prediction written into plane[my:my+16, mx:mx+16].
    Modes: 0 vertical, 1 horizontal, 2 DC, 3 plane (§8.3.3)."""
    return _pred_block(mode, plane, my, mx, 16, have_up, have_left)


def _pred_block(mode, plane, my, mx, size, have_up, have_left) -> bool:
    if mode == 0:  # vertical
        if not have_up:
            return False
        for r in range(size):
            row = plane[my + r]
            src = plane[my - 1]
            for c in range(size):
                row[mx + c] = src[mx + c]
    elif mode == 1:  # horizontal
        if not have_left:
            return False
        for r in range(size):
            v = plane[my + r][mx - 1]
            row = plane[my + r]
            for c in range(size):
                row[mx + c] = v
    elif mode == 2:  # DC
        s = 0
        n = 0
        if have_up:
            s += sum(plane[my - 1][mx : mx + size])
            n += size
        if have_left:
            s += sum(plane[my + r][mx - 1] for r in range(size))
            n += size
        dc = 128 if n == 0 else (s + n // 2) // n
        for r in range(size):
            row = plane[my + r]
            for c in range(size):
                row[mx + c] = dc
    elif mode == 3:  # plane
        if not (have_up and have_left):
            return False
        half = size // 2
        h = sum(
            (i + 1) * (
                plane[my - 1][mx + half + i]
                - plane[my - 1][mx + half - 2 - i]
            )
            for i in range(half)
        )
        v = sum(
            (i + 1) * (
                plane[my + half + i][mx - 1]
                - plane[my + half - 2 - i][mx - 1]
            )
            for i in range(half)
        )
        if size == 16:
            b = (5 * h + 32) >> 6
            c = (5 * v + 32) >> 6
        else:  # 8x8 chroma
            b = (17 * h + 16) >> 5
            c = (17 * v + 16) >> 5
        a = 16 * (plane[my + size - 1][mx - 1] + plane[my - 1][mx + size - 1])
        for r in range(size):
            row = plane[my + r]
            for cc in range(size):
                val = (a + b * (cc - (half - 1)) + c * (r - (half - 1))
                       + 16) >> 5
                row[mx + cc] = 0 if val < 0 else 255 if val > 255 else val
    else:
        return False
    return True


# chroma pred mode numbering differs from luma 16x16: 0 DC, 1 H, 2 V,
# 3 plane
_CHROMA_MODE_MAP = {0: 2, 1: 1, 2: 0, 3: 3}


def _pred_chroma_dc(plane, cy, cx, have_up, have_left) -> None:
    """Chroma 8x8 DC prediction is PER 4x4 QUADRANT (§8.3.4.1): the
    corner block averages its up+left segments, the top-right block
    prefers its up segment, the bottom-left its left segment, and
    the bottom-right averages the far segments."""

    def seg_up(k):  # sum of up samples [k*4 : k*4+4]
        return sum(plane[cy - 1][cx + k * 4 : cx + k * 4 + 4])

    def seg_left(k):
        return sum(plane[cy + k * 4 + r][cx - 1] for r in range(4))

    for bry in range(2):
        for brx in range(2):
            if (bry, brx) == (0, 0) or (bry, brx) == (1, 1):
                s = n = 0
                if have_up:
                    s += seg_up(brx)
                    n += 4
                if have_left:
                    s += seg_left(bry)
                    n += 4
                dc = 128 if n == 0 else (s + n // 2) // n
            elif (bry, brx) == (0, 1):  # top-right: up preferred
                if have_up:
                    dc = (seg_up(1) + 2) >> 2
                elif have_left:
                    dc = (seg_left(0) + 2) >> 2
                else:
                    dc = 128
            else:  # (1, 0) bottom-left: left preferred
                if have_left:
                    dc = (seg_left(1) + 2) >> 2
                elif have_up:
                    dc = (seg_up(0) + 2) >> 2
                else:
                    dc = 128
            for r in range(4):
                row = plane[cy + bry * 4 + r]
                for c in range(4):
                    row[cx + brx * 4 + c] = dc


# ---------------------------------------------------------------------
# parameter sets + slice decode
# ---------------------------------------------------------------------


def parse_pps_decode(rbsp: bytes) -> dict | None:
    """PPS fields for CAVLC intra decode; CABAC, slice groups,
    constrained intra prediction, and truncated bits refuse."""
    b = BitReader(rbsp)
    try:
        b.ue()  # pps id
        b.ue()  # sps id
        if b.u(1):  # entropy_coding_mode_flag: CABAC
            return None
        b.u(1)  # bottom_field_pic_order
        if b.ue() != 0:
            return None  # slice groups: refuse
        b.ue()  # num_ref_idx_l0_default_active_minus1
        b.ue()  # num_ref_idx_l1_default_active_minus1
        b.u(1)  # weighted_pred
        b.u(2)  # weighted_bipred
        qp = b.se()
        b.se()  # pic_init_qs
        cqo = b.se()
        dbc = b.u(1)  # deblocking_filter_control_present
        if b.u(1):  # constrained_intra_pred
            return None  # changes availability rules; refuse for now
        redundant = b.u(1)
    except BitstreamError:
        return None
    return {
        "pic_init_qp": 26 + qp,
        "chroma_qp_offset": cqo,
        "deblock_control": bool(dbc),
        "redundant_pic_cnt": bool(redundant),
    }


def decode_idr_slice(
    sps: dict, pps: dict, slice_rbsp: bytes
) -> "tuple[np.ndarray, np.ndarray, np.ndarray] | None":
    """Decode one IDR I-slice covering the whole frame →
    (Y, Cb, Cr) uint8 arrays (full uncropped MB grid; the caller
    applies SPS cropping). ``sps`` comes from
    ``multimodal.h264_sps_fields`` and must be 4:2:0 frame-coded.
    None on any unsupported shape or malformed or truncated
    bitstream — never guessed pixels."""
    if np is None:  # pragma: no cover
        return None
    try:
        return _decode_slice(sps, pps, BitReader(slice_rbsp))
    except BitstreamError:
        return None


def _decode_slice(sps: dict, pps: dict, b: BitReader):
    """``decode_idr_slice`` minus the truncation catch."""
    first_mb = b.ue()
    slice_type = b.ue()
    if first_mb != 0 or slice_type not in (2, 7):
        return None  # partial-frame slices / non-I: refuse
    b.ue()  # pps id
    b.u(sps["log2_max_frame_num"])  # frame_num
    b.ue()  # idr_pic_id
    if sps["poc_type"] == 0:
        b.u(sps["log2_max_poc_lsb"])  # pic_order_cnt_lsb
    # dec_ref_pic_marking for IDR: no_output_of_prior_pics + long_term
    b.u(2)
    qp_delta = b.se()
    if pps["deblock_control"] and b.ue() != 1:
        b.se()  # slice_alpha_c0_offset_div2
        b.se()  # slice_beta_offset_div2
    qp = pps["pic_init_qp"] + qp_delta
    if not 0 <= qp <= 51:
        return None
    wmb, hmb = sps["pic_width_in_mbs"], sps["pic_height_in_mbs"]
    W, H = wmb * 16, hmb * 16
    Y = [[0] * W for _ in range(H)]
    Cb = [[0] * (W // 2) for _ in range(H // 2)]
    Cr = [[0] * (W // 2) for _ in range(H // 2)]
    # per-4x4-luma-block reconstruction map: intra availability at
    # spec granularity (inside an I_4x4 MB the up-right neighbour of
    # some sub-blocks is NOT yet decoded — a whole-MB map gets the
    # spec's decode-order rules wrong)
    blk_done = [[False] * (wmb * 4) for _ in range(hmb * 4)]
    # per-4x4-block nonzero-coefficient counts for nC (luma + chroma)
    luma_nz = [[0] * (wmb * 4) for _ in range(hmb * 4)]
    cb_nz = [[0] * (wmb * 2) for _ in range(hmb * 2)]
    cr_nz = [[0] * (wmb * 2) for _ in range(hmb * 2)]
    # per-4x4 intra mode for predIntra4x4PredMode (§8.3.1.1)
    pred_modes = [[-1] * (wmb * 4) for _ in range(hmb * 4)]

    def nC(nz, by, bx):
        rows = len(nz)
        cols = len(nz[0])
        na = nz[by][bx - 1] if bx > 0 else None
        nb = nz[by - 1][bx] if by > 0 else None
        if na is not None and nb is not None:
            return (na + nb + 1) >> 1
        if na is not None:
            return na
        if nb is not None:
            return nb
        return 0

    for mb in range(wmb * hmb):
        my_mb, mx_mb = divmod(mb, wmb)
        yy, xx = my_mb * 16, mx_mb * 16
        mb_type = b.ue()
        if mb_type > 25:
            return None

        def avail(py, px):
            if py < 0 or px < 0 or px >= W:
                return False
            return blk_done[py >> 2][px >> 2]

        if mb_type == 25:  # I_PCM
            b.align()
            for r in range(16):
                for c in range(16):
                    Y[yy + r][xx + c] = b.u(8)
            for plane in (Cb, Cr):
                for r in range(8):
                    for c in range(8):
                        plane[yy // 2 + r][xx // 2 + c] = b.u(8)
            by, bx = my_mb * 4, mx_mb * 4
            for r in range(4):
                for c in range(4):
                    luma_nz[by + r][bx + c] = 16
                    pred_modes[by + r][bx + c] = 2
                    blk_done[by + r][bx + c] = True
            for r in range(2):
                for c in range(2):
                    cb_nz[my_mb * 2 + r][mx_mb * 2 + c] = 16
                    cr_nz[my_mb * 2 + r][mx_mb * 2 + c] = 16
            continue

        if mb_type == 0:  # I_4x4
            modes: list[int] = []
            for blk in range(16):
                if b.u(1):  # prev_intra4x4_pred_mode
                    modes.append(-1)  # use predicted
                else:
                    modes.append(b.u(3))
            chroma_mode = b.ue()
            if chroma_mode > 3:
                return None
            cbp_idx = b.ue()
            if cbp_idx >= 48:
                return None
            cbp = _CBP_INTRA[cbp_idx]
            cbp_luma, cbp_chroma = cbp & 15, cbp >> 4
            if cbp:
                qp += b.se()
                if not 0 <= qp <= 51:
                    return None
            # decode the 16 4x4 blocks in the spec's raster-in-8x8
            # order, predicting + reconstructing each before the next
            for blk in range(16):
                blk8 = blk >> 2
                sub = blk & 3
                bry = (blk8 >> 1) * 2 + (sub >> 1)
                brx = (blk8 & 1) * 2 + (sub & 1)
                y0, x0 = yy + bry * 4, xx + brx * 4
                gby, gbx = my_mb * 4 + bry, mx_mb * 4 + brx
                # predicted mode = min of A/B neighbour modes (2 when
                # a neighbour is missing/non-I4x4)
                ma = pred_modes[gby][gbx - 1] if gbx > 0 else -1
                mbm = pred_modes[gby - 1][gbx] if gby > 0 else -1
                pred = min(
                    ma if ma >= 0 else 2, mbm if mbm >= 0 else 2
                )
                want = modes[blk]
                if want < 0:
                    mode = pred
                else:
                    mode = want if want < pred else want + 1
                pred_modes[gby][gbx] = mode
                dst = [[0] * 4 for _ in range(4)]
                if not _pred4x4(mode, dst, y0, x0, W, H, Y, avail):
                    return None
                if cbp_luma & (1 << blk8):
                    nc = nC(luma_nz, gby, gbx)
                    coeffs = _residual_block(b, 16, nc)
                    if coeffs is None:
                        return None
                    luma_nz[gby][gbx] = sum(1 for v in coeffs if v)
                    res = _itransform4x4(_dequant4x4(coeffs, qp, False))
                else:
                    luma_nz[gby][gbx] = 0
                    res = None
                for r in range(4):
                    for c in range(4):
                        v = dst[r][c] + (res[r][c] if res else 0)
                        Y[y0 + r][x0 + c] = (
                            0 if v < 0 else 255 if v > 255 else v
                        )
                blk_done[gby][gbx] = True
        else:  # I_16x16
            t = mb_type - 1
            pred_mode16 = t % 4
            cbp_chroma = (t // 4) % 3
            cbp_luma = 15 if t >= 12 else 0
            chroma_mode = b.ue()
            if chroma_mode > 3:
                return None
            qp += b.se()
            if not 0 <= qp <= 51:
                return None
            have_up = avail(yy - 1, xx)
            have_left = avail(yy, xx - 1)
            # map I16x16 mode numbering (0 V, 1 H, 2 DC, 3 plane)
            if not _pred16x16(pred_mode16, Y, yy, xx, have_up, have_left):
                return None
            # DC block (always present)
            nc = nC(luma_nz, my_mb * 4, mx_mb * 4)
            dc_coeffs = _residual_block(b, 16, nc)
            if dc_coeffs is None:
                return None
            dcm = [[0] * 4 for _ in range(4)]
            for i, (r, c) in enumerate(_ZIGZAG):
                dcm[r][c] = dc_coeffs[i]
            dcd = _luma_dc_dequant(dcm, qp)
            for blk in range(16):
                blk8 = blk >> 2
                sub = blk & 3
                bry = (blk8 >> 1) * 2 + (sub >> 1)
                brx = (blk8 & 1) * 2 + (sub & 1)
                gby, gbx = my_mb * 4 + bry, mx_mb * 4 + brx
                if cbp_luma:
                    nc = nC(luma_nz, gby, gbx)
                    ac = _residual_block(b, 15, nc)
                    if ac is None:
                        return None
                    luma_nz[gby][gbx] = sum(1 for v in ac if v)
                    coeffs = [0] + ac
                else:
                    luma_nz[gby][gbx] = 0
                    coeffs = [0] * 16
                blkd = _dequant4x4(coeffs, qp, True)
                blkd[0][0] = dcd[bry][brx]
                res = _itransform4x4(blkd)
                y0, x0 = yy + bry * 4, xx + brx * 4
                for r in range(4):
                    for c in range(4):
                        v = Y[y0 + r][x0 + c] + res[r][c]
                        Y[y0 + r][x0 + c] = (
                            0 if v < 0 else 255 if v > 255 else v
                        )
            for r in range(4):
                for c in range(4):
                    pred_modes[my_mb * 4 + r][mx_mb * 4 + c] = 2
                    blk_done[my_mb * 4 + r][mx_mb * 4 + c] = True

        # ----- chroma (shared by I_4x4 and I_16x16) -----
        qpc = _qp_chroma(qp, pps["chroma_qp_offset"])
        cy, cx = yy // 2, xx // 2
        have_up = avail(yy - 1, xx)
        have_left = avail(yy, xx - 1)
        cmode = _CHROMA_MODE_MAP[chroma_mode]
        for plane in (Cb, Cr):
            if cmode == 2:  # DC: per-quadrant rules
                _pred_chroma_dc(plane, cy, cx, have_up, have_left)
            elif not _pred_block(
                cmode, plane, cy, cx, 8, have_up, have_left
            ):
                return None
        for plane, nz in ((Cb, cb_nz), (Cr, cr_nz)):
            if cbp_chroma:
                dc = _residual_block(b, 4, -1)
                if dc is None:
                    return None
            else:
                dc = [0, 0, 0, 0]
            dcd = _chroma_dc_dequant(dc, qpc)
            for blk in range(4):
                bry, brx = blk >> 1, blk & 1
                gby, gbx = my_mb * 2 + bry, mx_mb * 2 + brx
                if cbp_chroma == 2:
                    nc = nC(nz, gby, gbx)
                    ac = _residual_block(b, 15, nc)
                    if ac is None:
                        return None
                    nz[gby][gbx] = sum(1 for v in ac if v)
                    coeffs = [0] + ac
                else:
                    nz[gby][gbx] = 0
                    coeffs = [0] * 16
                blkd = _dequant4x4(coeffs, qpc, True)
                blkd[0][0] = dcd[blk]
                res = _itransform4x4(blkd)
                y0, x0 = cy + bry * 4, cx + brx * 4
                for r in range(4):
                    for c in range(4):
                        v = plane[y0 + r][x0 + c] + res[r][c]
                        plane[y0 + r][x0 + c] = (
                            0 if v < 0 else 255 if v > 255 else v
                        )

    return (
        np.array(Y, dtype=np.uint8),
        np.array(Cb, dtype=np.uint8),
        np.array(Cr, dtype=np.uint8),
    )


def decode_idr_annexb(payload: bytes) -> dict | None:
    """Decode the FIRST IDR frame of an Annex-B elementary stream →
    ``{"width", "height", "y", "cb", "cr"}`` (cropped per SPS).
    Composes the r14 NAL walk and the shared SPS walk
    (``multimodal.h264_sps_fields``): SPS + PPS + the first type-5
    NAL. The first SPS the decoder supports is used. None when any
    piece is missing or unsupported."""
    from data_ingestion_py_spark.sources.multimodal import (
        h264_annexb_nals,
        h264_sps_fields,
    )

    idx = h264_annexb_nals(payload, max_nals=512)
    if idx is None:
        return None
    sps = pps = idr = None
    for _i, off, size, ntype, _k in idx["nals"]:
        nal = payload[off : off + size]
        if ntype == 7 and sps is None:
            f = h264_sps_fields(ebsp_to_rbsp(nal[1:]))
            # 4:2:0 frames only: no 4:2:2/4:4:4, no fields
            if f and f["chroma_format_idc"] == 1 and f["frame_mbs_only"]:
                sps = f
        elif ntype == 8 and pps is None:
            pps = parse_pps_decode(ebsp_to_rbsp(nal[1:]))
        elif ntype == 5 and idr is None:
            idr = ebsp_to_rbsp(nal[1:])
    if sps is None or pps is None or idr is None:
        return None
    got = decode_idr_slice(sps, pps, idr)
    if got is None:
        return None
    y, cb, cr = got
    cl, cr_, ct, cb_ = sps["crop"]
    W = sps["pic_width_in_mbs"] * 16 - 2 * (cl + cr_)
    H = sps["pic_height_in_mbs"] * 16 - 2 * (ct + cb_)
    if W <= 0 or H <= 0:
        return None
    y = y[2 * ct : 2 * ct + H, 2 * cl : 2 * cl + W]
    return {
        "width": W,
        "height": H,
        "y": y,
        "cb": cb[ct : ct + H // 2, cl : cl + W // 2],
        "cr": cr[ct : ct + H // 2, cl : cl + W // 2],
    }


H264_MB_SCHEMA = None  # built lazily (pyspark import kept off the hot path)


def h264_idr_mb_rows(media):
    """(media_id, payload[Annex-B ES]) → one row per macroblock of
    the FIRST IDR frame: ``(media_id, mb_row, mb_col, y_sum, width,
    height)`` via Arrow ``mapInPandas``. The 100 TB shape: the r14
    frame plans fetch ONLY keyframe byte ranges from object storage;
    this stage decodes them embarrassingly parallel per stream —
    no shuffle, no codec libraries. Undecodable payloads emit no
    rows (honest absence)."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("mb_row", T.IntegerType(), False),
            T.StructField("mb_col", T.IntegerType(), False),
            T.StructField("y_sum", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
        ]
    )

    def _go(batches):
        for pdf in batches:
            ids, mrs, mcs, sums, ws, hs = [], [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                got = decode_idr_annexb(
                    None if payload is None else bytes(payload)
                )
                if got is None:
                    continue
                y = got["y"].astype("int64")
                H, W = y.shape
                for mr in range(H // 16):
                    for mc in range(W // 16):
                        ids.append(int(mid))
                        mrs.append(mr)
                        mcs.append(mc)
                        sums.append(int(
                            y[mr*16:mr*16+16, mc*16:mc*16+16].sum()
                        ))
                        ws.append(W)
                        hs.append(H)
            yield pd.DataFrame(
                {"media_id": ids, "mb_row": mrs, "mb_col": mcs,
                 "y_sum": sums, "width": ws, "height": hs}
            )

    return spread_for_kernel(
        media.select("media_id", "payload")
    ).mapInPandas(_go, schema)


def h264_idr_phashes(media, grid: int = 4):
    """(media_id, payload[Annex-B ES]) → (media_id, phash): the first
    IDR frame's luma plane through the SAME integer average-hash
    kernel still images use (``multimodal.raster_average_hash``) —
    the H.264 leg of video near-dup dedup. Undecodable payloads
    hash to null."""
    import pandas as pd
    from pyspark.sql import types as T

    from data_ingestion_py_spark.sources.multimodal import (
        raster_average_hash,
    )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("phash", T.LongType(), True),
        ]
    )

    def _go(batches):
        for pdf in batches:
            hashes = []
            for payload in pdf["payload"]:
                got = decode_idr_annexb(
                    None if payload is None else bytes(payload)
                )
                hashes.append(
                    None if got is None
                    else raster_average_hash(got["y"], grid)
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"],
                 "phash": pd.array(hashes, dtype="Int64")}
            )

    return spread_for_kernel(
        media.select("media_id", "payload")
    ).mapInPandas(_go, schema)
