"""Pure-Python zstd FRAME decoder — RFC 8878, no libraries.

Round 12's shard module (sources/shards.py) decodes zstd raw/RLE blocks
pure-byte and hands entropy-coded blocks to pyarrow WITH the frame's
declared content size; frames written by streaming encoders carry no
Frame_Content_Size, which left a documented seam. This module closes it:
a from-the-spec decoder for zstd's entropy-coded blocks —

- the REVERSE bitstream (last byte's 1-marker padding, bits consumed
  downward, fields read MSB-first) in its own ``_RevBits``: its
  zero-filled end-of-stream flush is a contract no forward reader has;
  the forward FSE table headers use the shared
  ``sources/bits.LsbBitReader``,
- FSE: normalized-count header parse (variable-width probabilities,
  zero-run 2-bit repeat flags, the ``remaining``-driven threshold walk)
  and decode-table construction (low-prob −1 cells at the table top,
  the 5/8+3+1 spread step, baseline/bit transitions),
- Huffman literals: direct 4-bit weights or FSE-compressed weights (two
  interleaved states flushed at stream exhaustion), the implied last
  weight completing the Kraft sum, weight-ordered decode-table layout,
  1-stream and 4-stream (6-byte jump table) variants,
- sequences: Predefined_Mode (the RFC's three default distributions —
  their Kraft sums 64/64/32 are asserted at import), RLE_Mode,
  FSE_Compressed_Mode, and Repeat_Mode (tables and Huffman trees carry
  across blocks), the LL/ML/OF code→baseline+extra-bits mappings, the
  three-slot repeat-offset history with the literals_length==0 shift,
  and interleaved state updates in the spec's exact read order,
- sequence execution over a window that spans blocks.

Pinned in tests/test_zstd_pure.py against frames produced by pyarrow's
C zstd encoder (an independent implementation) across sizes, entropy
levels, and content shapes — every decoded byte equal — plus torn/
corrupt gates. ``sources/shards.zstd_frame_decompress`` tries this
decoder for entropy-coded frames before the (FCS-requiring) pyarrow
kernel, so no-FCS streaming frames now decode in-container.

Corruption contract: any malformed header, over/under-subscribed
table, window underrun, or output past ``max_out`` → None, never a
guess.
"""

from __future__ import annotations

from data_ingestion_py_spark.sources.bits import BitstreamError, LsbBitReader

# ---------------------------------------------------------------------------
# Predefined sequence distributions (RFC 8878 §3.1.1.3.2.2)
# ---------------------------------------------------------------------------

_LL_DEFAULTS = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
     2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1],
    6,
)
_ML_DEFAULTS = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULTS = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1],
    5,
)

for _dist, _al in (_LL_DEFAULTS, _ML_DEFAULTS, _OF_DEFAULTS):
    assert sum(abs(c) for c in _dist) == 1 << _al  # Kraft-exact or bust

# LL code → (baseline, extra bits); codes 0-15 are identity
_LL_EXTRA = [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3),
    (40, 3), (48, 4), (64, 6), (128, 7), (256, 8), (512, 9), (1024, 10),
    (2048, 11), (4096, 12), (8192, 13), (16384, 14), (32768, 15),
    (65536, 16),
]
# ML code → (baseline, extra bits); codes 0-31 are code+3
_ML_EXTRA = [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
    (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9),
    (1027, 10), (2051, 11), (4099, 12), (8195, 13), (16387, 14),
    (32771, 15), (65539, 16),
]


def _ll_value(code: int, bits) -> int | None:
    if code < 16:
        return code
    if code > 35:
        return None
    base, nb = _LL_EXTRA[code - 16]
    got = bits.read(nb)
    return None if got is None else base + got


def _ml_value(code: int, bits) -> int | None:
    if code < 32:
        return code + 3
    if code > 52:
        return None
    base, nb = _ML_EXTRA[code - 32]
    got = bits.read(nb)
    return None if got is None else base + got


# ---------------------------------------------------------------------------
# The backward bit reader
# ---------------------------------------------------------------------------


class _RevBits:
    """The zstd backward bitstream: the byte sequence is one
    little-endian integer; the highest set bit is the padding marker;
    reads take the bits just below the cursor, MSB-first."""

    __slots__ = ("val", "pos")

    def __init__(self, data: bytes) -> None:
        if not data or data[-1] == 0:
            self.val = 0
            self.pos = -1  # invalid: no marker
            return
        self.val = int.from_bytes(data, "little")
        self.pos = self.val.bit_length() - 1  # strip the marker bit

    def read(self, n: int) -> int | None:
        """n bits below the cursor; None on underflow (corrupt)."""
        if n == 0:
            return 0
        if self.pos < n:
            return None
        self.pos -= n
        return (self.val >> self.pos) & ((1 << n) - 1)

    def read_flush(self, n: int) -> tuple[int, bool]:
        """Like read but on underflow returns the remaining bits
        zero-padded LOW (the spec's end-of-stream state flush) and
        flags exhaustion."""
        if n == 0:
            return 0, self.pos <= 0
        if self.pos >= n:
            self.pos -= n
            return (self.val >> self.pos) & ((1 << n) - 1), False
        got = (self.val & ((1 << max(self.pos, 0)) - 1)) << (
            n - max(self.pos, 0)
        )
        self.pos = 0
        return got, True


# ---------------------------------------------------------------------------
# FSE
# ---------------------------------------------------------------------------


class _FseTable:
    __slots__ = ("al", "sym", "nb", "base")

    def __init__(self, norm: list[int], al: int) -> None:
        size = 1 << al
        self.al = al
        sym = [0] * size
        high = size - 1
        for s, c in enumerate(norm):
            if c == -1:
                sym[high] = s
                high -= 1
        step = (size >> 1) + (size >> 3) + 3
        mask = size - 1
        pos = 0
        for s, c in enumerate(norm):
            for _ in range(max(c, 0)):
                sym[pos] = s
                pos = (pos + step) & mask
                while pos > high:
                    pos = (pos + step) & mask
        if pos != 0:
            raise ValueError("corrupt normalized counts")
        nxt = [1 if c == -1 else c for c in norm]
        nb = [0] * size
        base = [0] * size
        for i in range(size):
            s = sym[i]
            x = nxt[s]
            nxt[s] += 1
            bits = al - (x.bit_length() - 1)
            nb[i] = bits
            base[i] = (x << bits) - size
        self.sym = sym
        self.nb = nb
        self.base = base

    @classmethod
    def rle(cls, symbol: int) -> "_FseTable":
        t = cls.__new__(cls)
        t.al = 0
        t.sym = [symbol]
        t.nb = [0]
        t.base = [0]
        return t


def _parse_fse_header(
    data: bytes, start: int, max_al: int, max_symbols: int
) -> tuple[list[int], int, int] | None:
    """Normalized-count parse (RFC 8878 §4.1.1) → (norm, accuracy_log,
    next_byte_offset). None on a malformed or truncated header."""
    bits = LsbBitReader(data, start)
    try:
        al = bits.read(4) + 5
        if al > max_al:
            return None
        remaining = (1 << al) + 1
        threshold = 1 << al
        nbits = al + 1
        norm: list[int] = []
        prev_zero = False
        while remaining > 1:
            if len(norm) > max_symbols:
                return None
            if prev_zero:
                # 2-bit repeat flags: 3 means "3 more zeros, read again"
                while True:
                    rep = bits.read(2)
                    norm.extend([0] * rep if rep < 3 else [0, 0, 0])
                    if rep < 3:
                        break
                    if len(norm) > max_symbols:
                        return None
                prev_zero = False
                continue
            maxv = (2 * threshold - 1) - remaining
            count = bits.read(nbits - 1)
            if count >= maxv:
                count += bits.read(1) << (nbits - 1)
                if count >= threshold:
                    count -= maxv
            count -= 1  # stored value is prob+1; 0 → "-1" (low prob)
            remaining -= -count if count < 0 else count
            norm.append(count)
            prev_zero = count == 0
            while remaining < threshold:
                nbits -= 1
                threshold >>= 1
    except BitstreamError:
        return None
    if remaining != 1 or len(norm) > max_symbols:
        return None
    return norm, al, (bits.pos + 7) >> 3


def _fse_decompress_weights(
    data: bytes, max_out: int = 255
) -> list[int] | None:
    """The FSE-compressed Huffman-weights stream: its own normalized-
    count header, then a backward bitstream decoded with TWO
    interleaved states; when the stream exhausts, each state flushes
    one final symbol."""
    parsed = _parse_fse_header(data, 0, 6, 255)
    if parsed is None:
        return None
    norm, al, off = parsed
    try:
        table = _FseTable(norm, al)
    except ValueError:
        return None
    stream = data[off:]
    if not stream:
        return None
    bits = _RevBits(stream)
    s1 = bits.read(al)
    s2 = bits.read(al)
    if s1 is None or s2 is None:
        return None
    out: list[int] = []
    while len(out) < max_out:
        out.append(table.sym[s1])
        got, done = bits.read_flush(table.nb[s1])
        s1 = table.base[s1] + got
        if done:
            out.append(table.sym[s2])
            return out
        out.append(table.sym[s2])
        got, done = bits.read_flush(table.nb[s2])
        s2 = table.base[s2] + got
        if done:
            out.append(table.sym[s1])
            return out
    return None  # weights stream refused to end: corrupt


# ---------------------------------------------------------------------------
# Huffman literals
# ---------------------------------------------------------------------------


class _HufTable:
    """tableLog-bit direct-lookup decoder, filled in weight order
    (weight 1 — the longest codes — first; within a weight, symbol
    order), each symbol spanning 2^(w-1) slots."""

    __slots__ = ("log", "sym", "nbits")

    def __init__(self, weights: list[int]) -> None:
        total = sum(1 << (w - 1) for w in weights if w > 0)
        if total == 0:
            raise ValueError("empty tree")
        log = (total - 1).bit_length()
        if total != 1 << log or log > 11:
            raise ValueError("weights do not sum to a power of two")
        self.log = log
        size = 1 << log
        self.sym = [0] * size
        self.nbits = [0] * size
        pos = 0
        for w in range(1, log + 1):
            for s, ws in enumerate(weights):
                if ws != w:
                    continue
                span = 1 << (w - 1)
                nb = log + 1 - w
                for k in range(pos, pos + span):
                    self.sym[k] = s
                    self.nbits[k] = nb
                pos += span
        if pos != size:
            raise ValueError("incomplete tree")

    def decode_stream(self, data: bytes, n_out: int) -> bytes | None:
        bits = _RevBits(data)
        if bits.pos < 0:
            return None
        out = bytearray()
        log = self.log
        val = bits.val
        mask = (1 << log) - 1
        pos = bits.pos
        while len(out) < n_out:
            # True peek: never mutate the cursor while looking up the
            # table slot.  Near the stream tail (pos < log) the spec
            # pads LOW with zeros for the lookup, but the cursor must
            # advance by exactly nbits from the ORIGINAL position —
            # the old read_flush-then-restore dance zeroed pos first
            # and re-read already-consumed bits (advisor-verified
            # corruption on ~10% of skewed level-19 frames).
            if pos >= log:
                got = (val >> (pos - log)) & mask
            elif pos > 0:
                got = (val & ((1 << pos) - 1)) << (log - pos)
            else:
                got = 0
            s = self.sym[got]
            pos -= self.nbits[got]
            if pos < 0:
                return None  # consumed past the start: corrupt
            out.append(s)
        return bytes(out)


def _read_huffman(
    data: bytes, start: int
) -> tuple[_HufTable, int] | None:
    """Huffman_Tree_Description → (table, next_offset)."""
    if start >= len(data):
        return None
    hb = data[start]
    if hb >= 128:  # direct 4-bit weights
        n = hb - 127
        nbytes = (n + 1) // 2
        if start + 1 + nbytes > len(data):
            return None
        weights = []
        for i in range(n):
            b = data[start + 1 + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        off = start + 1 + nbytes
    else:  # FSE-compressed weights, hb = compressed size
        if start + 1 + hb > len(data):
            return None
        weights = _fse_decompress_weights(data[start + 1 : start + 1 + hb])
        if weights is None:
            return None
        off = start + 1 + hb
    # implied last weight completes the Kraft sum to a power of two
    total = sum(1 << (w - 1) for w in weights if w > 0)
    if total == 0:
        return None
    log = total.bit_length()  # floor(log2(total)) + 1
    missing = (1 << log) - total
    if missing & (missing - 1):
        return None  # not a power of two: corrupt
    weights.append(missing.bit_length())
    if any(w > 11 for w in weights):
        return None
    try:
        return _HufTable(weights), off
    except ValueError:
        return None


# ---------------------------------------------------------------------------
# Block decode
# ---------------------------------------------------------------------------


class _BlockState:
    """Entropy state that carries ACROSS blocks of one frame:
    Repeat_Mode tables, Treeless_Literals_Block trees, and the
    three-slot repeat-offset history."""

    def __init__(self) -> None:
        self.huf: _HufTable | None = None
        self.ll: _FseTable | None = None
        self.of: _FseTable | None = None
        self.ml: _FseTable | None = None
        self.reps = [1, 4, 8]


def _decode_literals(
    block: bytes, state: _BlockState
) -> tuple[bytes, int] | None:
    """Literals_Section → (literals, next_offset)."""
    if not block:
        return None
    hb = block[0]
    ltype = hb & 3
    sf = (hb >> 2) & 3
    if ltype in (0, 1):  # Raw / RLE
        if sf in (0, 2):
            size = hb >> 3
            off = 1
        elif sf == 1:
            if len(block) < 2:
                return None
            size = (hb >> 4) | (block[1] << 4)
            off = 2
        else:
            if len(block) < 3:
                return None
            size = (hb >> 4) | (block[1] << 4) | (block[2] << 12)
            off = 3
        if ltype == 0:
            if off + size > len(block):
                return None
            return block[off : off + size], off + size
        if off + 1 > len(block):
            return None
        return bytes([block[off]]) * size, off + 1
    # Compressed / Treeless
    if sf == 0:
        if len(block) < 3:
            return None
        v = hb | (block[1] << 8) | (block[2] << 16)
        regen = (v >> 4) & 0x3FF
        comp = (v >> 14) & 0x3FF
        off = 3
        streams = 1
    elif sf == 1:
        if len(block) < 3:
            return None
        v = hb | (block[1] << 8) | (block[2] << 16)
        regen = (v >> 4) & 0x3FF
        comp = (v >> 14) & 0x3FF
        off = 3
        streams = 4
    elif sf == 2:
        if len(block) < 4:
            return None
        v = hb | (block[1] << 8) | (block[2] << 16) | (block[3] << 24)
        regen = (v >> 4) & 0x3FFF
        comp = (v >> 18) & 0x3FFF
        off = 4
        streams = 4
    else:
        if len(block) < 5:
            return None
        v = (
            hb
            | (block[1] << 8)
            | (block[2] << 16)
            | (block[3] << 24)
            | (block[4] << 32)
        )
        regen = (v >> 4) & 0x3FFFF
        comp = (v >> 22) & 0x3FFFF
        off = 5
        streams = 4
    if off + comp > len(block):
        return None
    section_end = off + comp
    if ltype == 2:  # fresh tree; comp includes the tree description
        got = _read_huffman(block, off)
        if got is None:
            return None
        huf, off = got
        state.huf = huf
    else:  # treeless: reuse
        huf = state.huf
        if huf is None:
            return None
    payload = block[off:section_end]
    if streams == 1:
        lit = huf.decode_stream(payload, regen)
        if lit is None or len(lit) != regen:
            return None
        return lit, section_end
    if len(payload) < 6:
        return None
    s1 = payload[0] | (payload[1] << 8)
    s2 = payload[2] | (payload[3] << 8)
    s3 = payload[4] | (payload[5] << 8)
    body = payload[6:]
    if s1 + s2 + s3 > len(body):
        return None
    per = (regen + 3) // 4
    parts = []
    cuts = [
        (0, s1, per),
        (s1, s1 + s2, per),
        (s1 + s2, s1 + s2 + s3, per),
        (s1 + s2 + s3, len(body), regen - 3 * per),
    ]
    if regen - 3 * per < 0:
        return None
    for a, b, n in cuts:
        lit = huf.decode_stream(body[a:b], n)
        if lit is None or len(lit) != n:
            return None
        parts.append(lit)
    return b"".join(parts), section_end


def _seq_table(
    mode: int,
    block: bytes,
    off: int,
    defaults: tuple[list[int], int],
    max_al: int,
    max_symbols: int,
    prev: _FseTable | None,
) -> tuple[_FseTable, int] | None:
    if mode == 0:  # predefined
        norm, al = defaults
        return _FseTable(norm, al), off
    if mode == 1:  # RLE: one byte = the only symbol
        if off >= len(block) or block[off] >= max_symbols:
            return None
        return _FseTable.rle(block[off]), off + 1
    if mode == 2:  # FSE-compressed
        parsed = _parse_fse_header(block, off, max_al, max_symbols)
        if parsed is None:
            return None
        norm, al, noff = parsed
        try:
            return _FseTable(norm, al), noff
        except ValueError:
            return None
    if prev is None:  # repeat with nothing to repeat: corrupt
        return None
    return prev, off


def _decode_block(
    block: bytes, window: bytearray, state: _BlockState, max_out: int
) -> bool:
    """Decode one Compressed_Block into ``window`` (appending).
    Returns False on any corruption."""
    got = _decode_literals(block, state)
    if got is None:
        return False
    literals, off = got
    if off >= len(block):
        return False
    # sequence count
    b0 = block[off]
    if b0 < 128:
        nseq = b0
        off += 1
    elif b0 < 255:
        if off + 2 > len(block):
            return False
        nseq = ((b0 - 128) << 8) | block[off + 1]
        off += 2
    else:
        if off + 3 > len(block):
            return False
        nseq = block[off + 1] | (block[off + 2] << 8)
        nseq += 0x7F00
        off += 3
    if nseq == 0:
        if len(window) + len(literals) > max_out:
            return False
        window += literals
        return True
    if off >= len(block):
        return False
    modes = block[off]
    if modes & 3:
        return False  # reserved bits
    off += 1
    llm, ofm, mlm = (modes >> 6) & 3, (modes >> 4) & 3, (modes >> 2) & 3
    got_t = _seq_table(llm, block, off, _LL_DEFAULTS, 9, 36, state.ll)
    if got_t is None:
        return False
    ll_t, off = got_t
    got_t = _seq_table(ofm, block, off, _OF_DEFAULTS, 8, 32, state.of)
    if got_t is None:
        return False
    of_t, off = got_t
    got_t = _seq_table(mlm, block, off, _ML_DEFAULTS, 9, 53, state.ml)
    if got_t is None:
        return False
    ml_t, off = got_t
    state.ll, state.of, state.ml = ll_t, of_t, ml_t
    bits = _RevBits(block[off:])
    if bits.pos < 0:
        return False
    ll_s = bits.read(ll_t.al)
    of_s = bits.read(of_t.al)
    ml_s = bits.read(ml_t.al)
    if ll_s is None or of_s is None or ml_s is None:
        return False
    lit_pos = 0
    reps = state.reps
    for i in range(nseq):
        of_code = of_t.sym[of_s]
        ml_code = ml_t.sym[ml_s]
        ll_code = ll_t.sym[ll_s]
        if of_code > 31:
            return False
        of_bits = bits.read(of_code)
        if of_bits is None:
            return False
        of_value = (1 << of_code) + of_bits
        ml = _ml_value(ml_code, bits)
        ll = _ll_value(ll_code, bits)
        if ml is None or ll is None:
            return False
        # repeat-offset resolution
        if of_value > 3:
            offset = of_value - 3
            reps[2] = reps[1]
            reps[1] = reps[0]
            reps[0] = offset
        else:
            idx = of_value - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = reps[0]
            elif idx == 1:
                offset = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            elif idx == 2:
                offset = reps[2]
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            else:
                offset = reps[0] - 1
                if offset == 0:
                    return False
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
        if lit_pos + ll > len(literals):
            return False
        if len(window) + ll + ml > max_out:
            return False
        window += literals[lit_pos : lit_pos + ll]
        lit_pos += ll
        if offset > len(window):
            return False
        start = len(window) - offset
        if offset >= ml:
            window += window[start : start + ml]
        else:
            for k in range(ml):
                window.append(window[start + k])
        if i + 1 < nseq:  # update states (LL, ML, OF order per spec)
            got_b = bits.read(ll_t.nb[ll_s])
            if got_b is None:
                return False
            ll_s = ll_t.base[ll_s] + got_b
            got_b = bits.read(ml_t.nb[ml_s])
            if got_b is None:
                return False
            ml_s = ml_t.base[ml_s] + got_b
            got_b = bits.read(of_t.nb[of_s])
            if got_b is None:
                return False
            of_s = of_t.base[of_s] + got_b
    if len(window) + len(literals) - lit_pos > max_out:
        return False
    window += literals[lit_pos:]  # last literals
    return True


def zstd_decompress_frame(
    payload: bytes,
    offset: int = 0,
    max_out: int = 1 << 26,
) -> bytes | None:
    """Decode ONE zstd frame at ``offset`` — raw, RLE, AND compressed
    blocks — with no libraries. Verifies the declared content size
    when present; the XXH64 content checksum is verified by the caller
    (sources/shards.zstd_frame_decompress). None on any corruption."""
    from data_ingestion_py_spark.sources.shards import zstd_frames

    frames = zstd_frames(payload[offset:], max_frames=1)
    if not frames:
        return None
    _o, comp, content, kind, _nb, cksum = frames[0]
    if kind == "skippable":
        return b""
    fhd = payload[offset + 4]
    if fhd & 3:
        return None  # dictionary frames: honest seam (no dict content)
    j = (
        offset
        + 5
        + (0 if (fhd >> 5) & 1 else 1)
        + (0, 1, 2, 4)[fhd & 3]
        + ((1 if (fhd >> 5) & 1 else 0), 2, 4, 8)[fhd >> 6]
    )
    end = offset + comp - (4 if cksum else 0)
    window = bytearray()
    state = _BlockState()
    while j < end:
        bh = int.from_bytes(payload[j : j + 3], "little")
        j += 3
        last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
        if btype == 0:
            if len(window) + bsize > max_out:
                return None
            window += payload[j : j + bsize]
            j += bsize
        elif btype == 1:
            if len(window) + bsize > max_out:
                return None
            window += payload[j : j + 1] * bsize
            j += 1
        elif btype == 2:
            if not _decode_block(
                payload[j : j + bsize], window, state, max_out
            ):
                return None
            j += bsize
        else:
            return None
        if last:
            break
    if content is not None and len(window) != content:
        return None
    return bytes(window)
