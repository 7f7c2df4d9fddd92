"""Zstandard decoder from scratch — RFC 8878, no zstd library.

ZSTD is the DEFAULT codec of the modern lake (parquet-mr, Spark, ORC,
Arrow all default or recommend it); an engine that reads storage
bytes itself needs it.  Implemented from the PUBLIC RFC 8878 spec,
cross-validated against Arrow's bundled C++ libzstd (tests/
test_zstd.py) in both directions:

* frame header — magic 0xFD2FB528, descriptor (frame-content-size /
  single-segment / checksum / dictionary-id flags), window
  descriptor, XXH64-low32 content checksum (xxhash64 implemented
  here from its public spec);
* blocks — Raw / RLE / Compressed with the 3-byte header;
* literals — Raw / RLE / Huffman-compressed / Treeless (table
  reuse), 1-stream and 4-stream (6-byte jump table) forms;
* Huffman — weights either direct 4-bit or FSE-compressed with two
  interleaved states and zero-padding termination; last weight
  deduced from the power-of-two completion rule; canonical
  single-level decode table (weight-ascending fill);
* FSE — accuracy-log + truncated-binary probability stream
  (low-probability -1 cells at table end, 2-bit zero-repeat flags),
  symbol spread with step (S>>1)+(S>>3)+3, baseline/nbBits per cell;
* sequences — predefined / RLE / FSE / repeat table modes for
  literal-length, offset and match-length codes, the shared
  backward bitstream (padding bit, LL->OF->ML init order,
  OF->ML->LL read order, LL->ML->OF update order), code baselines
  and extra bits, and the 3-slot repeat-offset history with the
  literal-length-zero shift;
* sequence execution — overlapping match copies byte-for-byte.

``zstd_compress`` emits VALID frames in store mode (Raw blocks +
XXH64 checksum) — enough for the their-decoder direction of the
cross-validation; the decoder handles everything a real writer
emits.  Hostile input raises ``ValueError``; output is capped.
"""

from __future__ import annotations

import struct

MAX_OUTPUT_BYTES = 1 << 28
MAX_BLOCK = 1 << 17  # spec block maximum (128 KiB)

MAGIC = 0xFD2FB528
SKIPPABLE_LO = 0x184D2A50

# ---------------------------------------------------------------- xxhash64

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round64(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl64(acc, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 from the public xxHash spec (the frame checksum is its
    low 32 bits)."""
    n = len(data)
    pos = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while pos + 32 <= n:
            l1, l2, l3, l4 = struct.unpack_from("<4Q", data, pos)
            v1, v2 = _round64(v1, l1), _round64(v2, l2)
            v3, v4 = _round64(v3, l3), _round64(v4, l4)
            pos += 32
        acc = (_rotl64(v1, 1) + _rotl64(v2, 7)
               + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            acc = ((acc ^ _round64(0, v)) * _P1 + _P4) & _M64
    else:
        acc = (seed + _P5) & _M64
    acc = (acc + n) & _M64
    while pos + 8 <= n:
        (lane,) = struct.unpack_from("<Q", data, pos)
        acc = ((_rotl64(acc ^ _round64(0, lane), 27) * _P1) + _P4) \
            & _M64
        pos += 8
    if pos + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, pos)
        acc = ((_rotl64(acc ^ (lane * _P1) & _M64, 23) * _P2)
               + _P3) & _M64
        pos += 4
    while pos < n:
        acc = ((_rotl64(acc ^ (data[pos] * _P5) & _M64, 11) * _P1)) \
            & _M64
        pos += 1
    acc ^= acc >> 33
    acc = (acc * _P2) & _M64
    acc ^= acc >> 29
    acc = (acc * _P3) & _M64
    acc ^= acc >> 32
    return acc


# ---------------------------------------------------------- bit readers


class _BackBits:
    """Backward bitstream (RFC 8878 §3.1.1.3.2): written forward,
    read from the end; the last byte's highest set bit is padding.
    ``read(n)`` consumes the top n remaining bits — the first-read
    bit is the most significant of the returned value."""

    __slots__ = ("data", "bits")

    def __init__(self, data: bytes):
        if not data:
            raise ValueError("empty bitstream")
        last = data[-1]
        if last == 0:
            raise ValueError("bitstream padding byte is zero")
        self.data = data
        self.bits = (len(data) - 1) * 8 + last.bit_length() - 1

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self.bits -= n
        pos = self.bits
        if pos < 0:
            raise ValueError("bitstream underrun")
        return self._extract(pos, n)

    def read_padded(self, n: int) -> int:
        """Read n bits, zero-padding past the start (the FSE weight
        stream termination rule: missing bits are 0)."""
        if n == 0:
            return 0
        self.bits -= n
        pos = self.bits
        if pos <= -n:
            return 0
        if pos < 0:
            return self._extract(0, n + pos) << -pos
        return self._extract(pos, n)

    def _extract(self, pos: int, n: int) -> int:
        b0 = pos >> 3
        b1 = (pos + n - 1) >> 3
        chunk = int.from_bytes(self.data[b0:b1 + 1], "little")
        return (chunk >> (pos & 7)) & ((1 << n) - 1)


class _FwdBits:
    """Forward little-endian bit reader (FSE table descriptions)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        end = self.pos + n
        if end > len(self.data) * 8:
            raise ValueError("fse description underrun")
        b0 = self.pos >> 3
        b1 = (end - 1) >> 3
        chunk = int.from_bytes(self.data[b0:b1 + 1], "little")
        v = (chunk >> (self.pos & 7)) & ((1 << n) - 1)
        self.pos = end
        return v

    def peek(self, n: int) -> int:
        save = self.pos
        # allow peeking past the end with zero fill (the last value's
        # encoding may not need all peeked bits)
        avail = len(self.data) * 8 - save
        if avail <= 0:
            return 0
        take = min(n, avail)
        b0 = save >> 3
        b1 = (save + take - 1) >> 3
        chunk = int.from_bytes(self.data[b0:b1 + 1], "little")
        return (chunk >> (save & 7)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n

    def bytes_consumed(self) -> int:
        return (self.pos + 7) // 8


# ------------------------------------------------------------------- FSE


class _FSETable:
    __slots__ = ("symbol", "nbits", "base", "acc_log")

    def __init__(self, acc_log: int):
        size = 1 << acc_log
        self.acc_log = acc_log
        self.symbol = [0] * size
        self.nbits = [0] * size
        self.base = [0] * size


def fse_build(probs: list[int], acc_log: int) -> _FSETable:
    """Normalized probabilities (-1 = low-prob) -> decode table
    (RFC 8878 §4.1.1: low-prob cells at the table end, spread step
    (S>>1)+(S>>3)+3, per-cell baseline/nbBits)."""
    size = 1 << acc_log
    if acc_log > 20:
        raise ValueError("fse accuracy log too large")
    t = _FSETable(acc_log)
    high = size - 1
    for s, p in enumerate(probs):
        if p == -1:
            t.symbol[high] = s
            high -= 1
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, p in enumerate(probs):
        if p <= 0:
            continue
        for _ in range(p):
            t.symbol[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("fse table spread did not close")
    counts = [0] * len(probs)
    for i in range(size):
        s = t.symbol[i]
        p = probs[s]
        if p == -1:
            t.nbits[i] = acc_log
            t.base[i] = 0
        else:
            nxt = p + counts[s]
            counts[s] += 1
            nb = acc_log - (nxt.bit_length() - 1)
            t.nbits[i] = nb
            t.base[i] = (nxt << nb) - size
    return t


def fse_read_distribution(data: bytes,
                          max_symbol: int) -> tuple[list[int], int, int]:
    """FSE table description -> (probs, accuracy_log,
    bytes_consumed).  Truncated-binary values (value-1 =
    probability), 2-bit repeat flags after a zero."""
    bits = _FwdBits(data)
    acc_log = bits.read(4) + 5
    # per-use caps (weights 6, offsets 8, LL/ML 9) are enforced by
    # callers; this is the structural ceiling
    if acc_log > 15:
        raise ValueError("fse accuracy log out of range")
    size = 1 << acc_log
    remaining = size + 1
    threshold = size
    nb = acc_log + 1
    probs: list[int] = []
    prev_zero = False
    while remaining > 1 and len(probs) <= max_symbol:
        if prev_zero:
            while bits.peek(2) == 3:
                bits.skip(2)
                probs.extend([0, 0, 0])
                if len(probs) > max_symbol + 1:
                    raise ValueError("fse zero repeat overrun")
            probs.extend([0] * bits.read(2))
            prev_zero = False
            if len(probs) > max_symbol + 1:
                raise ValueError("fse zero repeat overrun")
            continue
        maxv = (2 * threshold - 1) - remaining
        count = bits.peek(nb)
        if (count & (threshold - 1)) < maxv:
            count &= threshold - 1
            bits.skip(nb - 1)
        else:
            count &= 2 * threshold - 1
            if count >= threshold:
                count -= maxv
            bits.skip(nb)
        count -= 1  # value - 1 = probability; -1 = low-prob
        remaining -= -count if count < 0 else count
        probs.append(count)
        prev_zero = count == 0
        while remaining < threshold:
            nb -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("fse distribution does not sum to table")
    return probs, acc_log, bits.bytes_consumed()


# --------------------------------------------------------------- Huffman


class _HufTable:
    __slots__ = ("max_bits", "symbol", "nbits")

    def __init__(self, weights: list[int]):
        if any(w < 0 or w > 12 for w in weights):
            raise ValueError("huffman weight out of range")
        total = sum((1 << (w - 1)) for w in weights if w > 0)
        if total == 0:
            raise ValueError("huffman: no weights")
        # the last symbol's weight is implicit: it completes the
        # weight sum to the NEXT power of two (§4.2.1), which also
        # fixes Max_Number_of_Bits
        max_bits = total.bit_length()
        if max_bits > 11:
            raise ValueError("huffman max bits > 11")
        left = (1 << max_bits) - total
        if left <= 0 or left & (left - 1):
            raise ValueError("huffman weights do not complete a tree")
        weights = weights + [left.bit_length()]
        if max(weights) > max_bits:
            raise ValueError("huffman weight exceeds max bits")
        self.max_bits = max_bits
        size = 1 << max_bits
        self.symbol = [0] * size
        self.nbits = [0] * size
        # canonical fill: weight-ascending regions, natural symbol
        # order within a weight
        rank_start = [0] * (max_bits + 2)
        for w in weights:
            if w > 0:
                rank_start[w + 1] += 1 << (w - 1)
        for w in range(1, max_bits + 2):
            rank_start[w] += rank_start[w - 1]
        if rank_start[max_bits + 1] != size:
            raise ValueError("huffman weights malformed")
        for s, w in enumerate(weights):
            if w == 0:
                continue
            ln = 1 << (w - 1)
            start = rank_start[w]
            nb = max_bits + 1 - w
            for i in range(start, start + ln):
                self.symbol[i] = s
                self.nbits[i] = nb
            rank_start[w] += ln

    def decode_stream(self, data: bytes, n_out: int) -> bytearray:
        bits = _BackBits(data)
        out = bytearray()
        mb = self.max_bits
        symbol = self.symbol
        nbits = self.nbits
        while len(out) < n_out:
            idx = bits.read_padded(mb)
            out.append(symbol[idx])
            back = mb - nbits[idx]
            bits.bits += back
        if bits.bits != 0:
            raise ValueError("huffman stream not fully consumed")
        return out


def _read_huffman_weights(data: bytes) -> tuple[list[int], int]:
    """Huffman tree description -> (explicit weights, bytes
    consumed).  Header < 128: FSE-compressed weights with two
    interleaved states; >= 128: direct 4-bit weights."""
    if not data:
        raise ValueError("huffman description empty")
    h = data[0]
    if h >= 128:
        n = h - 127
        need = (n + 1) // 2
        if 1 + need > len(data):
            raise ValueError("huffman direct weights truncated")
        weights = []
        for i in range(n):
            b = data[1 + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return weights, 1 + need
    csize = h
    if 1 + csize > len(data):
        raise ValueError("huffman fse weights truncated")
    blob = data[1:1 + csize]
    probs, acc_log, used = fse_read_distribution(blob, 255)
    if acc_log > 6:
        raise ValueError("weight fse accuracy log > 6")
    table = fse_build(probs, acc_log)
    stream = blob[used:]
    bits = _BackBits(stream)
    s1 = bits.read(acc_log)
    s2 = bits.read(acc_log)
    weights: list[int] = []
    # two interleaved states; a state update past the stream start
    # zero-pads, then each final state emits once more (§4.2.1.2)
    while True:
        weights.append(table.symbol[s1])
        if bits.bits < table.nbits[s1]:
            weights.append(table.symbol[s2])
            break
        s1 = table.base[s1] + bits.read(table.nbits[s1])
        weights.append(table.symbol[s2])
        if bits.bits < table.nbits[s2]:
            weights.append(table.symbol[s1])
            break
        s2 = table.base[s2] + bits.read(table.nbits[s2])
        if len(weights) > 255:
            raise ValueError("huffman weight stream overrun")
    if len(weights) > 255:
        raise ValueError("too many huffman weights")
    return weights, 1 + csize


# ----------------------------------------------------- sequence tables

# RFC 8878 §3.1.1.3.2.1.1: literal-length code baselines/extra bits
_LL_BASE = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
            16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512,
            1024, 2048, 4096, 8192, 16384, 32768, 65536)
_LL_BITS = (0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
            1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13,
            14, 15, 16)
# match-length codes
_ML_BASE = (3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18,
            19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32,
            33, 34, 35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131,
            259, 515, 1027, 2051, 4099, 8195, 16387, 32771, 65539)
_ML_BITS = (0,) * 32 + (1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10,
                        11, 12, 13, 14, 15, 16)

# predefined distributions (§3.1.1.3.2.2.1)
_LL_DEFAULT = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
               2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
               -1, -1, -1, -1]
_ML_DEFAULT = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
               -1, -1, -1, -1, -1]
_OF_DEFAULT = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1]
_LL_ACC, _ML_ACC, _OF_ACC = 6, 6, 5
_LL_MAX_SYM, _ML_MAX_SYM, _OF_MAX_SYM = 35, 52, 31
_MAX_ACC = {"ll": 9, "of": 8, "ml": 9}


class _RLETable:
    """Degenerate one-symbol 'table' for RLE sequence mode."""

    __slots__ = ("sym",)

    def __init__(self, sym: int):
        self.sym = sym


def _read_seq_table(data: bytes, pos: int, mode: int, which: str,
                    prev) -> tuple[object, int]:
    if mode == 0:  # predefined
        dist, acc = {"ll": (_LL_DEFAULT, _LL_ACC),
                     "of": (_OF_DEFAULT, _OF_ACC),
                     "ml": (_ML_DEFAULT, _ML_ACC)}[which]
        return fse_build(dist, acc), pos
    if mode == 1:  # RLE: one byte symbol
        if pos >= len(data):
            raise ValueError("rle sequence table truncated")
        return _RLETable(data[pos]), pos + 1
    if mode == 2:  # FSE-compressed description
        max_sym = {"ll": _LL_MAX_SYM, "of": _OF_MAX_SYM,
                   "ml": _ML_MAX_SYM}[which]
        probs, acc, used = fse_read_distribution(data[pos:], max_sym)
        if acc > _MAX_ACC[which]:
            raise ValueError(f"{which} accuracy log too large")
        return fse_build(probs, acc), pos + used
    if prev is None:  # repeat with no previous table
        raise ValueError("repeat sequence mode without prior table")
    return prev, pos


def _check_code(code: int, limit: int, what: str) -> int:
    if code > limit:
        raise ValueError(f"{what} code out of range")
    return code


# ------------------------------------------------------------ the frame


class _FrameCtx:
    __slots__ = ("huf", "ll", "of", "ml", "rep")

    def __init__(self):
        self.huf: _HufTable | None = None
        self.ll = self.of = self.ml = None
        self.rep = [1, 4, 8]


def _decode_literals(block: bytes, pos: int,
                     ctx: _FrameCtx) -> tuple[bytes, int]:
    if pos >= len(block):
        raise ValueError("literals section missing")
    b0 = block[pos]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (0, 1):  # Raw / RLE
        if sf in (0, 2):
            rsize = b0 >> 3
            pos += 1
        elif sf == 1:
            if pos + 2 > len(block):
                raise ValueError("literals header truncated")
            rsize = (b0 >> 4) | (block[pos + 1] << 4)
            pos += 2
        else:
            if pos + 3 > len(block):
                raise ValueError("literals header truncated")
            rsize = ((b0 >> 4) | (block[pos + 1] << 4)
                     | (block[pos + 2] << 12))
            pos += 3
        if rsize > MAX_BLOCK:
            raise ValueError("literals size over block cap")
        if ltype == 0:
            if pos + rsize > len(block):
                raise ValueError("raw literals truncated")
            return block[pos:pos + rsize], pos + rsize
        if pos >= len(block):
            raise ValueError("rle literal byte missing")
        return bytes([block[pos]]) * rsize, pos + 1
    # Compressed (2) / Treeless (3)
    if sf == 0:
        n_streams = 1
        if pos + 3 > len(block):
            raise ValueError("literals header truncated")
        rsize = (b0 >> 4) | ((block[pos + 1] & 0x3F) << 4)
        csize = (block[pos + 1] >> 6) | (block[pos + 2] << 2)
        pos += 3
    elif sf == 1:
        n_streams = 4
        if pos + 3 > len(block):
            raise ValueError("literals header truncated")
        rsize = (b0 >> 4) | ((block[pos + 1] & 0x3F) << 4)
        csize = (block[pos + 1] >> 6) | (block[pos + 2] << 2)
        pos += 3
    elif sf == 2:
        n_streams = 4
        if pos + 4 > len(block):
            raise ValueError("literals header truncated")
        rsize = ((b0 >> 4) | (block[pos + 1] << 4)
                 | ((block[pos + 2] & 0x3) << 12))
        csize = ((block[pos + 2] >> 2) | (block[pos + 3] << 6))
        pos += 4
    else:
        n_streams = 4
        if pos + 5 > len(block):
            raise ValueError("literals header truncated")
        rsize = ((b0 >> 4) | (block[pos + 1] << 4)
                 | ((block[pos + 2] & 0x3F) << 12))
        csize = ((block[pos + 2] >> 6) | (block[pos + 3] << 2)
                 | (block[pos + 4] << 10))
        pos += 5
    if rsize > MAX_BLOCK or csize > MAX_BLOCK:
        raise ValueError("literals sizes over block cap")
    if pos + csize > len(block):
        raise ValueError("compressed literals truncated")
    payload = block[pos:pos + csize]
    pos += csize
    off = 0
    if ltype == 2:
        weights, off = _read_huffman_weights(payload)
        ctx.huf = _HufTable(weights)
    if ctx.huf is None:
        raise ValueError("treeless literals with no previous table")
    body = payload[off:]
    if n_streams == 1:
        lit = ctx.huf.decode_stream(body, rsize)
    else:
        if len(body) < 6:
            raise ValueError("4-stream jump table truncated")
        s1, s2, s3 = struct.unpack_from("<3H", body, 0)
        splits = [6, 6 + s1, 6 + s1 + s2, 6 + s1 + s2 + s3,
                  len(body)]
        if splits[3] > len(body):
            raise ValueError("4-stream sizes overrun")
        part = (rsize + 3) // 4
        sizes = [part, part, part, rsize - 3 * part]
        if sizes[3] < 0:
            raise ValueError("bad 4-stream regenerated size")
        lit = bytearray()
        for i in range(4):
            lit += ctx.huf.decode_stream(
                body[splits[i]:splits[i + 1]], sizes[i])
    return bytes(lit), pos


def _decode_sequences(block: bytes, pos: int, ctx: _FrameCtx,
                      literals: bytes, out: bytearray,
                      frame_start: int = 0) -> None:
    if pos >= len(block):
        raise ValueError("sequences section missing")
    b0 = block[pos]
    pos += 1
    if b0 == 0:
        n_seq = 0
    elif b0 < 128:
        n_seq = b0
    elif b0 < 255:
        if pos >= len(block):
            raise ValueError("sequence count truncated")
        n_seq = ((b0 - 128) << 8) + block[pos]
        pos += 1
    else:
        if pos + 2 > len(block):
            raise ValueError("sequence count truncated")
        n_seq = block[pos] + (block[pos + 1] << 8) + 0x7F00
        pos += 2
    if n_seq == 0:
        out += literals
        return
    if pos >= len(block):
        raise ValueError("sequence modes byte missing")
    modes = block[pos]
    pos += 1
    if modes & 3:
        raise ValueError("reserved sequence mode bits set")
    ll_t, pos = _read_seq_table(block, pos, (modes >> 6) & 3, "ll",
                                ctx.ll)
    of_t, pos = _read_seq_table(block, pos, (modes >> 4) & 3, "of",
                                ctx.of)
    ml_t, pos = _read_seq_table(block, pos, (modes >> 2) & 3, "ml",
                                ctx.ml)
    ctx.ll, ctx.of, ctx.ml = ll_t, of_t, ml_t
    bits = _BackBits(block[pos:])

    def init_state(t):
        return None if isinstance(t, _RLETable) else \
            bits.read(t.acc_log)

    ll_s = init_state(ll_t)
    of_s = init_state(of_t)
    ml_s = init_state(ml_t)

    def sym(t, s):
        return t.sym if isinstance(t, _RLETable) else t.symbol[s]

    lit_pos = 0
    rep = ctx.rep
    for i in range(n_seq):
        of_code = _check_code(sym(of_t, of_s), _OF_MAX_SYM, "offset")
        ml_code = _check_code(sym(ml_t, ml_s), _ML_MAX_SYM,
                              "match length")
        ll_code = _check_code(sym(ll_t, ll_s), _LL_MAX_SYM,
                              "literal length")
        if of_code > 31:
            raise ValueError("offset code too large")
        offset_value = (1 << of_code) + bits.read(of_code)
        ml = _ML_BASE[ml_code] + bits.read(_ML_BITS[ml_code])
        ll = _LL_BASE[ll_code] + bits.read(_LL_BITS[ll_code])
        # repeat-offset resolution (§3.1.1.5)
        if offset_value > 3:
            offset = offset_value - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = offset_value - 1
            if ll == 0:
                idx += 1
            if idx == 0:
                offset = rep[0]
            elif idx == 1:
                offset = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            elif idx == 2:
                offset = rep[2]
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:  # idx == 3: Repeated_Offset1 - 1
                offset = rep[0] - 1
                if offset <= 0:
                    raise ValueError("repeat offset underflow")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        if i < n_seq - 1:
            def upd(t, s):
                if isinstance(t, _RLETable):
                    return s
                return t.base[s] + bits.read(t.nbits[s])
            ll_s = upd(ll_t, ll_s)
            ml_s = upd(ml_t, ml_s)
            of_s = upd(of_t, of_s)
        if lit_pos + ll > len(literals):
            raise ValueError("sequence literals overrun")
        out += literals[lit_pos:lit_pos + ll]
        lit_pos += ll
        if offset > len(out) - frame_start:
            raise ValueError("match offset beyond frame output")
        if offset >= ml:
            start = len(out) - offset
            out += out[start:start + ml]
        else:
            for _ in range(ml):
                out.append(out[-offset])
        if len(out) > MAX_OUTPUT_BYTES:
            raise ValueError("zstd output cap exceeded")
    if bits.bits != 0:
        raise ValueError("sequence bitstream not fully consumed")
    out += literals[lit_pos:]


def zstd_decompress(data: bytes) -> bytes:
    """Decode a zstd frame sequence (skippable frames skipped)."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 4 > n:
            raise ValueError("zstd magic truncated")
        (magic,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if (magic & 0xFFFFFFF0) == SKIPPABLE_LO:
            if pos + 4 > n:
                raise ValueError("skippable size truncated")
            (sk,) = struct.unpack_from("<I", data, pos)
            pos += 4 + sk
            if pos > n:
                raise ValueError("skippable frame overruns input")
            continue
        if magic != MAGIC:
            raise ValueError("bad zstd magic")
        if pos >= n:
            raise ValueError("frame header truncated")
        fhd = data[pos]
        pos += 1
        fcs_flag = fhd >> 6
        single = (fhd >> 5) & 1
        checksum = (fhd >> 2) & 1
        if (fhd >> 3) & 1:
            raise ValueError("reserved frame header bit set")
        did_flag = fhd & 3
        if not single:
            if pos >= n:
                raise ValueError("window descriptor truncated")
            pos += 1  # window checked implicitly via offsets
        did_size = (0, 1, 2, 4)[did_flag]
        if did_size:
            if pos + did_size > n:
                raise ValueError("dictionary id truncated")
            did = int.from_bytes(data[pos:pos + did_size], "little")
            if did:
                raise ValueError("external dictionary unsupported")
            pos += did_size
        fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
        fcs = None
        if fcs_size:
            if pos + fcs_size > n:
                raise ValueError("frame content size truncated")
            fcs = int.from_bytes(data[pos:pos + fcs_size], "little")
            if fcs_size == 2:
                fcs += 256
            pos += fcs_size
        ctx = _FrameCtx()
        frame_start = len(out)
        while True:
            if pos + 3 > n:
                raise ValueError("block header truncated")
            bh = int.from_bytes(data[pos:pos + 3], "little")
            pos += 3
            last = bh & 1
            btype = (bh >> 1) & 3
            bsize = bh >> 3
            if btype == 0:  # Raw
                if pos + bsize > n:
                    raise ValueError("raw block truncated")
                out += data[pos:pos + bsize]
                pos += bsize
            elif btype == 1:  # RLE
                if pos >= n:
                    raise ValueError("rle block truncated")
                if bsize > MAX_OUTPUT_BYTES:
                    raise ValueError("rle block size cap")
                out += bytes([data[pos]]) * bsize
                pos += 1
            elif btype == 2:  # Compressed
                if bsize > MAX_BLOCK:
                    raise ValueError("compressed block over cap")
                if pos + bsize > n:
                    raise ValueError("compressed block truncated")
                block = data[pos:pos + bsize]
                pos += bsize
                literals, lpos = _decode_literals(block, 0, ctx)
                _decode_sequences(block, lpos, ctx, literals, out,
                                  frame_start)
            else:
                raise ValueError("reserved block type")
            if len(out) > MAX_OUTPUT_BYTES:
                raise ValueError("zstd output cap exceeded")
            if last:
                break
        if fcs is not None and len(out) - frame_start != fcs:
            raise ValueError("frame content size mismatch")
        if checksum:
            if pos + 4 > n:
                raise ValueError("content checksum truncated")
            (want,) = struct.unpack_from("<I", data, pos)
            pos += 4
            got = xxh64(bytes(out[frame_start:])) & 0xFFFFFFFF
            if got != want:
                raise ValueError("zstd content checksum mismatch")
    return bytes(out)


# --------------------------------------------------------- compression


class _FSEEncTable:
    """Encoder view of an FSE decode table: per symbol, the cells in
    counter order with their (base, nbits) transition ranges — the
    ranges of one symbol partition the whole state space, so for any
    next-state there is exactly one valid current cell."""

    __slots__ = ("acc_log", "by_symbol", "first_cell", "_bases")

    def __init__(self, probs: list[int], acc_log: int):
        t = fse_build(probs, acc_log)
        self.acc_log = acc_log
        self.by_symbol: dict[int, list[tuple[int, int, int]]] = {}
        self.first_cell: dict[int, int] = {}
        for i in range(1 << acc_log):
            s = t.symbol[i]
            self.by_symbol.setdefault(s, []).append(
                (t.base[i], t.nbits[i], i))
            self.first_cell.setdefault(s, i)
        for cells in self.by_symbol.values():
            cells.sort()
        # per-symbol parallel base arrays: the encode walk does one
        # range lookup per coded symbol, so give it C-level bisect
        # over a flat base list instead of a Python binary search
        self._bases: dict[int, list[int]] = {
            s: [c[0] for c in cells]
            for s, cells in self.by_symbol.items()}

    def cell_for(self, sym: int, next_state: int) -> tuple[int, int, int]:
        """-> (cell, emitted_bits, nbits) such that the decoder at
        ``cell`` decodes ``sym`` and transitions to ``next_state``."""
        from bisect import bisect_right

        bases = self._bases.get(sym)
        if not bases:
            raise ValueError(f"symbol {sym} not in fse table")
        # last cell with base <= next_state
        base, nbits, cell = self.by_symbol[sym][
            bisect_right(bases, next_state) - 1]
        if not base <= next_state < base + (1 << nbits):
            raise ValueError("fse encode range miss")
        return cell, next_state - base, nbits


class _BitWriter:
    """LSB-first bit accumulator closing with the backward-stream
    sentinel bit _BackBits expects."""

    __slots__ = ("acc", "n")

    def __init__(self):
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits

    def close(self) -> bytes:
        self.acc |= 1 << self.n  # sentinel: highest set bit
        self.n += 1
        return self.acc.to_bytes((self.n + 7) // 8, "little")


_SEQ_ENC: dict[str, _FSEEncTable] = {}


def _seq_enc_tables() -> dict[str, _FSEEncTable]:
    if not _SEQ_ENC:
        _SEQ_ENC["ll"] = _FSEEncTable(_LL_DEFAULT, _LL_ACC)
        _SEQ_ENC["of"] = _FSEEncTable(_OF_DEFAULT, _OF_ACC)
        _SEQ_ENC["ml"] = _FSEEncTable(_ML_DEFAULT, _ML_ACC)
    return _SEQ_ENC


def _code_of(value: int, bases: tuple) -> int:
    """value -> code for the LL/ML ladders: the largest code whose
    baseline <= value (covers the direct ranges exactly too)."""
    import bisect

    return bisect.bisect_right(bases, value) - 1


def _seq_codes(seqs: list[tuple[int, int, int]],
               rep: list[int]) -> list[tuple]:
    """(ll, ml, offset) triples -> per-ladder (code, extra, nbits),
    using REPEAT-OFFSET codes (offset_value 1-3, §3.1.1.5) whenever
    the offset matches the running 3-slot repeat state — the mirror
    of the decoder's resolution rules, including the ll==0 index
    shift and the Repeated_Offset1 - 1 form.  ``rep`` is the frame's
    repeat state (MUTATED: the decoder carries it across blocks, so
    the encoder must too)."""
    codes = []
    for ll, ml, offset in seqs:
        if offset <= 0:
            raise ValueError("sequence offset must be positive")
        if ml < 3:
            raise ValueError("match length below minimum (3)")
        # candidates the decoder maps offset_value 1..3 to
        if ll != 0:
            cands = {1: rep[0], 2: rep[1], 3: rep[2]}
        else:
            cands = {1: rep[1], 2: rep[2], 3: rep[0] - 1}
        offset_value = None
        for v in (1, 2, 3):
            if cands[v] == offset and cands[v] > 0:
                offset_value = v
                break
        if offset_value is None:
            offset_value = offset + 3
            rep[:] = [offset, rep[0], rep[1]]
        else:
            idx = offset_value - 1 + (1 if ll == 0 else 0)
            if idx == 1:
                rep[:] = [rep[1], rep[0], rep[2]]
            elif idx == 2:
                rep[:] = [rep[2], rep[0], rep[1]]
            elif idx == 3:
                rep[:] = [rep[0] - 1, rep[0], rep[1]]
            # idx == 0: unchanged
        of_code = offset_value.bit_length() - 1
        if of_code > _OF_MAX_SYM:
            raise ValueError("offset too large to encode")
        ll_code = _code_of(ll, _LL_BASE)
        ml_code = _code_of(ml, _ML_BASE)
        codes.append((
            (ll_code, ll - _LL_BASE[ll_code], _LL_BITS[ll_code]),
            (of_code, offset_value - (1 << of_code), of_code),
            (ml_code, ml - _ML_BASE[ml_code], _ML_BITS[ml_code]),
        ))
    return codes


#: custom-sequence-table memo keyed by (symbol-count distribution,
#: acc_log, ladder) — a pure function of those inputs (code caching,
#: never data caching; the avro_codec._DECODER_CACHE pattern): tiny
#: pages across a task re-derive the same few hundred normalized
#: distributions thousands of times.  Bounded, wholesale reset.
_SEQ_TABLE_CACHE: dict[tuple, tuple | None] = {}
_ENC_CACHE_MAX = 4096


def _custom_seq_table(codes: list[tuple], ci: int,
                      which: str) -> tuple | None:
    """Per-ladder alternative to predefined mode: RLE when the code
    is constant (mode 1), else a custom normalized FSE distribution
    (mode 2).  -> (mode, desc_bytes, enc_table_or_None) or None when
    custom can't improve/apply."""
    counts: dict[int, int] = {}
    for c in codes:
        sym = c[ci][0]
        counts[sym] = counts.get(sym, 0) + 1
    if len(counts) == 1:
        return 1, bytes([next(iter(counts))]), None
    cap = _MAX_ACC[which]
    acc = min(cap, max(5, len(codes).bit_length()))
    if len(counts) > 1 << acc:
        return None
    key = (tuple(sorted(counts.items())), acc, which)
    if key in _SEQ_TABLE_CACHE:
        return _SEQ_TABLE_CACHE[key]
    probs = fse_normalize(counts, acc)
    desc = fse_write_distribution(probs, acc)
    got = (2, desc, _FSEEncTable(probs, acc))
    if len(_SEQ_TABLE_CACHE) >= _ENC_CACHE_MAX:
        _SEQ_TABLE_CACHE.clear()
    _SEQ_TABLE_CACHE[key] = got
    return got


def _seq_section(codes: list[tuple], tables: dict) -> bytes:
    """Assemble one sequences section given per-ladder (mode, desc,
    enc_table) choices; RLE ladders contribute no init state and no
    transition bits — the exact inverse of _decode_sequences."""
    n = len(codes)
    out = bytearray()
    if n < 128:
        out.append(n)
    elif n < 0x7F00:
        out.append(128 + (n >> 8))
        out.append(n & 0xFF)
    else:
        out.append(255)
        out += struct.pack("<H", n - 0x7F00)
    modes = ((tables["ll"][0] << 6) | (tables["of"][0] << 4)
             | (tables["ml"][0] << 2))
    out.append(modes)
    out += tables["ll"][1]
    out += tables["of"][1]
    out += tables["ml"][1]
    states = {}
    trans = {}
    from bisect import bisect_right as _br

    for which, ci in (("ll", 0), ("of", 1), ("ml", 2)):
        mode, _, t = tables[which]
        if t is None:  # RLE ladder: stateless
            continue
        st = [0] * n
        tr = [None] * (n - 1)
        st[n - 1] = t.first_cell[codes[n - 1][ci][0]]
        # inlined cell_for: this walk is one range lookup per coded
        # symbol and dominates the encoder's warm profile
        bases_of = t._bases
        cells_of = t.by_symbol
        nxt = st[n - 1]
        for i in range(n - 2, -1, -1):
            sym = codes[i][ci][0]
            bases = bases_of.get(sym)
            if not bases:
                raise ValueError(f"symbol {sym} not in fse table")
            base, nbits, cell = cells_of[sym][_br(bases, nxt) - 1]
            if not base <= nxt < base + (1 << nbits):
                raise ValueError("fse encode range miss")
            st[i] = cell
            tr[i] = (nxt - base, nbits)
            nxt = cell
        states[which] = st
        trans[which] = tr
    # fields in DECODER-read order, then written reversed (the
    # stream is read backward from its end)
    fields: list[tuple[int, int]] = []
    for which in ("ll", "of", "ml"):
        if which in states:
            fields.append((states[which][0],
                           tables[which][2].acc_log))
    for i in range(n):
        (_, ll_x, ll_b), (_, of_x, of_b), (_, ml_x, ml_b) = codes[i]
        fields.append((of_x, of_b))
        fields.append((ml_x, ml_b))
        fields.append((ll_x, ll_b))
        if i < n - 1:
            for which in ("ll", "ml", "of"):
                if which in trans:
                    fields.append(trans[which][i])
    w = _BitWriter()
    for value, nbits in reversed(fields):
        w.put(value, nbits)
    out += w.close()
    return bytes(out)


def _encode_sequences(seqs: list[tuple[int, int, int]],
                      rep: list[int] | None = None) -> bytes:
    """[(ll, ml, offset)] -> sequences section, per-ladder choosing
    the smallest of PREDEFINED / RLE / custom-FSE table modes
    (§3.1.1.3.2.1.1) — the exact inverse of _decode_sequences.
    ``rep`` is the frame's running repeat-offset state."""
    codes = _seq_codes(seqs, rep if rep is not None else [1, 4, 8])
    enc = _seq_enc_tables()
    predefined = {w: (0, b"", enc[w]) for w in ("ll", "of", "ml")}
    best = _seq_section(codes, predefined)
    alt = dict(predefined)
    changed = False
    for which, ci in (("ll", 0), ("of", 1), ("ml", 2)):
        cand = _custom_seq_table(codes, ci, which)
        if cand is not None:
            alt[which] = cand
            changed = True
    if changed:
        alt_section = _seq_section(codes, alt)
        if len(alt_section) < len(best):
            best = alt_section
    return best


class _FwdBitWriter:
    """Forward little-endian bit writer (FSE table descriptions) —
    the inverse of _FwdBits; zero-pads the final byte."""

    __slots__ = ("acc", "n")

    def __init__(self):
        self.acc = 0
        self.n = 0

    def put(self, value: int, nbits: int) -> None:
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits

    def bytes(self) -> bytes:
        return self.acc.to_bytes((self.n + 7) // 8 or 1, "little")


def fse_normalize(counts: dict[int, int], acc_log: int) -> list[int]:
    """Symbol counts -> normalized probabilities summing to
    1 << acc_log, every present symbol >= 1 (no low-prob cells) —
    the shape fse_write_distribution serializes."""
    size = 1 << acc_log
    total = sum(counts.values())
    if total == 0:
        raise ValueError("fse normalize: empty counts")
    last = max(counts)
    if len(counts) > size:
        raise ValueError("fse normalize: alphabet exceeds table")
    probs = [0] * (last + 1)
    floors: list[tuple[float, int]] = []
    assigned = 0
    for s, c in counts.items():
        p = max(1, c * size // total)
        probs[s] = p
        assigned += p
        floors.append((c * size / total - p, s))
    # largest-remainder fixup toward exactly `size`
    floors.sort(reverse=True)
    i = 0
    while assigned < size:
        s = floors[i % len(floors)][1]
        probs[s] += 1
        assigned += 1
        i += 1
    while assigned > size:
        # take from the largest prob that stays >= 1
        s = max((p, s) for s, p in enumerate(probs) if p > 1)[1]
        probs[s] -= 1
        assigned -= 1
    return probs


def fse_write_distribution(probs: list[int], acc_log: int) -> bytes:
    """Normalized probabilities -> FSE table description bytes — the
    exact inverse of fse_read_distribution (truncated-binary values,
    2-bit zero-repeat fields)."""
    size = 1 << acc_log
    w = _FwdBitWriter()
    w.put(acc_log - 5, 4)
    remaining = size + 1
    threshold = size
    nb = acc_log + 1
    i = 0
    n = len(probs)
    while remaining > 1 and i < n:
        p = probs[i]
        v = p + 1  # field value; -1 (low-prob) -> 0
        maxv = (2 * threshold - 1) - remaining
        if v < maxv:
            w.put(v, nb - 1)
        elif v < threshold:
            w.put(v, nb)
        else:
            w.put(v + maxv, nb)
        remaining -= -p if p < 0 else p
        i += 1
        if p == 0:
            # zero-repeat fields cover the FOLLOWING zeros
            z = 0
            while i + z < n and probs[i + z] == 0:
                z += 1
            i += z
            while z >= 3:
                w.put(3, 2)
                z -= 3
            w.put(z, 2)
        while remaining < threshold:
            nb -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("fse distribution does not sum to table")
    return w.bytes()


def _fse_two_state_weights(weights: list[int]) -> bytes | None:
    """Huffman tree description, FSE form (header byte < 128): the
    weight sequence coded by TWO interleaved FSE states over a
    custom normalized distribution (§4.2.1.2) — the inverse of
    _read_huffman_weights' FSE branch.  None when the shape can't
    terminate (single-symbol distribution) or wouldn't fit."""
    n = len(weights)
    if n < 2 or n > 255:
        return None
    counts: dict[int, int] = {}
    for v in weights:
        counts[v] = counts.get(v, 0) + 1
    if len(counts) < 2:
        return None  # nbits-0 cells everywhere: undecodable end
    acc_log = 6
    probs = fse_normalize(counts, acc_log)
    desc = fse_write_distribution(probs, acc_log)
    enc = _FSEEncTable(probs, acc_log)

    def last_cell(sym: int) -> int | None:
        for base, nbits, cell in enc.by_symbol.get(sym, ()):
            if nbits >= 1:
                return cell
        return None

    evens = weights[0::2]  # carried by state 1
    odds = weights[1::2]   # carried by state 2

    def chain(seq: list[int]) -> tuple[list[int], list] | None:
        """states s_0..s_{m-1} + transitions t_k: s_k -> s_{k+1}."""
        m = len(seq)
        states = [0] * m
        cell = last_cell(seq[-1])
        if cell is None:
            return None
        states[m - 1] = cell
        trans = [None] * (m - 1)
        for k in range(m - 2, -1, -1):
            cell, bits, nbits = enc.cell_for(seq[k], states[k + 1])
            states[k] = cell
            trans[k] = (bits, nbits)
        return states, trans

    c1 = chain(evens)
    c2 = chain(odds)
    if c1 is None or c2 is None:
        return None
    s1, t1 = c1
    s2, t2 = c2
    fields: list[tuple[int, int]] = [(s1[0], acc_log),
                                     (s2[0], acc_log)]
    for k in range(max(len(t1), len(t2))):
        if k < len(t1):
            fields.append(t1[k])
        if k < len(t2):
            fields.append(t2[k])
    bw = _BitWriter()
    for value, nbits in reversed(fields):
        bw.put(value, nbits)
    payload = desc + bw.close()
    if len(payload) >= 128:
        return None  # header byte is the compressed size, < 128
    return bytes([len(payload)]) + payload


def _package_merge_lengths(freqs: dict[int, int],
                           max_len: int) -> dict[int, int]:
    """Optimal length-limited Huffman code lengths (package-merge):
    build L levels of paired packages over the leaves, select the
    2n-2 cheapest items of the final level, and each symbol's code
    length is the number of selected items containing it."""
    syms = sorted(freqs)
    n = len(syms)
    if n == 1:
        return {syms[0]: 1}
    if n > 1 << max_len:
        raise ValueError("alphabet too large for length limit")
    leaves = sorted((freqs[s], (s,)) for s in syms)
    # level max_len holds just the leaves; each level above merges
    # the leaves with pairwise packages of the level below; lengths
    # come from how often a symbol appears in the cheapest 2n-2
    # items of the TOP level
    prev: list = []
    for _ in range(max_len - 1):
        cur = sorted(leaves + prev, key=lambda x: x[0])
        prev = [(cur[i][0] + cur[i + 1][0],
                 cur[i][1] + cur[i + 1][1])
                for i in range(0, len(cur) - 1, 2)]
    final = sorted(leaves + prev, key=lambda x: x[0])
    lengths = dict.fromkeys(syms, 0)
    for _, pack in final[:2 * n - 2]:
        for s in pack:
            lengths[s] += 1
    if any(not 1 <= l <= max_len for l in lengths.values()):
        raise ValueError("package-merge produced bad lengths")
    return lengths


#: Huffman-code memo keyed by the literal FREQUENCY DISTRIBUTION —
#: codes/max_bits/header are pure functions of it, so this caches the
#: whole package-merge + two-state-FSE-weights pipeline (the profile's
#: top cost on tiny-page workloads: ~3 distinct distributions per 10
#: pages).  Code caching, never data caching; bounded, reset on
#: overflow (avro_codec._DECODER_CACHE pattern).  Cached values are
#: treated as read-only by every caller.
_HUF_CODE_CACHE: dict[tuple, tuple | None] = {}


def _huffman_code(lit: bytes) -> tuple[dict, int, bytes] | None:
    """Literals -> (codes {byte: (value, nbits)}, max_bits, weights
    header+payload) or None when Huffman can't apply (single symbol,
    or the direct-weights form can't describe the alphabet)."""
    freqs: dict[int, int] = {}
    for b in lit:
        freqs[b] = freqs.get(b, 0) + 1
    if len(freqs) < 2:
        return None
    key = tuple(sorted(freqs.items()))
    if key in _HUF_CODE_CACHE:
        return _HUF_CODE_CACHE[key]
    got = _huffman_code_build(freqs)
    if len(_HUF_CODE_CACHE) >= _ENC_CACHE_MAX:
        _HUF_CODE_CACHE.clear()
    _HUF_CODE_CACHE[key] = got
    return got


def _huffman_code_build(freqs: dict[int, int]) \
        -> tuple[dict, int, bytes] | None:
    last = max(freqs)
    lengths = _package_merge_lengths(freqs, 11)
    max_bits = max(lengths.values())
    # weight = max_bits + 1 - nbits; the LAST present symbol's
    # weight is implied by completing the 2^max_bits tree
    weights = [0] * last  # explicit weights for symbols 0..last-1
    for s, l in lengths.items():
        if s < last:
            weights[s] = max_bits + 1 - l
    total = sum(1 << (w - 1) for w in weights if w > 0)
    left = (1 << max_bits) - total
    if left <= 0 or left & (left - 1) \
            or left.bit_length() != max_bits + 1 - lengths[last]:
        raise ValueError("huffman weights do not complete the tree")
    # tree description: direct 4-bit form (symbols 0..127 only) vs
    # FSE-compressed weights — whichever is smaller / possible
    direct = None
    if last <= 128:
        direct = bytes([127 + last]) + bytes(
            (weights[i] << 4)
            | (weights[i + 1] if i + 1 < last else 0)
            for i in range(0, last, 2))
    fse_form = _fse_two_state_weights(weights)
    if direct is None and fse_form is None:
        return None
    if direct is None or (fse_form is not None
                          and len(fse_form) < len(direct)):
        header = fse_form
    else:
        header = direct
    # canonical code values mirror _HufTable's fill: weight-
    # ascending regions, natural symbol order within a weight; the
    # nb-bit code is the region start's top nb bits
    all_w = weights + [left.bit_length()]
    rank_start = [0] * (max_bits + 2)
    for w in all_w:
        if w > 0:
            rank_start[w + 1] += 1 << (w - 1)
    for w in range(1, max_bits + 2):
        rank_start[w] += rank_start[w - 1]
    codes: dict[int, tuple[int, int]] = {}
    for s, w in enumerate(all_w):
        if w == 0:
            continue
        nb = max_bits + 1 - w
        codes[s] = (rank_start[w] >> (max_bits - nb), nb)
        rank_start[w] += 1 << (w - 1)
    return codes, max_bits, header


def _huffman_stream(lit: bytes, codes: dict) -> bytes:
    """One backward Huffman bitstream: first-decoded literal written
    last, sentinel on top (the _BackBits convention)."""
    w = _BitWriter()
    for b in reversed(lit):
        value, nb = codes[b]
        w.put(value, nb)
    return w.close()


def _huffman_literals_section(lit: bytes) -> bytes | None:
    """Compressed_Literals_Block (ltype 2): Huffman tree description
    + 1-stream (<= 1023 regenerated bytes) or 4-stream body with the
    6-byte jump table.  None when Huffman doesn't apply or loses to
    raw."""
    built = _huffman_code(lit)
    if built is None:
        return None
    codes, _, tree = built
    rsize = len(lit)
    if rsize <= 1023:
        body = tree + _huffman_stream(lit, codes)
        csize = len(body)
        if csize > 1023:
            return None
        b0 = 2 | (0 << 2) | ((rsize & 15) << 4)
        hdr = bytes([b0, (rsize >> 4) | ((csize & 3) << 6),
                     csize >> 2])
        return hdr + body
    part = (rsize + 3) // 4
    streams = [
        _huffman_stream(lit[0:part], codes),
        _huffman_stream(lit[part:2 * part], codes),
        _huffman_stream(lit[2 * part:3 * part], codes),
        _huffman_stream(lit[3 * part:], codes),
    ]
    if any(len(s) > 0xFFFF for s in streams[:3]):
        return None
    body = (tree + struct.pack("<3H", *(len(s) for s in streams[:3]))
            + b"".join(streams))
    csize = len(body)
    if rsize < 1 << 14 and csize < 1 << 14:
        hdr = bytes([
            2 | (2 << 2) | ((rsize & 15) << 4),
            (rsize >> 4) & 0xFF,
            (rsize >> 12) | ((csize & 0x3F) << 2),
            csize >> 6,
        ])
    elif rsize < 1 << 18 and csize < 1 << 18:
        hdr = bytes([
            2 | (3 << 2) | ((rsize & 15) << 4),
            (rsize >> 4) & 0xFF,
            ((rsize >> 12) & 0x3F) | ((csize & 3) << 6),
            (csize >> 2) & 0xFF,
            csize >> 10,
        ])
    else:
        return None
    return hdr + body


def _rle_literals_section(lit: bytes) -> bytes | None:
    """RLE_Literals_Block (ltype 1) when every literal is one byte."""
    if len(lit) < 2 or lit.count(lit[0]) != len(lit):
        return None
    n = len(lit)
    if n < 32:
        return bytes([1 | (n << 3), lit[0]])
    if n < 1 << 12:
        return bytes([1 | (1 << 2) | ((n & 15) << 4), n >> 4,
                      lit[0]])
    return bytes([1 | (3 << 2) | ((n & 15) << 4), (n >> 4) & 0xFF,
                  n >> 12, lit[0]])


def _literals_section(lit: bytes) -> bytes:
    """Smallest of Huffman-compressed / RLE / raw literals."""
    best = _raw_literals_section(lit)
    for cand in (_huffman_literals_section(lit),
                 _rle_literals_section(lit)):
        if cand is not None and len(cand) < len(best):
            best = cand
    return best


def _raw_literals_section(lit: bytes) -> bytes:
    n = len(lit)
    if n < 32:
        return bytes([n << 3]) + lit
    if n < 1 << 12:
        return bytes([(1 << 2) | ((n & 15) << 4), n >> 4]) + lit
    return bytes([(3 << 2) | ((n & 15) << 4), (n >> 4) & 0xFF,
                  n >> 12]) + lit


_MIN_MATCH = 4
_MAX_ML = 131074  # _ML_BASE[52] + 16 extra bits


#: largest encodable match distance in PREDEFINED offset mode:
#: offset_value = dist + 3 must keep of_code = bit_length - 1 <= 28
_MAX_MATCH_DIST = (1 << 29) - 4


def _lz_sequences(data: bytes, start: int, end: int,
                  table: dict) -> tuple[list[tuple[int, int, int]],
                                        bytes]:
    """Greedy hash-4 LZ77 parse of data[start:end] (candidates may
    reach back before ``start`` — frame-wide window under
    Single_Segment_Mode) -> (sequences, literals)."""
    seqs: list[tuple[int, int, int]] = []
    lits = bytearray()
    anchor = i = start
    limit = end - _MIN_MATCH
    while i <= limit:
        key = data[i:i + 4]
        cand = table.get(key)
        table[key] = i
        # the hash table is frame-global under Single_Segment_Mode, so
        # on inputs > ~512 MiB a hit can reach further back than the
        # predefined offset table encodes: offset_value = dist + 3 needs
        # of_code = bit_length-1 <= 28 (_OF_DEFAULT has symbols 0..28),
        # so cap candidate distance at 2^29 - 4 and treat older hits as
        # stale rather than crashing in _FSEEncTable.cell_for
        # (ADVICE r13).
        if cand is None or i - cand > _MAX_MATCH_DIST:
            i += 1
            continue
        ml = _MIN_MATCH
        max_ml = min(end - i, _MAX_ML)
        while ml < max_ml and data[cand + ml] == data[i + ml]:
            ml += 1
        lits += data[anchor:i]
        seqs.append((i - anchor, ml, i - cand))
        for k in range(i + 1, min(i + ml, limit), 11):
            table[data[k:k + 4]] = k
        i += ml
        anchor = i
    lits += data[anchor:end]
    return seqs, bytes(lits)


def zstd_compress(data: bytes, *, checksum: bool = True,
                  mode: str = "lz") -> bytes:
    """RFC 8878 zstd frames, both directions of the codec now real:

    * ``mode="lz"`` (default) — Compressed_Blocks with a greedy
      hash-4 LZ77 parse, Raw literals, and sequences FSE-coded in
      PREDEFINED mode (the own tANS encoder inverse of fse_build);
      incompressible chunks fall back per-block to Raw, one-byte
      runs to RLE blocks — whichever is smallest;
    * ``mode="store"`` — Raw blocks only (the pre-r13 behavior).

    Frames carry the content size (Single_Segment_Mode, so match
    offsets may reach the whole frame) and the XXH64-low32 content
    checksum; output is cross-validated against libzstd both ways in
    tests/test_zstd.py."""
    if mode not in ("lz", "store"):
        raise ValueError(f"unknown zstd_compress mode {mode}")
    out = bytearray(struct.pack("<I", MAGIC))
    fhd = (3 << 6) | (1 << 5) | ((1 if checksum else 0) << 2)
    out.append(fhd)
    out += struct.pack("<Q", len(data))
    if not data:
        out += (1 << 0 | 0 << 1 | 0 << 3).to_bytes(3, "little")
    else:
        step = MAX_BLOCK
        table: dict = {}
        rep = [1, 4, 8]  # frame-scoped repeat-offset state
        for i in range(0, len(data), step):
            chunk = data[i:i + step]
            last = 1 if i + step >= len(data) else 0
            block = None
            if mode == "lz" and len(chunk) == chunk.count(
                    chunk[:1]) and len(chunk) > 1:
                out += (last | (1 << 1)
                        | (len(chunk) << 3)).to_bytes(3, "little")
                out.append(chunk[0])
                continue
            if mode == "lz":
                seqs, lits = _lz_sequences(
                    data, i, i + len(chunk), table)
                # rep advances only if this block is actually
                # emitted compressed — a Raw fallback leaves the
                # decoder's repeat state untouched
                rep_next = list(rep)
                body = _literals_section(lits) + (
                    _encode_sequences(seqs, rep_next) if seqs
                    else b"\x00")
                if len(body) < len(chunk):
                    block = body
                    rep[:] = rep_next
            if block is None:  # Raw fallback
                out += (last | (len(chunk) << 3)).to_bytes(
                    3, "little")
                out += chunk
            else:
                out += (last | (2 << 1)
                        | (len(block) << 3)).to_bytes(3, "little")
                out += block
    if checksum:
        out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)
