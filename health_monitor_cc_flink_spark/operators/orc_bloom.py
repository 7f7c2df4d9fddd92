"""ORC Bloom filters from scratch — write + read parity with the
r13 parquet SBBF work (VERDICT r13 #5).

From the PUBLIC ORC spec + orc_proto.proto + the Apache ORC Java
reference (org.apache.orc.util.BloomFilter / Murmur3):

* LONG values hash with Thomas Wang's 64-bit mix (the Java
  ``getLongHash``); DOUBLE values go through the IEEE-754 bit
  pattern first (``doubleToLongBits``), strings hash their UTF-8
  bytes with ORC's single-lane Murmur3 64-bit variant, seed 104729;
* the 64-bit hash splits into two SIGNED 32-bit halves combined as
  ``h1 + i*h2`` for hash function i in 1..k, one's-complemented
  when negative, modulo the bit count — Java int overflow semantics
  reproduced exactly;
* sizing follows the Java writer: ``optimalNumOfBits`` from the
  target FPP, rounded UP to the next multiple of 64 (the Java code
  adds a full word even when already aligned), ``k = max(1,
  round(m/n * ln 2))``;
* serialization is the BLOOM_FILTER_UTF8 stream form: protobuf
  BloomFilterIndex{ repeated BloomFilter{ numHashFunctions=1,
  utf8bitset=3 } }, the bitset longs packed little-endian.

Hash/bitset/serialization compatibility is pinned by
tests/test_orc_bloom.py reading blooms the JAVA ORC writer (via
Spark, ``orc.bloom.filter.columns``) produced: every inserted value
must pass our ``check`` against their bitset.
"""

from __future__ import annotations

import math
import struct

from .tfrecord import proto_decode

_M64 = (1 << 64) - 1

#: ORC Murmur3 constants (public reference implementation)
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F
_R1, _R2, _M, _N1 = 31, 27, 5, 0x52DCE729
DEFAULT_SEED = 104729
DEFAULT_FPP = 0.05

STREAM_BLOOM_FILTER_UTF8 = 8
STREAM_ROW_INDEX = 6

MAX_BLOOM_BYTES = 1 << 24


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _asr64(x: int, n: int) -> int:
    """Java ``>>`` on a long: ARITHMETIC shift right, sign-extended."""
    if x & (1 << 63):
        return (x >> n) | (((1 << n) - 1) << (64 - n))
    return x >> n


def wang_hash64(key: int) -> int:
    """ORC BloomFilter's ``getLongHash`` — Thomas Wang's 64-bit mix
    as the Java reference actually ships it: the three right shifts
    are SIGNED (``lshr`` in the bytecode, ``key >> n``), not the
    logical ``>>>`` most transcriptions show.  The difference is
    observable: -1 >> 24 == -1, so getLongHash(0) == 0, and every
    key with bit 63 set mid-pipeline diverges from the
    logical-shift variant.  Pinned against the Java implementation
    by reflection in tests/test_orc_bloom.py."""
    key &= _M64
    key = ((~key & _M64) + ((key << 21) & _M64)) & _M64
    key ^= _asr64(key, 24)
    key = (key + ((key << 3) & _M64) + ((key << 8) & _M64)) & _M64
    key ^= _asr64(key, 14)
    key = (key + ((key << 2) & _M64) + ((key << 4) & _M64)) & _M64
    key ^= _asr64(key, 28)
    key = (key + ((key << 31) & _M64)) & _M64
    return key


def murmur3_hash64(data: bytes, seed: int = DEFAULT_SEED) -> int:
    """ORC's single-lane Murmur3 64-bit variant (the Java
    ``Murmur3.hash64``): x64 block mixing on one accumulator,
    byte-wise tail, fmix64 finalizer."""
    h = seed & _M64
    nblocks = len(data) >> 3
    for i in range(nblocks):
        k = int.from_bytes(data[i * 8:i * 8 + 8], "little")
        k = (k * _C1) & _M64
        k = _rotl64(k, _R1)
        k = (k * _C2) & _M64
        h ^= k
        h = (_rotl64(h, _R2) * _M + _N1) & _M64
    tail = data[nblocks * 8:]
    if tail:
        k1 = 0
        for i in range(len(tail) - 1, -1, -1):
            k1 ^= tail[i] << (8 * i)
        k1 = (k1 * _C1) & _M64
        k1 = _rotl64(k1, _R1)
        k1 = (k1 * _C2) & _M64
        h ^= k1
    h ^= len(data)
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & _M64
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & _M64
    h ^= h >> 33
    return h


def _i32(x: int) -> int:
    x &= 0xFFFFFFFF
    return x - (1 << 32) if x >= (1 << 31) else x


class OrcBloomFilter:
    """One BLOOM_FILTER_UTF8 entry: ``num_bits`` bits as 64-bit
    words, ``k`` hash functions."""

    __slots__ = ("num_bits", "k", "words")

    def __init__(self, num_bits: int, k: int,
                 words: list[int] | None = None):
        if num_bits < 64 or num_bits % 64 \
                or num_bits > MAX_BLOOM_BYTES * 8:
            raise ValueError("num_bits must be a positive multiple "
                             "of 64 within the size cap")
        if k < 1 or k > 64:
            raise ValueError("bad hash function count")
        self.num_bits = num_bits
        self.k = k
        self.words = words if words is not None \
            else [0] * (num_bits // 64)
        if len(self.words) != num_bits // 64:
            raise ValueError("bitset word count mismatch")

    @classmethod
    def sized_for(cls, expected: int,
                  fpp: float = DEFAULT_FPP) -> "OrcBloomFilter":
        """The Java writer's sizing: optimalNumOfBits rounded up a
        full word (unconditionally, matching the Java ``nb +
        (64 - nb % 64)``), k = max(1, round(m/n * ln2))."""
        if expected < 1:
            expected = 1
        if not 0.0 < fpp < 1.0:
            raise ValueError("fpp out of range")
        nb = int(-expected * math.log(fpp) / (math.log(2) ** 2))
        num_bits = nb + (64 - nb % 64)
        k = max(1, int(num_bits / expected * math.log(2) + 0.5))
        return cls(num_bits, k)

    def _positions(self, h64: int):
        h1 = _i32(h64)
        h2 = _i32(h64 >> 32)
        for i in range(1, self.k + 1):
            c = _i32(h1 + i * h2)
            if c < 0:
                c = ~c
            yield c % self.num_bits

    def add_hash(self, h64: int) -> None:
        for pos in self._positions(h64):
            self.words[pos >> 6] |= 1 << (pos & 63)

    def test_hash(self, h64: int) -> bool:
        return all(self.words[pos >> 6] >> (pos & 63) & 1
                   for pos in self._positions(h64))

    # typed entry points, mirroring the Java add/test pairs
    def add_long(self, v: int) -> None:
        self.add_hash(wang_hash64(v))

    def test_long(self, v: int) -> bool:
        return self.test_hash(wang_hash64(v))

    def add_double(self, v: float) -> None:
        # canonicalize signed zero for the same reason as the
        # parquet SBBF (ADVICE r13): 0.0 == -0.0 in predicates but
        # their bit patterns differ
        if v == 0.0:
            v = 0.0
        self.add_long(struct.unpack("<q", struct.pack("<d", v))[0])

    def test_double(self, v: float) -> bool:
        if v == 0.0:
            # Java's writer hashes doubleToLongBits UNcanonicalized,
            # so a Java-written file that inserted -0.0 carries only
            # the sign-bit pattern; this writer canonicalizes on add
            # (ADVICE r13) and carries only +0.0.  0.0 == -0.0 in
            # predicates, so the read side must probe BOTH bit
            # patterns or one writer's files wrongly skip (ADVICE
            # r14) — a false negative, the one bloom error class
            # that loses data.
            return (self.test_long(
                struct.unpack("<q", struct.pack("<d", 0.0))[0])
                or self.test_long(
                    struct.unpack("<q", struct.pack("<d", -0.0))[0]))
        return self.test_long(
            struct.unpack("<q", struct.pack("<d", v))[0])

    def add_string(self, s: str) -> None:
        self.add_hash(murmur3_hash64(s.encode("utf-8")))

    def test_string(self, s: str) -> bool:
        return self.test_hash(murmur3_hash64(s.encode("utf-8")))

    def utf8bitset(self) -> bytes:
        return b"".join(w.to_bytes(8, "little") for w in self.words)


def _uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def write_bloom_index(blooms: list[OrcBloomFilter]) -> bytes:
    """BloomFilterIndex protobuf: repeated BloomFilter (field 1),
    each { numHashFunctions = 1 varint, utf8bitset = 3 bytes }."""
    out = bytearray()
    for bf in blooms:
        body = _uvarint(1 << 3) + _uvarint(bf.k)
        raw = bf.utf8bitset()
        body += _uvarint((3 << 3) | 2) + _uvarint(len(raw)) + raw
        out += _uvarint((1 << 3) | 2) + _uvarint(len(body)) + body
    return bytes(out)


def parse_bloom_index(raw: bytes) -> list[OrcBloomFilter]:
    """Decoded BloomFilterIndex stream bytes -> one OrcBloomFilter
    per row group.  Accepts both the utf8bitset (field 3) and the
    legacy repeated-fixed64 bitset (field 2) forms the Java writer
    emits."""
    msg = proto_decode(raw)
    blooms: list[OrcBloomFilter] = []
    for blob in msg.get(1, []):
        bf = proto_decode(bytes(blob))
        k_field = bf.get(1, [1])[-1]
        k = k_field if isinstance(k_field, int) else 1
        words: list[int] = []
        if 3 in bf:
            raw_bits = bytes(bf[3][-1])
            if len(raw_bits) % 8:
                raise ValueError("utf8bitset not word-aligned")
            words = [int.from_bytes(raw_bits[i:i + 8], "little")
                     for i in range(0, len(raw_bits), 8)]
        elif 2 in bf:
            for w in bf[2]:
                if isinstance(w, int):
                    words.append(w & _M64)
                else:
                    words.append(int.from_bytes(bytes(w), "little"))
        if not words:
            raise ValueError("bloom filter entry has no bitset")
        blooms.append(OrcBloomFilter(len(words) * 64, k, words))
    return blooms


def read_column_blooms(data: bytes, stripe: dict, codec: str,
                       column_id: int) -> list[OrcBloomFilter]:
    """Walk one stripe's index section for ``column_id``'s
    BLOOM_FILTER_UTF8 stream -> parsed filters (one per row group).
    O(index bytes): no data stream is touched — the whole point of
    the structure."""
    from .orc_data import _decompress_stream

    foot_off = (stripe["offset"] + stripe["index_length"]
                + stripe["data_length"])
    sf_raw = _decompress_stream(
        data[foot_off:foot_off + stripe["footer_length"]], codec)
    sf = proto_decode(sf_raw)
    off = stripe["offset"]
    for blob in sf.get(1, []):
        st = proto_decode(bytes(blob))
        kind = st.get(1, [0])[-1]
        col = st.get(2, [0])[-1]
        ln = st.get(3, [0])[-1]
        kind = kind if isinstance(kind, int) else 0
        col = col if isinstance(col, int) else 0
        ln = ln if isinstance(ln, int) else 0
        if kind == STREAM_BLOOM_FILTER_UTF8 and col == column_id:
            return parse_bloom_index(
                _decompress_stream(data[off:off + ln], codec))
        off += ln
    raise ValueError(
        f"column {column_id} has no BLOOM_FILTER_UTF8 stream")


def read_column_row_index(data: bytes, stripe: dict, codec: str,
                          column_id: int) -> list[dict]:
    """Parse ``column_id``'s ROW_INDEX stream from one stripe's
    index section -> per-row-group entries
    {n_values, has_null, min, max} (typed min/max for
    integer / double / string stats; None otherwise).  O(index
    bytes) — the stats-pruning sibling of read_column_blooms."""
    from .orc_data import _decompress_stream

    foot_off = (stripe["offset"] + stripe["index_length"]
                + stripe["data_length"])
    sf_raw = _decompress_stream(
        data[foot_off:foot_off + stripe["footer_length"]], codec)
    sf = proto_decode(sf_raw)
    off = stripe["offset"]
    raw = None
    for blob in sf.get(1, []):
        st = proto_decode(bytes(blob))
        kind = st.get(1, [0])[-1]
        col = st.get(2, [0])[-1]
        ln = st.get(3, [0])[-1]
        kind = kind if isinstance(kind, int) else 0
        col = col if isinstance(col, int) else 0
        ln = ln if isinstance(ln, int) else 0
        if kind == STREAM_ROW_INDEX and col == column_id:
            raw = _decompress_stream(data[off:off + ln], codec)
            break
        off += ln
    if raw is None:
        raise ValueError(
            f"column {column_id} has no ROW_INDEX stream")
    from .orc_meta import decode_column_statistics

    entries = []
    for eb in proto_decode(raw).get(1, []):
        entry = proto_decode(bytes(eb))
        stats_raw = entry.get(2)
        if not stats_raw:
            entries.append({"n_values": None, "has_null": None,
                            "min": None, "max": None})
            continue
        entries.append(
            decode_column_statistics(bytes(stats_raw[-1])))
    return entries
