"""Avro Object Container Files (OCF) — the .avro file format.

Corpus dumps and Kafka-connect sinks ship OCF; this implements the
PUBLIC Avro 1.11 spec's container layout from scratch on top of this
repo's Avro binary codec (sources/avro_codec.py) and from-scratch
snappy (operators/snappy.py):

* magic ``Obj\\x01``;
* file metadata as an Avro map<bytes> (zigzag-long counts, negative
  block-count form accepted on read) with ``avro.schema`` and
  ``avro.codec`` keys;
* a 16-byte sync marker, repeated after every data block;
* data blocks: zigzag-long record count + byte length + payload;
* codecs: ``null``, ``deflate`` (RAW deflate, no zlib wrapper — spec
  wording "RFC 1951 ... without the RFC 1950 wrapper"), and
  ``snappy`` (snappy block format + 4-byte BIG-endian zlib CRC-32 of
  the UNCOMPRESSED data, per the spec's codec table).

The writer is deterministic (fixed sync marker derived from the
writer seed) — the synth/oracle vehicle.  Hostile input raises
``ValueError``; block sizes and record counts are capped.
"""

from __future__ import annotations

import io
import json
import zlib

from ..operators.snappy import (
    snappy_compress_block,
    snappy_decompress_block,
)
from .avro_codec import _decoder_for, read_long, write_long

MAGIC = b"Obj\x01"
MAX_BLOCK_BYTES = 1 << 26
MAX_RECORDS = 1 << 20


def _write_bytes(buf: io.BytesIO, raw: bytes) -> None:
    write_long(buf, len(raw))
    buf.write(raw)


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = read_long(buf)
    if n < 0 or n > MAX_BLOCK_BYTES:
        raise ValueError("avro bytes length out of range")
    raw = buf.read(n)
    if len(raw) != n:
        raise ValueError("truncated avro bytes")
    return raw


def write_ocf(schema_json: str, records: list[dict], *,
              codec: str = "null", records_per_block: int = 64,
              sync_seed: int = 0) -> bytes:
    """Records -> OCF bytes with the given codec; the sync marker is
    md5(str(sync_seed)) so output is deterministic."""
    import hashlib

    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"unsupported avro codec {codec}")
    sync = hashlib.md5(f"ocf-sync-{sync_seed}".encode()).digest()
    buf = io.BytesIO()
    buf.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(
            json.loads(schema_json), separators=(",", ":"),
            sort_keys=True).encode(),
        "avro.codec": codec.encode(),
    }
    write_long(buf, len(meta))
    for k in sorted(meta):
        _write_bytes(buf, k.encode())
        _write_bytes(buf, meta[k])
    write_long(buf, 0)  # end of map
    buf.write(sync)
    # schema + name environment parsed once per schema (memoized —
    # encode_record would re-parse per record, and sink paths write
    # thousands of tiny files with the same schema)
    from .avro_codec import _encode

    sch, env = _writer_schema_for(schema_json)

    def enc(r: dict) -> bytes:
        rb = io.BytesIO()
        _encode(sch, r, rb, env)
        return rb.getvalue()

    for b0 in range(0, len(records), records_per_block):
        chunk = records[b0:b0 + records_per_block]
        raw = b"".join(enc(r) for r in chunk)
        if codec == "deflate":
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = comp.compress(raw) + comp.flush()
        elif codec == "snappy":
            payload = (snappy_compress_block(raw)
                       + zlib.crc32(raw).to_bytes(4, "big"))
        else:
            payload = raw
        write_long(buf, len(chunk))
        write_long(buf, len(payload))
        buf.write(payload)
        buf.write(sync)
    return buf.getvalue()


_WRITER_SCHEMA_CACHE: dict[str, tuple] = {}
_WRITER_SCHEMA_CACHE_MAX = 128


def _writer_schema_for(schema_json: str) -> tuple:
    got = _WRITER_SCHEMA_CACHE.get(schema_json)
    if got is None:
        from .avro_codec import _register_names

        sch = json.loads(schema_json)
        env: dict = {}
        _register_names(sch, env)
        if len(_WRITER_SCHEMA_CACHE) >= _WRITER_SCHEMA_CACHE_MAX:
            _WRITER_SCHEMA_CACHE.clear()
        got = (sch, env)
        _WRITER_SCHEMA_CACHE[schema_json] = got
    return got


def read_ocf(data: bytes) -> dict:
    """OCF bytes -> {schema, codec, records, n_blocks}; sync markers
    verified per block, snappy CRC verified, block caps enforced."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        count = read_long(buf)
        if count == 0:
            break
        if count < 0:  # block form: negative count then byte size
            count = -count
            read_long(buf)  # block byte size, unused for maps we read
        if count > 1 << 16:
            raise ValueError("avro metadata map too large")
        for _ in range(count):
            key = _read_bytes(buf).decode("utf-8")
            meta[key] = _read_bytes(buf)
    if "avro.schema" not in meta:
        raise ValueError("OCF missing avro.schema")
    schema_json = meta["avro.schema"].decode("utf-8")
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"unsupported avro codec {codec}")
    sync = buf.read(16)
    if len(sync) != 16:
        raise ValueError("truncated OCF header sync marker")
    # compiled closure decoder from the shared per-process cache:
    # manifest/log schemas repeat across thousands of tiny OCFs, so
    # even the one-time compile is amortized across files
    decode = _decoder_for(schema_json)
    records: list[dict] = []
    n_blocks = 0
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        n_rec = read_long(buf)
        if n_rec < 0 or n_rec > MAX_RECORDS:
            raise ValueError("OCF block record count out of range")
        n_bytes = read_long(buf)
        if n_bytes < 0 or n_bytes > MAX_BLOCK_BYTES:
            raise ValueError("OCF block size out of range")
        payload = buf.read(n_bytes)
        if len(payload) != n_bytes:
            raise ValueError("truncated OCF block")
        if codec == "deflate":
            raw = zlib.decompressobj(-15).decompress(
                payload, MAX_BLOCK_BYTES)
        elif codec == "snappy":
            if len(payload) < 4:
                raise ValueError("snappy OCF block too short")
            raw = snappy_decompress_block(payload[:-4])
            if zlib.crc32(raw).to_bytes(4, "big") != payload[-4:]:
                raise ValueError("snappy OCF block CRC mismatch")
        else:
            raw = payload
        rpos = 0
        try:
            for _ in range(n_rec):
                val, rpos = decode(raw, rpos)
                records.append(val)
        except IndexError:
            raise ValueError("truncated avro record") from None
        if rpos != len(raw):
            raise ValueError("OCF block has trailing bytes")
        if buf.read(16) != sync:
            raise ValueError("OCF sync marker mismatch")
        n_blocks += 1
        if len(records) > MAX_RECORDS:
            raise ValueError("OCF record cap exceeded")
    return {"schema": schema_json, "codec": codec,
            "records": records, "n_blocks": n_blocks}
