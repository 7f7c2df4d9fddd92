"""Minimal Avro *binary* codec for the event-schema subset, plus the
Confluent Schema-Registry wire framing (O1/O5; reference schema.tf:4-151,
health_simulator.py:154-192).

Why this exists: the production decode path is spark-avro's `from_avro`
(JVM, vectorized).  In environments without the spark-avro module — like
this sandbox — the engine still needs to (a) produce REAL Avro-framed
bytes for fixtures and (b) decode them through the same DataFrame
plumbing, so the Confluent wire-format strip and the schema rendering
are exercised end-to-end rather than rotting behind an import gate.

The codec implements the public Avro 1.x binary encoding spec
(https://avro.apache.org/docs/current/specification/) for the types
`sources.kafka.avro_schema_json` emits: record, string, int, long,
float, double, boolean, and the timestamp-micros logical type (a long) —
extended (for the Avro-OCF / Iceberg-manifest surface) with null,
bytes, arrays, maps, unions (encoded as zigzag branch index +
value, per the same public spec), and (r16) enums plus recursive
named-type references; defaults, aliases and named-type union
matching power the schema-resolution reader
(decode_record_resolved).  Conformance is pinned by a test that decodes
these bytes with the Java Avro library on Spark's classpath
(tests/test_kafka_wire.py).
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import struct

# ---------------------------------------------------------------------------
# primitive encoders (Avro binary spec)
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return _unzigzag(acc)


# ---------------------------------------------------------------------------
# schema-driven record codec
# ---------------------------------------------------------------------------


def _is_ts_micros(sch) -> bool:
    return (
        isinstance(sch, dict)
        and sch.get("type") == "long"
        and sch.get("logicalType") == "timestamp-micros"
    )


def _is_decimal(sch) -> bool:
    return (
        isinstance(sch, dict)
        and sch.get("type") in ("bytes", "fixed")
        and sch.get("logicalType") == "decimal"
    )


def _is_date(sch) -> bool:
    return (
        isinstance(sch, dict)
        and sch.get("type") == "int"
        and sch.get("logicalType") == "date"
    )


def _encode(sch, value, buf: io.BytesIO,
            env: dict | None = None) -> None:
    sch = _deref(sch, env)
    if isinstance(sch, dict) and sch.get("type") == "record":
        for f in sch["fields"]:
            if f["name"] not in value and isinstance(
                    f["type"], list) and "null" in f["type"] \
                    and "default" in f and f["default"] is None:
                # Avro default-null semantics: a writer dict may
                # omit a nullable field ONLY when the schema
                # declares "default": null (lets shared record
                # schemas grow without touching every call site).
                # Gating on the declared default keeps a typo'd
                # field name a loud KeyError instead of a silent
                # null (ADVICE r14).
                _encode(f["type"], None, buf, env)
                continue
            _encode(f["type"], value[f["name"]], buf, env)
    elif _is_decimal(sch):
        import decimal as _dec

        scale = int(sch.get("scale", 0))
        unscaled = int(_dec.Decimal(value).scaleb(scale))
        n = max(1, (unscaled.bit_length() + 8) // 8)
        if sch["type"] == "fixed":
            n = int(sch["size"])
        raw = unscaled.to_bytes(n, "big", signed=True)
        if sch["type"] == "bytes":
            write_long(buf, len(raw))
        buf.write(raw)
    elif _is_date(sch):
        days = (value - _dt.date(1970, 1, 1)).days \
            if isinstance(value, _dt.date) else int(value)
        write_long(buf, days)
    elif isinstance(sch, dict) and sch.get("type") == "fixed":
        raw = bytes(value)
        if len(raw) != int(sch["size"]):
            raise ValueError("avro fixed size mismatch")
        buf.write(raw)
    elif _is_ts_micros(sch):
        if isinstance(value, _dt.datetime):
            if value.tzinfo is None:
                value = value.replace(tzinfo=_dt.timezone.utc)
            value = int(value.timestamp() * 1_000_000)
        write_long(buf, int(value))
    elif sch == "string":
        raw = value.encode("utf-8")
        write_long(buf, len(raw))
        buf.write(raw)
    elif sch in ("int", "long"):
        write_long(buf, int(value))
    elif sch == "float":
        buf.write(struct.pack("<f", float(value)))
    elif sch == "double":
        buf.write(struct.pack("<d", float(value)))
    elif sch == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif sch == "null":
        pass
    elif sch == "bytes":
        raw = bytes(value)
        write_long(buf, len(raw))
        buf.write(raw)
    elif isinstance(sch, dict) and sch.get("type") == "enum":
        symbols = sch.get("symbols") or []
        try:
            write_long(buf, symbols.index(value))
        except ValueError:
            raise ValueError(
                f"{value!r} is not a symbol of enum "
                f"{sch.get('name')!r}") from None
    elif isinstance(sch, list):  # union: zigzag branch index + value
        branch = _union_branch(sch, value)
        write_long(buf, branch)
        _encode(sch[branch], value, buf, env)
    elif isinstance(sch, dict) and sch.get("type") == "array":
        if value:
            write_long(buf, len(value))
            for item in value:
                _encode(sch["items"], item, buf, env)
        write_long(buf, 0)
    elif isinstance(sch, dict) and sch.get("type") == "map":
        if value:
            write_long(buf, len(value))
            for k, v in value.items():
                raw = k.encode("utf-8")
                write_long(buf, len(raw))
                buf.write(raw)
                _encode(sch["values"], v, buf, env)
        write_long(buf, 0)
    else:
        raise TypeError(f"unsupported Avro schema node: {sch!r}")


def _union_branch(union: list, value) -> int:
    """Pick the union branch for a Python value (the null/non-null
    pattern real schemas use; first matching branch otherwise)."""
    for i, node in enumerate(union):
        if node == "null" and value is None:
            return i
        if node != "null" and value is not None:
            return i
    raise TypeError(f"no union branch for {value!r} in {union!r}")


def _decode(sch, buf: io.BytesIO, env: dict | None = None):
    sch = _deref(sch, env)
    if isinstance(sch, dict) and sch.get("type") == "record":
        return {f["name"]: _decode(f["type"], buf, env)
                for f in sch["fields"]}
    if isinstance(sch, dict) and sch.get("type") == "enum":
        idx = read_long(buf)
        symbols = sch.get("symbols") or []
        if not 0 <= idx < len(symbols):
            raise ValueError("avro enum index out of range")
        return symbols[idx]
    if _is_ts_micros(sch):
        return read_long(buf)  # µs since epoch; caller casts
    if _is_decimal(sch):
        # Avro spec logical decimal: big-endian two's-complement
        # unscaled int over bytes or fixed
        import decimal as _dec

        if sch["type"] == "fixed":
            raw = buf.read(int(sch["size"]))
        else:
            raw = buf.read(read_long(buf))
        if not raw:
            raise ValueError("empty avro decimal")
        return _dec.Decimal(
            int.from_bytes(raw, "big", signed=True)
        ).scaleb(-int(sch.get("scale", 0)))
    if _is_date(sch):
        return _dt.date(1970, 1, 1) + _dt.timedelta(
            days=read_long(buf))
    if isinstance(sch, dict) and sch.get("type") == "fixed":
        n = int(sch["size"])
        raw = buf.read(n)
        if len(raw) != n:
            raise ValueError("avro fixed truncated")
        return raw
    if sch == "string":
        n = read_long(buf)
        return buf.read(n).decode("utf-8")
    if sch in ("int", "long"):
        return read_long(buf)
    if sch == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if sch == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if sch == "boolean":
        return buf.read(1) == b"\x01"
    if sch == "null":
        return None
    if sch == "bytes":
        n = read_long(buf)
        return buf.read(n)
    if isinstance(sch, list):
        branch = read_long(buf)
        if not 0 <= branch < len(sch):
            raise ValueError("avro union branch out of range")
        return _decode(sch[branch], buf, env)
    if isinstance(sch, dict) and sch.get("type") == "array":
        out = []
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block form: negative count then byte size
                n = -n
                read_long(buf)
            for _ in range(n):
                out.append(_decode(sch["items"], buf, env))
    if isinstance(sch, dict) and sch.get("type") == "map":
        out = {}
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                read_long(buf)
            for _ in range(n):
                klen = read_long(buf)
                k = buf.read(klen).decode("utf-8")
                out[k] = _decode(sch["values"], buf, env)
    raise TypeError(f"unsupported Avro schema node: {sch!r}")


def compile_decoder(sch, env: dict | None = None,
                    _memo: dict | None = None):
    """Compile a (parsed) schema into a closure ``fn(data, pos) ->
    (value, new_pos)`` decoding straight off a bytes buffer.

    Semantics identical to :func:`_decode` (same values, same
    ``ValueError`` messages); the difference is that schema dispatch
    happens once at compile time instead of per value, and varints
    parse by byte indexing instead of ``BytesIO.read(1)`` — the
    difference between O(schema x values) and O(values) work for
    manifest-heavy OCF readers.  Recursive named-type references
    compile through a forward cell."""
    memo: dict = _memo if _memo is not None else {}

    def rl(data, pos):
        shift = acc = 0
        while True:
            b = data[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return (acc >> 1) ^ -(acc & 1), pos
            shift += 7

    def compile_node(node):
        node_r = _deref(node, env)
        if isinstance(node_r, dict) \
                and node_r.get("type") in _NAMED_KINDS:
            k = id(node_r)
            got = memo.get(k)
            if got is not None:
                return got
            cell: list = []

            def fwd(data, pos, _c=cell):
                return _c[0](data, pos)

            memo[k] = fwd
            real = build(node_r)
            cell.append(real)
            memo[k] = real
            return real
        return build(node_r)

    def build(sch):
        if isinstance(sch, dict) and sch.get("type") == "record":
            fields = [(f["name"], compile_node(f["type"]))
                      for f in sch["fields"]]

            def d_record(data, pos, _fields=fields):
                out = {}
                for name, fd in _fields:
                    out[name], pos = fd(data, pos)
                return out, pos
            return d_record
        if isinstance(sch, dict) and sch.get("type") == "enum":
            symbols = sch.get("symbols") or []

            def d_enum(data, pos, _s=symbols):
                idx, pos = rl(data, pos)
                if not 0 <= idx < len(_s):
                    raise ValueError("avro enum index out of range")
                return _s[idx], pos
            return d_enum
        if _is_ts_micros(sch):
            return rl
        if _is_decimal(sch):
            import decimal as _dec

            scale = int(sch.get("scale", 0))
            fixed_n = int(sch["size"]) if sch["type"] == "fixed" \
                else None

            def d_decimal(data, pos, _n=fixed_n, _s=scale):
                if _n is None:
                    n, pos = rl(data, pos)
                else:
                    n = _n
                raw = data[pos:pos + n]
                pos += n
                if not raw:
                    raise ValueError("empty avro decimal")
                return _dec.Decimal(
                    int.from_bytes(raw, "big", signed=True)
                ).scaleb(-_s), pos
            return d_decimal
        if _is_date(sch):
            def d_date(data, pos):
                n, pos = rl(data, pos)
                return _dt.date(1970, 1, 1) + _dt.timedelta(days=n), \
                    pos
            return d_date
        if isinstance(sch, dict) and sch.get("type") == "fixed":
            size = int(sch["size"])

            def d_fixed(data, pos, _n=size):
                raw = data[pos:pos + _n]
                if len(raw) != _n:
                    raise ValueError("avro fixed truncated")
                return raw, pos + _n
            return d_fixed
        if sch == "string":
            def d_string(data, pos):
                n, pos = rl(data, pos)
                if n < 0 or pos + n > len(data):
                    raise ValueError("avro string length out of range")
                return data[pos:pos + n].decode("utf-8"), pos + n
            return d_string
        if sch in ("int", "long"):
            return rl
        if sch == "float":
            unpack_f = struct.Struct("<f").unpack_from

            def d_float(data, pos):
                return unpack_f(data, pos)[0], pos + 4
            return d_float
        if sch == "double":
            unpack_d = struct.Struct("<d").unpack_from

            def d_double(data, pos):
                return unpack_d(data, pos)[0], pos + 8
            return d_double
        if sch == "boolean":
            def d_bool(data, pos):
                return data[pos:pos + 1] == b"\x01", pos + 1
            return d_bool
        if sch == "null":
            def d_null(data, pos):
                return None, pos
            return d_null
        if sch == "bytes":
            def d_bytes(data, pos):
                n, pos = rl(data, pos)
                if n < 0 or pos + n > len(data):
                    raise ValueError("avro bytes length out of range")
                return data[pos:pos + n], pos + n
            return d_bytes
        if isinstance(sch, list):
            branches = [compile_node(b) for b in sch]

            def d_union(data, pos, _b=branches):
                br, pos = rl(data, pos)
                if not 0 <= br < len(_b):
                    raise ValueError("avro union branch out of range")
                return _b[br](data, pos)
            return d_union
        if isinstance(sch, dict) and sch.get("type") == "array":
            item = compile_node(sch["items"])

            def d_array(data, pos, _i=item):
                out = []
                while True:
                    n, pos = rl(data, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:  # block form: count then byte size
                        n = -n
                        _, pos = rl(data, pos)
                    for _ in range(n):
                        v, pos = _i(data, pos)
                        out.append(v)
            return d_array
        if isinstance(sch, dict) and sch.get("type") == "map":
            val = compile_node(sch["values"])

            def d_map(data, pos, _v=val):
                out = {}
                while True:
                    n, pos = rl(data, pos)
                    if n == 0:
                        return out, pos
                    if n < 0:
                        n = -n
                        _, pos = rl(data, pos)
                    for _ in range(n):
                        klen, pos = rl(data, pos)
                        if klen < 0 or pos + klen > len(data):
                            raise ValueError(
                                "avro map key length out of range")
                        k = data[pos:pos + klen].decode("utf-8")
                        pos += klen
                        out[k], pos = _v(data, pos)
            return d_map
        raise TypeError(f"unsupported Avro schema node: {sch!r}")

    return compile_node(sch)


def encode_record(schema_json: str, record: dict) -> bytes:
    """Encode one record as Avro binary (no framing)."""
    sch = json.loads(schema_json)
    env: dict = {}
    _register_names(sch, env)
    buf = io.BytesIO()
    _encode(sch, record, buf, env)
    return buf.getvalue()


#: compiled-decoder memo keyed by the exact schema JSON (a pure
#: function of the schema — code caching, never data caching), one per
#: process, so each Python worker compiles a schema once and reuses it
#: for every record and batch it decodes; small bound, wholesale reset
#: on overflow (schema sets are tiny in practice: one per topic or
#: table format per process)
_DECODER_CACHE: dict[str, object] = {}
_DECODER_CACHE_MAX = 128


def _decoder_for(schema_json: str):
    dec = _DECODER_CACHE.get(schema_json)
    if dec is None:
        sch = json.loads(schema_json)
        env: dict = {}
        _register_names(sch, env)
        dec = compile_decoder(sch, env)
        if len(_DECODER_CACHE) >= _DECODER_CACHE_MAX:
            _DECODER_CACHE.clear()
        _DECODER_CACHE[schema_json] = dec
    return dec


def decode_record(schema_json: str, payload: bytes) -> dict:
    """Decode one Avro-binary record (no framing) through the
    schema's compiled decoder (:func:`compile_decoder`, cached per
    process by schema JSON).  Trailing bytes after the record are
    ignored.

    Raises ``ValueError`` on malformed or truncated input, never
    ``IndexError`` or ``struct.error``."""
    try:
        return _decoder_for(schema_json)(payload, 0)[0]
    except (IndexError, struct.error):
        raise ValueError("avro record truncated") from None


# ---------------------------------------------------------------------------
# Confluent Schema-Registry wire format (magic 0x00 + 4-byte BE schema id)
# ---------------------------------------------------------------------------

MAGIC = b"\x00"


def confluent_frame(payload: bytes, schema_id: int) -> bytes:
    """Wrap an Avro-binary payload in the Confluent SR wire format that
    the reference's AvroSerializer produces (health_simulator.py:154-192)."""
    return MAGIC + struct.pack(">I", schema_id) + payload


def strip_confluent_frame(framed: bytes) -> tuple[int, bytes]:
    """Return (schema_id, payload); raises on bad magic."""
    if framed[:1] != MAGIC:
        raise ValueError(f"bad Confluent wire-format magic: {framed[:1]!r}")
    return struct.unpack(">I", framed[1:5])[0], framed[5:]


# ---------------------------------------------------------------------------
# schema resolution (Avro spec "Schema Resolution"): decode data
# written with one schema through the lens of an evolved reader schema
# ---------------------------------------------------------------------------

_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
}

_PRIMITIVES = frozenset(
    {"null", "boolean", "int", "long", "float", "double",
     "bytes", "string"})

_NAMED_KINDS = ("record", "enum", "fixed")


def _type_name(sch) -> str:
    if isinstance(sch, str):
        return sch
    if isinstance(sch, list):
        return "union"
    return sch.get("type", "")


def _fullname(sch: dict, ns: str | None = None) -> str:
    """Spec "Names": a dotted name is already full; otherwise the
    schema's own namespace, else the ENCLOSING namespace, applies."""
    name = sch["name"]
    if "." in name:
        return name
    space = sch.get("namespace", ns)
    return f"{space}.{name}" if space else name


def _register_names(sch, env: dict, ns: str | None = None) -> None:
    """Walk a schema and register every named type (record / enum /
    fixed) under its fullname AND unqualified name, so later
    REFERENCES by name ("type": "Node" — the recursive-schema form)
    dereference.  First definition wins (the spec forbids
    redefinition; tolerate identical re-walks)."""
    if isinstance(sch, list):
        for b in sch:
            _register_names(b, env, ns)
        return
    if not isinstance(sch, dict):
        return
    t = sch.get("type")
    if t in _NAMED_KINDS:
        fn = _fullname(sch, ns)
        env.setdefault(fn, sch)
        env.setdefault(sch["name"], sch)
        ns = fn.rsplit(".", 1)[0] if "." in fn else ns
    if t == "record":
        for f in sch.get("fields", []):
            _register_names(f.get("type"), env, ns)
    elif t == "array":
        _register_names(sch.get("items"), env, ns)
    elif t == "map":
        _register_names(sch.get("values"), env, ns)


def _deref(sch, env: dict | None):
    """Resolve a by-name reference to its definition."""
    if env and isinstance(sch, str) and sch not in _PRIMITIVES:
        if sch not in env:
            raise ValueError(f"undefined avro type reference {sch!r}")
        return env[sch]
    return sch


def _names_match(w: dict, r: dict) -> bool:
    """Spec "Schema Resolution": named types match when the
    unqualified names are equal, OR the writer's name is among the
    reader's aliases (the rename-compatibility hook)."""
    wf, rf = _fullname(w), _fullname(r)
    if wf == rf or wf.rsplit(".", 1)[-1] == rf.rsplit(".", 1)[-1]:
        return True
    aliases = r.get("aliases") or []
    return wf in aliases or wf.rsplit(".", 1)[-1] in [
        a.rsplit(".", 1)[-1] for a in aliases]


def _resolvable(w, r, wenv: dict | None = None,
                renv: dict | None = None) -> bool:
    """Can data written as ``w`` be read as ``r``?  (The branch-
    matching predicate union resolution needs; recursion happens in
    _resolve_decode itself.)"""
    w = _deref(w, wenv)
    r = _deref(r, renv)
    wn, rn = _type_name(w), _type_name(r)
    if isinstance(r, list) or isinstance(w, list):
        return True  # union resolution recurses per branch
    if wn == rn:
        if wn in _NAMED_KINDS:
            # ADVICE r15: kind equality alone mismatches a union
            # with several record branches — the spec matches named
            # types by name (or reader alias)
            if not _names_match(w, r):
                return False
        if wn == "fixed":
            return int(w.get("size", -1)) == int(r.get("size", -2))
        return True
    return (wn, rn) in _PROMOTIONS


def _skip(sch, buf: io.BytesIO, env: dict | None = None) -> None:
    """Consume one value of ``sch`` without materializing it —
    writer-only record fields cost a skip, never a decode."""
    _decode(sch, buf, env)


def _default_value(f: dict):
    if "default" not in f:
        raise ValueError(
            f"reader field {f['name']!r} absent from writer data "
            "and declares no default")
    d = f["default"]
    t = f["type"]
    if isinstance(t, list):
        t = t[0]  # spec: default applies to the FIRST union branch
    if _type_name(t) == "bytes" and isinstance(d, str):
        return d.encode("latin-1")  # spec's JSON-string byte coding
    return d


def _resolve_decode(w, r, buf: io.BytesIO,
                    wenv: dict | None = None,
                    renv: dict | None = None):
    w = _deref(w, wenv)
    r = _deref(r, renv)
    # writer union: branch index comes from the wire, then the
    # branch resolves against the reader schema
    if isinstance(w, list):
        branch = read_long(buf)
        if not 0 <= branch < len(w):
            raise ValueError("avro union branch out of range")
        return _resolve_decode(w[branch], r, buf, wenv, renv)
    # reader union, writer not: first resolvable reader branch wins
    if isinstance(r, list):
        for rb in r:
            if _resolvable(w, rb, wenv, renv):
                return _resolve_decode(w, rb, buf, wenv, renv)
        raise ValueError(
            f"writer type {_type_name(w)!r} matches no reader "
            "union branch")
    wn, rn = _type_name(w), _type_name(r)
    if wn == "record" and rn == "record":
        if not _names_match(w, r):
            raise ValueError(
                f"writer record {_fullname(w)!r} does not match "
                f"reader record {_fullname(r)!r} (no alias)")
        rfields = {f["name"]: f for f in r["fields"]}
        # reader-side aliases let a field RENAME resolve: a writer
        # field whose name appears in a reader field's aliases list
        # decodes into the reader name (spec "Aliases")
        for f in r["fields"]:
            for a in f.get("aliases") or []:
                rfields.setdefault(a, f)
        out = {}
        seen = set()
        for wf in w["fields"]:
            rf = rfields.get(wf["name"])
            if rf is None or rf["name"] in seen:
                _skip(wf["type"], buf, wenv)
                continue
            out[rf["name"]] = _resolve_decode(
                wf["type"], rf["type"], buf, wenv, renv)
            seen.add(rf["name"])
        for rf in r["fields"]:
            if rf["name"] not in seen:
                out[rf["name"]] = _default_value(rf)
        # reader field ORDER (reordering is a legal evolution)
        return {f["name"]: out[f["name"]] for f in r["fields"]}
    if wn == "enum" and rn == "enum":
        if not _names_match(w, r):
            raise ValueError(
                f"writer enum {_fullname(w)!r} does not match "
                f"reader enum {_fullname(r)!r} (no alias)")
        idx = read_long(buf)
        symbols = w.get("symbols") or []
        if not 0 <= idx < len(symbols):
            raise ValueError("avro enum index out of range")
        sym = symbols[idx]
        if sym in (r.get("symbols") or []):
            return sym
        # spec: unknown writer symbol takes the reader's enum
        # default, else the resolution errors
        if "default" in r:
            return r["default"]
        raise ValueError(
            f"writer enum symbol {sym!r} absent from reader "
            "and reader declares no default")
    if wn == "array" and rn == "array":
        out = []
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                read_long(buf)
            for _ in range(n):
                out.append(_resolve_decode(
                    w["items"], r["items"], buf, wenv, renv))
    if wn == "map" and rn == "map":
        out = {}
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                read_long(buf)
            for _ in range(n):
                klen = read_long(buf)
                k = buf.read(klen).decode("utf-8")
                out[k] = _resolve_decode(
                    w["values"], r["values"], buf, wenv, renv)
    if wn == rn:
        return _decode(w, buf, wenv)
    if (wn, rn) not in _PROMOTIONS:
        raise ValueError(
            f"cannot resolve writer {wn!r} as reader {rn!r}")
    v = _decode(w, buf, wenv)
    if rn in ("float", "double"):
        return float(v)
    if rn == "bytes":
        return v.encode("utf-8")
    if rn == "string":
        return v.decode("utf-8")
    return v  # int -> long: same representation


def decode_record_resolved(writer_schema_json: str,
                           reader_schema_json: str,
                           payload: bytes) -> dict:
    """Decode ``payload`` (written with the writer schema) through
    an EVOLVED reader schema — field adds take reader defaults,
    drops skip wire bytes, reorders follow the reader, renames
    resolve through reader aliases (type- and field-level), and the
    spec's promotions (int->long->float->double, string<->bytes)
    convert in place.  Recursive named-type references ("type":
    "Node") dereference through per-side name environments.  This is
    the resolution step every schema-registry consumer runs on
    version upgrades."""
    w = json.loads(writer_schema_json)
    r = json.loads(reader_schema_json)
    wenv: dict = {}
    renv: dict = {}
    _register_names(w, wenv)
    _register_names(r, renv)
    buf = io.BytesIO(payload)
    out = _resolve_decode(w, r, buf, wenv, renv)
    if buf.read(1):
        raise ValueError("trailing bytes after avro record")
    return out
