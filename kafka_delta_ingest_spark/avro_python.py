"""Pure-Python Avro binary codec — jar-free fallback for the Avro
deserializer family (reference src/serialization.rs:142-315).

The reference decodes three Avro shapes: Confluent wire format
(registry), object-container files, and single-object encoding routed
by schema fingerprint. Spark's ``from_avro`` needs the spark-avro jar,
which a plain pyspark install lacks — so this module implements the
Avro 1.11 binary spec directly (zigzag varint ints, length-prefixed
bytes/strings, block-encoded arrays/maps, union index dispatch, the
object-container framing, and the CRC-64-AVRO Rabin schema fingerprint)
and exposes it to Spark as an Arrow-batched pandas UDF that emits JSON
text, which then flows through the exact same ``from_json`` wire-schema
path as native JSON messages (coercions, corrupt-record DLQ capture and
all).

Scale note: a row-wise Python decode is the slow path by design — the
reference's own Avro decode is also per-message (serde). The UDF is
Arrow-batched, stateless, and embarrassingly parallel; when the
spark-avro jar IS present, serialization.py uses the JVM ``from_avro``
instead.
"""

from __future__ import annotations

import io
import json
import struct
import zlib


# ---------------------------------------------------------------------------
# schema handling
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string"
}


def parse_schema(schema) -> dict | str | list:
    """Normalize an Avro schema (JSON text, dict, or list-union) and
    resolve named-type back references into inline definitions."""
    if isinstance(schema, (str, bytes)) and not isinstance(schema, dict):
        try:
            schema = json.loads(schema)
        except json.JSONDecodeError:
            pass  # bare primitive name like "string"
    names: dict[str, dict] = {}

    def walk(s):
        if isinstance(s, str):
            if s in _PRIMITIVES:
                return s
            if s in names:
                return names[s]
            raise ValueError(f"unknown Avro type reference: {s}")
        if isinstance(s, list):
            return [walk(b) for b in s]
        t = s.get("type")
        if t in ("record", "enum", "fixed"):
            full = s.get("name", "")
            if s.get("namespace"):
                full = f"{s['namespace']}.{full}"
            names[s["name"]] = s
            names[full] = s
            if t == "record":
                s = {**s, "fields": [
                    {**f, "type": walk(f["type"])} for f in s["fields"]
                ]}
                names[s["name"]] = s
                if full:
                    names[full] = s
            return s
        if t == "array":
            return {**s, "items": walk(s["items"])}
        if t == "map":
            return {**s, "values": walk(s["values"])}
        if isinstance(t, (dict, list)):
            return {**s, "type": walk(t)}
        return s

    return walk(schema)


# ---------------------------------------------------------------------------
# binary decode
# ---------------------------------------------------------------------------


def _read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # zigzag


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    out = buf.read(n)
    if len(out) != n:
        raise EOFError("truncated bytes")
    return out


def _decode(buf: io.BytesIO, schema):
    if isinstance(schema, dict) and isinstance(schema.get("type"), str) and (
        schema["type"] in _PRIMITIVES
    ) and "fields" not in schema and "items" not in schema and "values" not in schema and "symbols" not in schema and "size" not in schema:
        schema = schema["type"]  # annotated primitive (logicalType etc.)
    if isinstance(schema, str):
        if schema == "null":
            return None
        if schema == "boolean":
            b = buf.read(1)
            if not b:
                raise EOFError("truncated boolean")
            return b[0] == 1
        if schema in ("int", "long"):
            return _read_long(buf)
        if schema == "float":
            return struct.unpack("<f", buf.read(4))[0]
        if schema == "double":
            return struct.unpack("<d", buf.read(8))[0]
        if schema == "bytes":
            return _read_bytes(buf)
        if schema == "string":
            return _read_bytes(buf).decode("utf-8")
        raise ValueError(f"unknown primitive {schema}")
    if isinstance(schema, list):  # union: varint branch index
        idx = _read_long(buf)
        if not 0 <= idx < len(schema):
            raise ValueError(f"union index {idx} out of range")
        return _decode(buf, schema[idx])
    t = schema["type"]
    if t == "record":
        return {f["name"]: _decode(buf, f["type"]) for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][_read_long(buf)]
    if t == "fixed":
        return buf.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix (skippable form)
                n = -n
                _read_long(buf)
            for _ in range(n):
                out.append(_decode(buf, schema["items"]))
    if t == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                k = _read_bytes(buf).decode("utf-8")
                out[k] = _decode(buf, schema["values"])
    raise ValueError(f"unsupported Avro type {t}")


def decode(payload: bytes, schema) -> object:
    """Decode one Avro-binary datum against a (parsed) schema."""
    return _decode(io.BytesIO(payload), schema)


# ---------------------------------------------------------------------------
# binary encode (for producing fixtures / test messages)
# ---------------------------------------------------------------------------


def _write_long(out: bytearray, u: int) -> None:
    """Write an (already zigzagged) unsigned varint."""
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else (((-v) << 1) - 1)


def _union_branch_matches(bt: str | None, value) -> bool:
    """Exact Python-type → Avro-branch compatibility for union
    encoding; used before the permissive first-non-null fallback."""
    if bt == "boolean":
        return isinstance(value, bool)
    if bt in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if bt in ("float", "double"):
        return isinstance(value, float)
    if bt in ("string", "enum"):
        return isinstance(value, str)
    if bt in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray))
    if bt in ("record", "map"):
        return isinstance(value, dict)
    if bt == "array":
        return isinstance(value, (list, tuple))
    return False


def _encode(out: bytearray, schema, value) -> None:
    if isinstance(schema, dict) and isinstance(schema.get("type"), str) and (
        schema["type"] in _PRIMITIVES
    ) and "fields" not in schema and "items" not in schema and "values" not in schema and "symbols" not in schema and "size" not in schema:
        schema = schema["type"]
    if isinstance(schema, str):
        if schema == "null":
            return
        if schema == "boolean":
            out.append(1 if value else 0)
            return
        if schema in ("int", "long"):
            _write_long(out, _zigzag(int(value)))
            return
        if schema == "float":
            out.extend(struct.pack("<f", value))
            return
        if schema == "double":
            out.extend(struct.pack("<d", value))
            return
        if schema in ("bytes", "string"):
            data = value.encode("utf-8") if isinstance(value, str) else bytes(value)
            _write_long(out, _zigzag(len(data)))
            out.extend(data)
            return
        raise ValueError(f"unknown primitive {schema}")
    if isinstance(schema, list):
        # two passes: exact Python-type match first (so multi-type
        # unions like ["null","string","long"] pick the right branch),
        # then the first non-null branch as the permissive fallback —
        # identical behavior to before for the common ["null", X].
        for i, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type")
            if value is None and bt == "null":
                _write_long(out, _zigzag(i))
                return
            if value is not None and _union_branch_matches(bt, value):
                _write_long(out, _zigzag(i))
                _encode(out, branch, value)
                return
        for i, branch in enumerate(schema):
            bt = branch if isinstance(branch, str) else branch.get("type")
            if value is not None and bt != "null":
                _write_long(out, _zigzag(i))
                _encode(out, branch, value)
                return
        raise ValueError("no matching union branch")
    t = schema["type"]
    if t == "record":
        for f in schema["fields"]:
            if f["name"] in value:
                fv = value[f["name"]]
            elif "default" in f:
                # spec: a writer may omit a field only when the schema
                # declares a default (schema-evolution ergonomics —
                # producers predating an additive field keep encoding)
                fv = f["default"]
            else:
                raise KeyError(
                    f"record field {f['name']!r} missing and has "
                    "no default"
                )
            _encode(out, f["type"], fv)
        return
    if t == "enum":
        _write_long(out, _zigzag(schema["symbols"].index(value)))
        return
    if t == "fixed":
        out.extend(bytes(value))
        return
    if t == "array":
        if value:
            _write_long(out, _zigzag(len(value)))
            for item in value:
                _encode(out, schema["items"], item)
        _write_long(out, _zigzag(0))
        return
    if t == "map":
        if value:
            _write_long(out, _zigzag(len(value)))
            for k, v in value.items():
                _encode(out, "string", k)
                _encode(out, schema["values"], v)
        _write_long(out, _zigzag(0))
        return
    raise ValueError(f"unsupported Avro type {t}")


def encode(value, schema) -> bytes:
    out = bytearray()
    _encode(out, schema, value)
    return bytes(out)


# ---------------------------------------------------------------------------
# object-container files (reference src/serialization.rs:243-315)
# ---------------------------------------------------------------------------

_MAGIC = b"Obj\x01"
_META_SCHEMA = parse_schema({"type": "map", "values": "bytes"})


def read_container(data: bytes) -> tuple[dict | str | list, list]:
    """Decode an Avro object-container file → (writer schema, records)."""
    buf = io.BytesIO(data)
    if buf.read(4) != _MAGIC:
        raise ValueError("not an Avro object-container file")
    meta = _decode(buf, _META_SCHEMA)
    schema = parse_schema(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = buf.read(16)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        n = _read_long(buf)
        size = _read_long(buf)
        block = buf.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported codec {codec}")
        bbuf = io.BytesIO(block)
        for _ in range(n):
            records.append(_decode(bbuf, schema))
        if buf.read(16) != sync:
            raise ValueError("container sync marker mismatch")
    return schema, records


def write_container(records: list, schema, codec: str = "null") -> bytes:
    """Encode records into an object-container file (test fixtures)."""
    parsed = parse_schema(schema)
    schema_json = schema if isinstance(schema, str) else json.dumps(schema)
    sync = b"\x00" * 8 + b"kdispark"  # deterministic 16-byte marker
    out = bytearray(_MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    _encode(out, _META_SCHEMA, meta)
    out.extend(sync)
    block = bytearray()
    for r in records:
        _encode(block, parsed, r)
    body = bytes(block)
    if codec == "deflate":
        body = zlib.compress(body)[2:-4]  # raw deflate
    _write_long(out, _zigzag(len(records)))
    _write_long(out, _zigzag(len(body)))
    out.extend(body)
    out.extend(sync)
    return bytes(out)


# ---------------------------------------------------------------------------
# CRC-64-AVRO (Rabin) schema fingerprint (reference src/serialization.rs
# fingerprint routing; Avro spec "single object encoding")
# ---------------------------------------------------------------------------

_EMPTY = 0xC15D213AA4D7A795
_TABLE: list[int] = []


def _fp_table() -> list[int]:
    global _TABLE
    if not _TABLE:
        for i in range(256):
            fp = i
            for _ in range(8):
                fp = (fp >> 1) ^ (_EMPTY & -(fp & 1))
            _TABLE.append(fp)
    return _TABLE


def rabin_fingerprint(text: str) -> int:
    """64-bit CRC-64-AVRO (Rabin) fingerprint of raw text, returned as
    a SIGNED little-endian i64, the way single-object-encoding routing
    in serialization.py reads the wire bytes (reference
    src/serialization.rs:188-195). Callers fingerprinting a SCHEMA
    should use :func:`schema_fingerprint`, which canonicalizes first."""
    table = _fp_table()
    fp = _EMPTY
    for byte in text.encode("utf-8"):
        fp = (fp >> 8) ^ table[(fp ^ byte) & 0xFF]
    return fp - (1 << 64) if fp >= (1 << 63) else fp


# Parsing Canonical Form (Avro spec "Transforming into Parsing Canonical
# Form"): the only attributes that affect datum parsing, in this fixed
# order, with fullnames resolved, primitives inlined, and no whitespace.
_PCF_PRIMITIVES = {
    "null", "boolean", "int", "long", "float", "double", "bytes", "string",
}


def _pcf_fullname(name: str, namespace: str | None, enclosing: str | None) -> str:
    if "." in name:
        return name
    ns = namespace if namespace is not None else enclosing
    return f"{ns}.{name}" if ns else name


def _pcf(node, enclosing: str | None):
    if isinstance(node, str):
        if node in _PCF_PRIMITIVES:
            return node
        return _pcf_fullname(node, None, enclosing)  # named-type reference
    if isinstance(node, list):  # union
        return [_pcf(b, enclosing) for b in node]
    t = node["type"]
    if isinstance(t, (dict, list)):
        # {"type": <complex schema>} wrapper — canonicalize the payload.
        return _pcf(t, enclosing)
    if t in _PCF_PRIMITIVES:
        return t
    if t == "array":
        return {"type": "array", "items": _pcf(node["items"], enclosing)}
    if t == "map":
        return {"type": "map", "values": _pcf(node["values"], enclosing)}
    if t in ("record", "error", "enum", "fixed"):
        fullname = _pcf_fullname(node["name"], node.get("namespace"), enclosing)
        out = {"name": fullname, "type": "record" if t == "error" else t}
        if t in ("record", "error"):
            ns = fullname.rsplit(".", 1)[0] if "." in fullname else None
            out["fields"] = [
                {"name": f["name"], "type": _pcf(f["type"], ns)}
                for f in node["fields"]
            ]
        elif t == "enum":
            out["symbols"] = list(node["symbols"])
        else:
            out["size"] = int(node["size"])
        return out
    # unknown named reference spelled as {"type": "X"}
    return _pcf_fullname(t, None, enclosing)


def parsing_canonical_form(schema_json: str) -> str:
    """Avro Parsing Canonical Form of a schema: strips everything that
    does not affect parsing (doc, aliases, defaults, logical types,
    custom attributes), resolves names to fullnames, inlines primitive
    type objects, fixes attribute order, and removes whitespace —
    so equivalent schemas from different producers fingerprint
    identically (Avro spec; reference src/serialization.rs:368-440
    relies on the avro crate doing the same canonicalization)."""
    return json.dumps(
        _pcf(json.loads(schema_json), None),
        separators=(",", ":"),
        ensure_ascii=False,
    )


def schema_fingerprint(schema_json: str) -> int:
    """CRC-64-AVRO fingerprint of the schema's Parsing Canonical Form —
    the fingerprint real single-object-encoding producers put on the
    wire. Fingerprinting raw schema text would silently dead-letter
    every message from a producer that formats its schema differently."""
    return rabin_fingerprint(parsing_canonical_form(schema_json))


def soe_message(value, schema) -> bytes:
    """Encode one single-object-encoding message: marker C3 01 +
    little-endian fingerprint of the PARSING CANONICAL FORM + body
    (Avro spec; reference src/serialization.rs:161-210)."""
    schema_json = schema if isinstance(schema, str) else json.dumps(schema)
    fp = schema_fingerprint(schema_json) & 0xFFFFFFFFFFFFFFFF
    return b"\xc3\x01" + fp.to_bytes(8, "little") + encode(value, parse_schema(schema))
