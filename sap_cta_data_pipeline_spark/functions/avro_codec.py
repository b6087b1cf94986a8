"""Apache Avro object-container codec — public wire format, stdlib-only.

Iceberg's manifest lists and manifests are Avro container files; the
container has no avro/fastavro package (verified via importlib.util
.find_spec in rounds 5-6), so — the same from-scratch discipline as the
WAV/PGM/BMP codecs and the Delta DV bitmaps — this implements the subset
of the published Avro 1.11 spec those files need, reader AND writer:

- **Container layout**: magic ``Obj\\x01``, a file-metadata map (must
  carry ``avro.schema`` JSON; ``avro.codec`` null/deflate), a 16-byte
  sync marker, then data blocks of ``[long count][long byte-size]
  [payload][sync]``. Deflate payloads are raw zlib streams (RFC 1951,
  ``zlib.compressobj(wbits=-15)``) per the spec.
- **Value encoding**: zigzag-varint int/long, little-endian IEEE
  float/double, length-prefixed bytes/string, 1-byte boolean, records as
  field-sequential concatenation, unions as zigzag branch index + value,
  arrays/maps as count-prefixed blocks (negative count ⇒ a byte-size
  long follows — emitted by some writers; the reader handles both),
  enums as zigzag index, fixed as raw bytes. The writer encodes a
  record field absent from the value as the field's declared
  ``default``; a field without one must be present.

Decoded values are plain Python (records → dicts keyed by field name),
so the Iceberg reader (operators/iceberg_reader.py) consumes them with
no schema classes. Logical types are left raw (Iceberg's reader applies
its own meaning to e.g. timestamp-micros longs).

Scale note: manifests are METADATA (KBs-MBs; one record per data file),
decoded driver-side exactly like Delta's log replay — the data scan they
drive is the distributed half.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

_MAGIC = b"Obj\x01"


# ------------------------------------------------------------- primitives


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: io.BytesIO) -> int:
    u, shift = 0, 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise ValueError("truncated Avro varint")
        b = raw[0]
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1)


# ------------------------------------------------------------ schema walk


def _resolve(schema, named: dict):
    """Resolve a schema node: named-type references and union/list forms
    stay as-is; registers records/enums/fixed by full name."""
    if isinstance(schema, str) and schema in named:
        return named[schema]
    return schema


def _register(schema, named: dict) -> None:
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed"):
            name = schema["name"]
            ns = schema.get("namespace")
            named[name] = schema
            if ns:
                named[f"{ns}.{name}"] = schema
        if t == "record":
            for f in schema["fields"]:
                _register(f["type"], named)
        elif t == "array":
            _register(schema["items"], named)
        elif t == "map":
            _register(schema["values"], named)
    elif isinstance(schema, list):
        for s in schema:
            _register(s, named)


_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


def _decode(schema, buf: io.BytesIO, named: dict):
    schema = _resolve(schema, named)
    if isinstance(schema, dict) and schema.get("type") in _PRIMITIVES:
        # {"type": "long", "logicalType": ...} etc. — attributes never
        # change the wire format; decode as the primitive
        schema = schema["type"]
    if isinstance(schema, str):
        if schema == "null":
            return None
        if schema == "boolean":
            return buf.read(1) != b"\x00"
        if schema in ("int", "long"):
            return _zigzag_decode(buf)
        if schema == "float":
            return struct.unpack("<f", buf.read(4))[0]
        if schema == "double":
            return struct.unpack("<d", buf.read(8))[0]
        if schema in ("bytes", "string"):
            n = _zigzag_decode(buf)
            raw = buf.read(n)
            return raw.decode() if schema == "string" else raw
        raise ValueError(f"unknown Avro type {schema!r}")
    if isinstance(schema, list):  # union: zigzag branch index
        idx = _zigzag_decode(buf)
        return _decode(schema[idx], buf, named)
    t = schema["type"]
    if t == "record":
        return {
            f["name"]: _decode(f["type"], buf, named) for f in schema["fields"]
        }
    if t == "array":
        out = []
        while True:
            n = _zigzag_decode(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                _zigzag_decode(buf)
                n = -n
            out.extend(_decode(schema["items"], buf, named) for _ in range(n))
    if t == "map":
        out = {}
        while True:
            n = _zigzag_decode(buf)
            if n == 0:
                return out
            if n < 0:
                _zigzag_decode(buf)
                n = -n
            for _ in range(n):
                k = _decode("string", buf, named)
                out[k] = _decode(schema["values"], buf, named)
    if t == "enum":
        return schema["symbols"][_zigzag_decode(buf)]
    if t == "fixed":
        return buf.read(schema["size"])
    return _decode(t, buf, named)  # {"type": <nested schema>}


def _encode(schema, value, out: bytearray, named: dict) -> None:
    schema = _resolve(schema, named)
    if isinstance(schema, dict) and schema.get("type") in _PRIMITIVES:
        schema = schema["type"]
    if isinstance(schema, str):
        if schema == "null":
            return
        if schema == "boolean":
            out.append(1 if value else 0)
        elif schema in ("int", "long"):
            out += _zigzag_encode(int(value))
        elif schema == "float":
            out += struct.pack("<f", value)
        elif schema == "double":
            out += struct.pack("<d", value)
        elif schema == "string":
            raw = value.encode()
            out += _zigzag_encode(len(raw))
            out += raw
        elif schema == "bytes":
            out += _zigzag_encode(len(value))
            out += value
        else:
            raise ValueError(f"unknown Avro type {schema!r}")
        return
    if isinstance(schema, list):  # union: pick the branch matching value
        idx = _union_branch(schema, value, named)
        out += _zigzag_encode(idx)
        _encode(schema[idx], value, out, named)
        return
    t = schema["type"]
    if t == "record":
        for f in schema["fields"]:
            # a field that declares a default may be absent from the value
            if f["name"] not in value and "default" in f:
                _encode(f["type"], f["default"], out, named)
            else:
                _encode(f["type"], value[f["name"]], out, named)
    elif t == "array":
        if value:
            out += _zigzag_encode(len(value))
            for v in value:
                _encode(schema["items"], v, out, named)
        out += _zigzag_encode(0)
    elif t == "map":
        if value:
            out += _zigzag_encode(len(value))
            for k, v in value.items():
                _encode("string", k, out, named)
                _encode(schema["values"], v, out, named)
        out += _zigzag_encode(0)
    elif t == "enum":
        out += _zigzag_encode(schema["symbols"].index(value))
    elif t == "fixed":
        assert len(value) == schema["size"]
        out += bytes(value)
    else:
        _encode(t, value, out, named)


def _union_branch(schemas: list, value, named: dict) -> int:
    def kind(s):
        s = _resolve(s, named)
        if isinstance(s, dict):
            return s.get("type")
        return s

    for i, s in enumerate(schemas):
        k = kind(s)
        if value is None and k == "null":
            return i
        if value is not None and k != "null":
            return i
    raise ValueError(f"no union branch for {value!r} in {schemas}")


# --------------------------------------------------------------- container


def read_container(path: str) -> tuple[dict, list]:
    """Read an Avro object-container file → (writer schema, records)."""
    with open(path, "rb") as fh:
        raw = fh.read()
    return read_container_bytes(raw, path)


def read_container_bytes(raw: bytes, path: str = "<bytes>") -> tuple[dict, list]:
    """Container decode from in-memory bytes — the EXECUTOR-side entry
    point (binaryFile scan + mapInPandas decode, round 8): container
    payloads never pass through the driver."""
    if raw[:4] != _MAGIC:
        raise ValueError(f"not an Avro container: bad magic in {path}")
    buf = io.BytesIO(raw[4:])
    meta = _decode({"type": "map", "values": "bytes"}, buf, {})
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec {codec!r} in {path}")
    sync = buf.read(16)
    named: dict = {}
    _register(schema, named)
    records = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = _zigzag_decode(buf)
        size = _zigzag_decode(buf)
        payload = buf.read(size)
        if codec == "deflate":
            payload = zlib.decompress(payload, wbits=-15)
        block = io.BytesIO(payload)
        for _ in range(count):
            records.append(_decode(schema, block, named))
        if buf.read(16) != sync:
            raise ValueError(f"Avro sync-marker mismatch in {path}")
    return schema, records


def write_container(
    path: str, schema: dict, records: list, codec: str = "deflate"
) -> None:
    """Write records as a single-block Avro object-container file."""
    named: dict = {}
    _register(schema, named)
    body = bytearray()
    for rec in records:
        _encode(schema, rec, body, named)
    payload = bytes(body)
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        payload = comp.compress(payload) + comp.flush()
    elif codec != "null":
        raise ValueError(f"unsupported Avro codec {codec!r}")
    sync = b"\x13" * 8 + b"\x37" * 8  # any 16 bytes; fixed for determinism
    out = bytearray(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": codec.encode(),
    }
    _encode({"type": "map", "values": "bytes"}, meta, out, {})
    out += sync
    out += _zigzag_encode(len(records))
    out += _zigzag_encode(len(payload))
    out += payload
    out += sync
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(bytes(out))


def encode_record(schema: dict, value) -> bytes:
    """Binary-encode ONE datum against ``schema`` (no container framing) —
    the per-record payload shape Hudi log data blocks carry (round 8)."""
    named: dict = {}
    _register(schema, named)
    out = bytearray()
    _encode(schema, value, out, named)
    return bytes(out)


def decode_record(schema: dict, data: bytes):
    """Decode ONE binary-encoded datum against ``schema`` (inverse of
    ``encode_record``)."""
    named: dict = {}
    _register(schema, named)
    return _decode(schema, io.BytesIO(data), named)
