"""Protobuf wire-format codec — FORMAT Protobuf / ProtobufSingle /
ProtobufList, driven by a ``format_schema = 'file.proto:Message'``
setting, like ClickHouse's schema-file formats.

Pure-Python implementation of the protobuf binary wire format
(public spec: https://protobuf.dev/programming-guides/encoding/) plus
a .proto subset parser. The reference gets Protobuf for free from
chDB's delegation (main.py:190); this package encodes/decodes at the
wire layer itself, the same architecture as formats/avro.py — rows
are already collected driver-side at this layer by definition.

Supported .proto subset (the shape CH's own format_schema examples
use): proto2/proto3 syntax headers, ``package``, ``message`` with
scalar fields, ``repeated`` scalars (packed or unpacked on read,
packed on write for numeric types), ``enum`` (transported as the
integer), nested message *types* declared inline (flattened into the
registry as Outer.Inner), and ``optional``/``required`` labels
(ignored — presence follows proto3 semantics: default values are
omitted on the wire). Unknown fields in incoming payloads are
skipped by wire type, as every conforming decoder must.

Format semantics (matching ClickHouse's documented behavior):
- ``Protobuf``: each row is one message, preceded by its varint
  length (the delimited stream python/Java ``writeDelimitedTo``
  convention CH follows).
- ``ProtobufSingle``: exactly one message, no length prefix.
- ``ProtobufList``: rows are packed as repeated field #1 ("rows")
  submessages of an implicit envelope message.
Columns are matched to fields by case-insensitive name.
"""

from __future__ import annotations

import io
import re
import struct
from dataclasses import dataclass
from typing import Any, Iterable

# ----------------------------------------------------------- proto parse

_SCALARS = {
    "double", "float", "int32", "int64", "uint32", "uint64", "sint32",
    "sint64", "fixed32", "fixed64", "sfixed32", "sfixed64", "bool",
    "string", "bytes",
}

_VARINT_TYPES = {"int32", "int64", "uint32", "uint64", "bool", "enum"}
_ZIGZAG_TYPES = {"sint32", "sint64"}
_FIXED64_TYPES = {"fixed64", "sfixed64", "double"}
_FIXED32_TYPES = {"fixed32", "sfixed32", "float"}


@dataclass
class Field:
    name: str
    number: int
    ptype: str  # scalar name, "enum", or a message type name
    repeated: bool


_COMMENT_RE = re.compile(r"//[^\n]*|/\*.*?\*/", re.DOTALL)
_FIELD_RE = re.compile(
    r"^\s*(optional|required|repeated)?\s*([\w.]+)\s+(\w+)\s*=\s*(\d+)\s*(\[[^\]]*\])?\s*;"
)


def parse_proto(text: str) -> dict[str, list[Field]]:
    """Parse the .proto subset into {message_name: [Field, ...]}.

    Nested messages register under both their bare and dotted names;
    enums register as type "enum" for their fields.
    """
    text = _COMMENT_RE.sub(" ", text)
    messages: dict[str, list[Field]] = {}
    enums: set[str] = set()
    # tokenize into a block structure by scanning braces
    i = 0
    stack: list[tuple[str, str]] = []  # (kind, name)
    buf: list[str] = []

    def flush_line(line: str) -> None:
        line = line.strip()
        if not line:
            return
        if not stack or stack[-1][0] != "message":
            return
        m = _FIELD_RE.match(line + ";")
        if not m:
            return
        label, ptype, name, number = m.group(1), m.group(2), m.group(3), m.group(4)
        base = ptype.split(".")[-1]
        if base in enums:
            ptype = "enum"
        elif base not in _SCALARS:
            ptype = base  # message-typed field (resolved at codec time)
        else:
            ptype = base
        msg_name = ".".join(n for k, n in stack if k == "message")
        messages.setdefault(msg_name, []).append(
            Field(name, int(number), ptype, label == "repeated")
        )

    while i < len(text):
        ch = text[i]
        if ch == "{":
            header = "".join(buf).strip()
            buf = []
            mm = re.search(r"(message|enum|oneof)\s+(\w+)\s*$", header)
            if mm:
                kind, name = mm.group(1), mm.group(2)
                if kind == "enum":
                    enums.add(name)
                if kind == "message":
                    dotted = ".".join(
                        [n for k, n in stack if k == "message"] + [name]
                    )
                    messages.setdefault(dotted, [])
                stack.append((kind, name))
            else:
                stack.append(("block", ""))
        elif ch == "}":
            flushed = "".join(buf)
            for line in flushed.split(";"):
                flush_line(line)
            buf = []
            if stack:
                stack.pop()
        elif ch == ";":
            buf.append(ch)
            flushed = "".join(buf)
            for line in flushed.split(";"):
                flush_line(line)
            buf = []
        else:
            buf.append(ch)
        i += 1
    # register bare aliases for nested names (Outer.Inner -> Inner) when
    # unambiguous
    for dotted in list(messages):
        bare = dotted.split(".")[-1]
        if bare not in messages:
            messages[bare] = messages[dotted]
    return messages


# ----------------------------------------------------------- primitives


def _write_varint(buf: io.BytesIO, n: int) -> None:
    n &= (1 << 64) - 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    acc = 0
    shift = 0
    while True:
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return acc, pos
        shift += 7
        if shift > 70:
            raise ValueError("malformed varint")


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _wire_type(ptype: str) -> int:
    if ptype in _VARINT_TYPES or ptype in _ZIGZAG_TYPES:
        return 0
    if ptype in _FIXED64_TYPES:
        return 1
    if ptype in _FIXED32_TYPES:
        return 5
    return 2  # string/bytes/message/packed


def _encode_scalar(buf: io.BytesIO, ptype: str, v: Any) -> None:
    if ptype in ("int32", "int64", "uint32", "uint64", "enum"):
        _write_varint(buf, int(v))
    elif ptype == "bool":
        _write_varint(buf, 1 if v else 0)
    elif ptype in _ZIGZAG_TYPES:
        _write_varint(buf, _zigzag(int(v)))
    elif ptype == "double":
        buf.write(struct.pack("<d", float(v)))
    elif ptype == "float":
        buf.write(struct.pack("<f", float(v)))
    elif ptype == "fixed64":
        buf.write(struct.pack("<Q", int(v) & ((1 << 64) - 1)))
    elif ptype == "sfixed64":
        buf.write(struct.pack("<q", int(v)))
    elif ptype == "fixed32":
        buf.write(struct.pack("<I", int(v) & ((1 << 32) - 1)))
    elif ptype == "sfixed32":
        buf.write(struct.pack("<i", int(v)))
    elif ptype == "string":
        raw = str(v).encode("utf-8")
        _write_varint(buf, len(raw))
        buf.write(raw)
    elif ptype == "bytes":
        raw = v if isinstance(v, (bytes, bytearray)) else str(v).encode(
            "utf-8", "surrogateescape"
        )
        _write_varint(buf, len(raw))
        buf.write(bytes(raw))
    else:
        raise ValueError(f"unsupported protobuf field type: {ptype}")


def _is_default(ptype: str, v: Any) -> bool:
    if v is None:
        return True
    if ptype == "string":
        return v == ""
    if ptype == "bytes":
        return len(v) == 0
    if ptype == "bool":
        return not v
    if ptype in ("double", "float"):
        return float(v) == 0.0
    try:
        return int(v) == 0
    except (TypeError, ValueError):
        return False


def encode_message(fields: list[Field], values: dict[str, Any]) -> bytes:
    """One message from a {lowercase field name: value} dict; proto3
    presence — default-valued singular fields are omitted."""
    buf = io.BytesIO()
    for f in sorted(fields, key=lambda f: f.number):
        v = values.get(f.name.lower())
        if f.repeated:
            items = list(v) if v is not None else []
            if not items:
                continue
            wt = _wire_type(f.ptype)
            if wt in (0, 1, 5):  # packed numeric
                inner = io.BytesIO()
                for item in items:
                    _encode_scalar(inner, f.ptype, item)
                raw = inner.getvalue()
                _write_varint(buf, (f.number << 3) | 2)
                _write_varint(buf, len(raw))
                buf.write(raw)
            else:  # strings/bytes repeat the tag
                for item in items:
                    _write_varint(buf, (f.number << 3) | 2)
                    _encode_scalar(buf, f.ptype, item)
        else:
            if _is_default(f.ptype, v):
                continue
            _write_varint(buf, (f.number << 3) | _wire_type(f.ptype))
            _encode_scalar(buf, f.ptype, v)
    return buf.getvalue()


def _decode_scalar(ptype: str, wt: int, data: bytes, pos: int) -> tuple[Any, int]:
    if wt == 0:
        n, pos = _read_varint(data, pos)
        if ptype in _ZIGZAG_TYPES:
            return _unzigzag(n), pos
        if ptype == "bool":
            return bool(n), pos
        if ptype in ("int32", "int64"):  # two's-complement reinterpret
            if n >= 1 << 63:
                n -= 1 << 64
            return n, pos
        return n, pos
    if wt == 1:
        v = struct.unpack_from(
            "<d" if ptype == "double" else ("<q" if ptype == "sfixed64" else "<Q"),
            data, pos,
        )[0]
        return v, pos + 8
    if wt == 5:
        v = struct.unpack_from(
            "<f" if ptype == "float" else ("<i" if ptype == "sfixed32" else "<I"),
            data, pos,
        )[0]
        return v, pos + 4
    if wt == 2:
        ln, pos = _read_varint(data, pos)
        raw = data[pos:pos + ln]
        pos += ln
        if ptype == "string":
            return raw.decode("utf-8", "replace"), pos
        return bytes(raw), pos
    raise ValueError(f"unsupported wire type {wt}")


def decode_message(fields: list[Field], data: bytes) -> dict[str, Any]:
    by_num = {f.number: f for f in fields}
    out: dict[str, Any] = {}
    for f in fields:
        if f.repeated:
            out[f.name] = []
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        num, wt = key >> 3, key & 7
        f = by_num.get(num)
        if f is None:  # unknown field: skip by wire type
            if wt == 0:
                _, pos = _read_varint(data, pos)
            elif wt == 1:
                pos += 8
            elif wt == 5:
                pos += 4
            elif wt == 2:
                ln, pos = _read_varint(data, pos)
                pos += ln
            else:
                raise ValueError(f"cannot skip wire type {wt}")
            continue
        if f.repeated and wt == 2 and _wire_type(f.ptype) in (0, 1, 5):
            # packed
            ln, pos = _read_varint(data, pos)
            end = pos + ln
            while pos < end:
                v, pos = _decode_scalar(f.ptype, _wire_type(f.ptype), data, pos)
                out[f.name].append(v)
        else:
            v, pos = _decode_scalar(f.ptype, wt, data, pos)
            if f.repeated:
                out[f.name].append(v)
            else:
                out[f.name] = v
    return out


# ----------------------------------------------------------- row streams


def _coerce(ptype: str, ch_type: str, v: Any) -> Any:
    """CH value → protobuf-encodable value (datetime/date → epoch
    numbers when the field is numeric, bools, Decimal → float/str)."""
    if v is None:
        return None
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, _dt.datetime):
        if ptype == "string":
            return v.strftime("%Y-%m-%d %H:%M:%S")
        return int(v.timestamp())
    if isinstance(v, _dt.date):
        if ptype == "string":
            return v.isoformat()
        return (v - _dt.date(1970, 1, 1)).days
    if isinstance(v, _decimal.Decimal):
        return str(v) if ptype == "string" else float(v)
    return v


def encode_rows(
    fields: list[Field],
    columns: list[str],
    ch_types: list[str],
    rows: Iterable[tuple],
    mode: str = "delimited",
) -> bytes:
    out = io.BytesIO()
    fmap = {f.name.lower(): f for f in fields}
    for row in rows:
        values = {}
        for col, cht, v in zip(columns, ch_types, row):
            f = fmap.get(col.lower())
            if f is None:
                continue
            if f.repeated and isinstance(v, (list, tuple)):
                values[col.lower()] = [_coerce(f.ptype, cht, x) for x in v]
            else:
                values[col.lower()] = _coerce(f.ptype, cht, v)
        msg = encode_message(fields, values)
        if mode == "single":
            out.write(msg)
            break  # ProtobufSingle: exactly one message
        elif mode == "list":
            _write_varint(out, (1 << 3) | 2)  # envelope field #1 "rows"
            _write_varint(out, len(msg))
            out.write(msg)
        else:
            _write_varint(out, len(msg))
            out.write(msg)
    return out.getvalue()


def decode_rows(
    fields: list[Field], data: bytes, mode: str = "delimited"
) -> tuple[list[str], list[tuple]]:
    names = [f.name for f in fields]
    rows: list[tuple] = []
    if mode == "single":
        d = decode_message(fields, data)
        rows.append(tuple(d.get(n) for n in names))
        return names, rows
    pos = 0
    while pos < len(data):
        if mode == "list":
            key, pos = _read_varint(data, pos)
            if key >> 3 != 1:
                raise ValueError("ProtobufList envelope: expected field 1")
        ln, pos = _read_varint(data, pos)
        d = decode_message(fields, data[pos:pos + ln])
        pos += ln
        rows.append(tuple(d.get(n) for n in names))
    return names, rows


# ----------------------------------------------------------- schema files


def resolve_schema(
    format_schema: str, schema_dir: str
) -> tuple[list[Field], str]:
    """``'file.proto:Message'`` → (fields, message_name). The file is
    resolved inside ``schema_dir`` only (realpath-confined — a client-
    controlled path must not read arbitrary server files; CH confines
    to format_schema_path the same way)."""
    import os

    if ":" not in format_schema:
        raise ValueError(
            "format_schema requires 'file.proto:MessageName'"
        )
    fname, _, msg = format_schema.rpartition(":")
    if not fname.endswith(".proto"):
        fname += ".proto"
    root = os.path.realpath(schema_dir)
    path = os.path.realpath(os.path.join(root, fname))
    if not (path == root or path.startswith(root + os.sep)):
        raise ValueError(f"format schema path escapes schema dir: {fname}")
    with open(path, "r", encoding="utf-8") as f:
        messages = parse_proto(f.read())
    if msg not in messages:
        raise ValueError(f"message '{msg}' not found in {fname}")
    fields = [f for f in messages[msg] if f.ptype in _SCALARS or f.ptype == "enum"]
    if not fields:
        raise ValueError(f"message '{msg}' has no encodable scalar fields")
    return fields, msg
