"""Cap'n Proto codec — FORMAT CapnProto, driven by a
``format_schema = 'file.capnp:Message'`` setting, like ClickHouse's
schema-file formats.

Pure-Python implementation of the Cap'n Proto serialization format
(public spec: https://capnproto.org/encoding.html) plus a .capnp
schema subset parser. The reference gets CapnProto for free from
chDB's delegation (main.py:190); this package encodes/decodes at the
wire layer itself, the same architecture as formats/protobuf.py —
rows are already collected driver-side at this layer by definition.

Supported .capnp subset (the shape CH's format_schema examples use):
file ID line, ``struct`` with scalar fields (Bool, Int8..Int64,
UInt8..UInt64, Float32/Float64, Text, Data), ``List(<numeric
scalar>)`` and ``List(Text)``, and ``enum`` fields (transported as
their UInt16 ordinal). Nested structs, groups, unions, generics,
interfaces, and annotations are out of scope and raise a clear error
if a field references them.

Field positions follow Cap'n Proto's canonical layout algorithm
(fields processed in ordinal order; each scalar takes the first
available hole of its size, holes split largest-first; pointers
assigned sequentially), so the wire layout matches what ``capnp
compile`` would produce for the same struct. Values are stored XORed
with their default; explicit defaults are not supported, so storage
is plain (default = 0).

Framing (matching ClickHouse's documented behavior): each row is one
standard unpacked message — segment table (single segment) + root
struct — concatenated on the stream; on input, messages are parsed
sequentially until the payload is exhausted.
"""

from __future__ import annotations

import io
import re
import struct as _struct
from dataclasses import dataclass
from typing import Any, Iterable

# bit widths per scalar type; Text/Data/List are pointers
_BITS = {
    "bool": 1,
    "int8": 8, "uint8": 8,
    "int16": 16, "uint16": 16, "enum": 16,
    "int32": 32, "uint32": 32, "float32": 32,
    "int64": 64, "uint64": 64, "float64": 64,
}
_SIGNED = {"int8", "int16", "int32", "int64"}
_FLOATS = {"float32", "float64"}
# list element-size codes (spec §lists)
_ELEM_SIZE_CODE = {1: 1, 8: 2, 16: 3, 32: 4, 64: 5}
_CODE_BITS = {1: 1, 2: 8, 3: 16, 4: 32, 5: 64}


@dataclass
class Field:
    name: str
    ordinal: int
    ctype: str          # lowercase scalar name, "text", "data",
    # "list:<scalar>", or "list:text"
    # layout (filled by layout_struct):
    bit_offset: int = -1   # scalars: offset in bits into the data section
    ptr_index: int = -1    # pointers: index into the pointer section

    @property
    def is_pointer(self) -> bool:
        return self.ctype in ("text", "data") or self.ctype.startswith("list:")


# ----------------------------------------------------------- schema parse

_COMMENT_RE = re.compile(r"#[^\n]*")
_STRUCT_RE = re.compile(r"\bstruct\s+(\w+)\s*\{")
_ENUM_RE = re.compile(r"\benum\s+(\w+)\s*\{")
_FIELD_RE = re.compile(
    r"(\w+)\s*@(\d+)\s*:\s*(List\s*\(\s*[\w.]+\s*\)|[\w.]+)\s*(=[^;]*)?;"
)

_TYPE_MAP = {
    "bool": "bool", "int8": "int8", "int16": "int16", "int32": "int32",
    "int64": "int64", "uint8": "uint8", "uint16": "uint16",
    "uint32": "uint32", "uint64": "uint64", "float32": "float32",
    "float64": "float64", "text": "text", "data": "data",
}


def parse_capnp(text: str) -> dict[str, list[Field]]:
    """Parse the .capnp subset into {struct_name: [Field, ...]} with
    fields in ordinal order."""
    text = _COMMENT_RE.sub(" ", text)
    enums: set[str] = set()
    for m in _ENUM_RE.finditer(text):
        enums.add(m.group(1))
    structs: dict[str, list[Field]] = {}
    for m in _STRUCT_RE.finditer(text):
        name = m.group(1)
        # body = balanced-brace block after the match
        depth = 0
        i = m.end() - 1
        start = m.end()
        while i < len(text):
            if text[i] == "{":
                depth += 1
            elif text[i] == "}":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        body = text[start:i]
        fields: list[Field] = []
        for fm in _FIELD_RE.finditer(body):
            fname, ordinal, ftype = fm.group(1), int(fm.group(2)), fm.group(3)
            lm = re.match(r"List\s*\(\s*([\w.]+)\s*\)", ftype)
            if lm:
                et = lm.group(1).split(".")[-1]
                etl = _TYPE_MAP.get(et.lower())
                if etl == "text":
                    ctype = "list:text"
                elif etl in _BITS:
                    ctype = f"list:{etl}"
                elif et in enums:
                    ctype = "list:enum"
                else:
                    raise ValueError(
                        f"unsupported capnp list element type: {et}"
                    )
            else:
                base = ftype.split(".")[-1]
                ctype = _TYPE_MAP.get(base.lower())
                if ctype is None:
                    if base in enums:
                        ctype = "enum"
                    elif base.lower() == "void":
                        continue  # Void carries no data
                    else:
                        raise ValueError(
                            f"unsupported capnp field type: {ftype} "
                            "(nested structs/groups are out of scope)"
                        )
            fields.append(Field(fname, ordinal, ctype))
        fields.sort(key=lambda f: f.ordinal)
        structs[name] = fields
    return structs


# ----------------------------------------------------------- layout

def layout_struct(fields: list[Field]) -> tuple[int, int]:
    """Assign bit offsets / pointer indices with Cap'n Proto's canonical
    hole-filling algorithm; returns (data_words, ptr_count).

    Processing in ordinal order: a scalar of size 2^n bits takes a hole
    of exactly that size if one exists, else splits the smallest larger
    hole, else extends the data section by one word. At most one hole
    of each size exists at any time (capnp layout invariant)."""
    holes: dict[int, int] = {}  # size_bits -> bit offset (aligned to size)
    data_bits = 0
    ptr_count = 0
    for f in sorted(fields, key=lambda f: f.ordinal):
        if f.is_pointer:
            f.ptr_index = ptr_count
            ptr_count += 1
            continue
        size = _BITS[f.ctype]
        if size in holes:
            f.bit_offset = holes.pop(size)
        else:
            bigger = sorted(s for s in holes if s > size)
            if bigger:
                h = bigger[0]
                off = holes.pop(h)
                f.bit_offset = off
                # split: holes of size, 2*size, ... h/2 after the slot
                s = size
                while s < h:
                    holes[s] = off + s
                    s *= 2
            else:
                f.bit_offset = data_bits
                s = size
                while s < 64:
                    holes[s] = data_bits + s
                    s *= 2
                data_bits += 64
    return data_bits // 64, ptr_count


# ----------------------------------------------------------- primitives

def _set_bits(data: bytearray, bit_off: int, size: int, value: int) -> None:
    """Write `size` bits of `value` at `bit_off` (little-endian)."""
    if size == 1:
        if value:
            data[bit_off >> 3] |= 1 << (bit_off & 7)
        return
    byte_off = bit_off >> 3
    nbytes = size >> 3
    data[byte_off:byte_off + nbytes] = int(value).to_bytes(
        nbytes, "little", signed=False
    )


def _get_bits(data: bytes, bit_off: int, size: int) -> int:
    if size == 1:
        if (bit_off >> 3) >= len(data):
            return 0
        return (data[bit_off >> 3] >> (bit_off & 7)) & 1
    byte_off = bit_off >> 3
    nbytes = size >> 3
    raw = data[byte_off:byte_off + nbytes]
    if len(raw) < nbytes:  # beyond the struct's data section: default 0
        raw = raw + b"\x00" * (nbytes - len(raw))
    return int.from_bytes(raw, "little", signed=False)


def _scalar_to_word(ctype: str, v: Any) -> int:
    size = _BITS[ctype]
    if ctype == "bool":
        return 1 if v else 0
    if ctype == "float32":
        return _struct.unpack("<I", _struct.pack("<f", float(v)))[0]
    if ctype == "float64":
        return _struct.unpack("<Q", _struct.pack("<d", float(v)))[0]
    n = int(v)
    return n & ((1 << size) - 1)


def _word_to_scalar(ctype: str, n: int) -> Any:
    size = _BITS[ctype]
    if ctype == "bool":
        return bool(n)
    if ctype == "float32":
        return _struct.unpack("<f", _struct.pack("<I", n))[0]
    if ctype == "float64":
        return _struct.unpack("<d", _struct.pack("<Q", n))[0]
    if ctype in _SIGNED and n >= (1 << (size - 1)):
        n -= 1 << size
    return n


def _struct_ptr(offset_words: int, data_words: int, ptr_words: int) -> int:
    return (
        ((offset_words & 0x3FFFFFFF) << 2)
        | ((data_words & 0xFFFF) << 32)
        | ((ptr_words & 0xFFFF) << 48)
    )


def _list_ptr(offset_words: int, size_code: int, count: int) -> int:
    return (
        1
        | ((offset_words & 0x3FFFFFFF) << 2)
        | ((size_code & 7) << 32)
        | ((count & 0x1FFFFFFF) << 35)
    )


def _words(nbytes: int) -> int:
    return (nbytes + 7) // 8


# ----------------------------------------------------------- encode

def _coerce(ctype: str, v: Any) -> Any:
    """CH value → capnp-encodable value (datetime/date → epoch numbers
    when the field is numeric, Decimal → float/str)."""
    if v is None:
        return None
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, _dt.datetime):
        if ctype == "text":
            return v.strftime("%Y-%m-%d %H:%M:%S")
        return int(v.timestamp())
    if isinstance(v, _dt.date):
        if ctype == "text":
            return v.isoformat()
        return (v - _dt.date(1970, 1, 1)).days
    if isinstance(v, _decimal.Decimal):
        return str(v) if ctype == "text" else float(v)
    return v


def _encode_pointer_content(
    ctype: str, v: Any, rel_base: int, tail: list[bytes], tail_words: int
) -> int:
    """Append the dynamic content for a pointer field to `tail`; returns
    the pointer word. `rel_base` = word index just past the pointer
    word; `tail_words` = word index where the new content will land."""
    if ctype == "text":
        raw = ("" if v is None else str(v)).encode("utf-8") + b"\x00"
        tail.append(raw + b"\x00" * (_words(len(raw)) * 8 - len(raw)))
        return _list_ptr(tail_words - rel_base, 2, len(raw))
    if ctype == "data":
        raw = v if isinstance(v, (bytes, bytearray)) else (
            b"" if v is None else str(v).encode("utf-8", "surrogateescape")
        )
        raw = bytes(raw)
        tail.append(raw + b"\x00" * (_words(len(raw)) * 8 - len(raw)))
        return _list_ptr(tail_words - rel_base, 2, len(raw))
    if ctype == "list:text":
        items = [("" if x is None else str(x)) for x in (v or [])]
        # pointer list: count pointer words, then each text's bytes
        nptr = len(items)
        ptr_words = []
        sub_tail: list[bytes] = []
        sub_off = nptr  # words past the pointer list start
        for j, s in enumerate(items):
            raw = s.encode("utf-8") + b"\x00"
            padded = raw + b"\x00" * (_words(len(raw)) * 8 - len(raw))
            # sub-pointer j sits at word j of the list; content at
            # list_start + sub_off
            ptr_words.append(_list_ptr(sub_off - (j + 1), 2, len(raw)))
            sub_tail.append(padded)
            sub_off += _words(len(raw))
        blob = b"".join(
            _struct.pack("<Q", w) for w in ptr_words
        ) + b"".join(sub_tail)
        tail.append(blob)
        return _list_ptr(tail_words - rel_base, 6, nptr)
    if ctype.startswith("list:"):
        et = ctype.split(":", 1)[1]
        if et == "enum":
            et = "enum"
        bits = _BITS[et]
        items = list(v or [])
        if bits == 1:
            nbytes = _words((len(items) + 7) // 8) * 8
            buf = bytearray(max(nbytes, 8) if items else 0)
            for j, x in enumerate(items):
                if x:
                    buf[j >> 3] |= 1 << (j & 7)
            blob = bytes(buf)
        else:
            raw = b"".join(
                int(_scalar_to_word(et, x)).to_bytes(bits // 8, "little")
                for x in items
            )
            blob = raw + b"\x00" * (_words(len(raw)) * 8 - len(raw))
        tail.append(blob)
        return _list_ptr(
            tail_words - rel_base, _ELEM_SIZE_CODE[bits], len(items)
        )
    raise ValueError(f"unsupported capnp pointer type: {ctype}")


def encode_message(fields: list[Field], data_words: int, ptr_count: int,
                   values: dict[str, Any]) -> bytes:
    """One framed message (segment table + single segment) from a
    {lowercase field name: value} dict."""
    data = bytearray(data_words * 8)
    ptrs = [0] * ptr_count
    tail: list[bytes] = []
    tail_words = 1 + data_words + ptr_count  # absolute word index in segment
    for f in fields:
        v = values.get(f.name.lower())
        if f.is_pointer:
            if v is None and f.ctype in ("text", "data"):
                continue  # null pointer
            if v is None:
                continue
            wp = 1 + data_words + f.ptr_index  # absolute pointer word idx
            before = sum(_words(len(b)) for b in tail)
            ptrs[f.ptr_index] = _encode_pointer_content(
                f.ctype, v, wp + 1,
                tail, 1 + data_words + ptr_count + before,
            )
        else:
            if v is None:
                continue
            _set_bits(data, f.bit_offset, _BITS[f.ctype],
                      _scalar_to_word(f.ctype, v))
    seg = io.BytesIO()
    seg.write(_struct.pack("<Q", _struct_ptr(0, data_words, ptr_count)))
    seg.write(bytes(data))
    for p in ptrs:
        seg.write(_struct.pack("<Q", p))
    for b in tail:
        seg.write(b)
    body = seg.getvalue()
    # segment table: 1 segment
    return _struct.pack("<II", 0, len(body) // 8) + body


# ----------------------------------------------------------- decode

def _read_list(seg: bytes, ptr_word_idx: int, ptr: int) -> Any:
    kind = ptr & 3
    if ptr == 0:
        return None
    if kind != 1:
        raise ValueError(f"expected list pointer, got kind {kind}")
    off = (ptr >> 2) & 0x3FFFFFFF
    if off >= 1 << 29:
        off -= 1 << 30
    code = (ptr >> 32) & 7
    count = (ptr >> 35) & 0x1FFFFFFF
    start = (ptr_word_idx + 1 + off) * 8
    if start < 0:
        raise ValueError("capnp list pointer targets before segment start")
    # Bounds-check BEFORE materializing: the element count comes from
    # client-controlled wire bytes, and Python slices clamp silently —
    # int.from_bytes(b"") == 0 would fabricate up to 2^29 zeros (a
    # multi-GB list) from an 8-byte pointer.
    if code == 2:  # bytes
        if start + count > len(seg):
            raise ValueError("capnp data list exceeds segment bounds")
        return seg[start:start + count]
    if code == 6:  # pointer list (List(Text))
        if start + count * 8 > len(seg):
            raise ValueError("capnp pointer list exceeds segment bounds")
        out = []
        for j in range(count):
            sub_idx = (start // 8) + j
            sub = _struct.unpack_from("<Q", seg, sub_idx * 8)[0]
            raw = _read_list(seg, sub_idx, sub)
            out.append(
                None if raw is None
                else bytes(raw[:-1]).decode("utf-8", "replace")
            )
        return out
    if code == 1:  # bit list
        if start + (count + 7) // 8 > len(seg):
            raise ValueError("capnp bit list exceeds segment bounds")
        return [
            bool((seg[start + (j >> 3)] >> (j & 7)) & 1) for j in range(count)
        ]
    bits = _CODE_BITS.get(code)
    if bits is None:
        raise ValueError(f"unsupported list element size code {code}")
    nb = bits // 8
    if start + count * nb > len(seg):
        raise ValueError("capnp scalar list exceeds segment bounds")
    return [
        int.from_bytes(seg[start + j * nb:start + (j + 1) * nb], "little")
        for j in range(count)
    ]


def decode_message(
    fields: list[Field], data: bytes, pos: int
) -> tuple[dict[str, Any], int]:
    """Parse one framed message starting at `pos`; returns (values, new
    pos)."""
    nseg_m1, = _struct.unpack_from("<I", data, pos)
    nseg = nseg_m1 + 1
    sizes = _struct.unpack_from(f"<{nseg}I", data, pos + 4)
    hdr = 4 + 4 * nseg
    hdr += (-hdr) % 8
    seg_start = pos + hdr
    if nseg != 1:
        raise ValueError("multi-segment capnp messages are not supported")
    seg_len = sizes[0] * 8
    seg = data[seg_start:seg_start + seg_len]
    root, = _struct.unpack_from("<Q", seg, 0)
    if root & 3 != 0:
        raise ValueError("root pointer is not a struct pointer")
    off = (root >> 2) & 0x3FFFFFFF
    if off >= 1 << 29:
        off -= 1 << 30
    dw = (root >> 32) & 0xFFFF
    pw = (root >> 48) & 0xFFFF
    data_start = (1 + off) * 8
    sdata = seg[data_start:data_start + dw * 8]
    out: dict[str, Any] = {}
    for f in fields:
        if f.is_pointer:
            if f.ptr_index >= pw:
                out[f.name] = None
                continue
            pidx = (data_start // 8) + dw + f.ptr_index
            ptr, = _struct.unpack_from("<Q", seg, pidx * 8)
            raw = _read_list(seg, pidx, ptr)
            if f.ctype == "text":
                out[f.name] = (
                    None if raw is None
                    else bytes(raw[:-1]).decode("utf-8", "replace")
                )
            elif f.ctype == "data":
                out[f.name] = None if raw is None else bytes(raw)
            elif f.ctype == "list:text":
                out[f.name] = raw if raw is not None else []
            else:
                et = f.ctype.split(":", 1)[1]
                if raw is None:
                    out[f.name] = []
                elif et == "bool" or _BITS.get(et) == 1:
                    out[f.name] = raw
                else:
                    out[f.name] = [
                        _word_to_scalar(et, n) if not isinstance(n, bool)
                        else n
                        for n in raw
                    ]
        else:
            n = _get_bits(sdata, f.bit_offset, _BITS[f.ctype])
            out[f.name] = _word_to_scalar(f.ctype, n)
    return out, seg_start + seg_len


# ----------------------------------------------------------- row streams

def encode_rows(
    fields: list[Field],
    columns: list[str],
    ch_types: list[str],
    rows: Iterable[tuple],
) -> bytes:
    data_words, ptr_count = layout_struct(fields)
    fmap = {f.name.lower(): f for f in fields}
    out = io.BytesIO()
    for row in rows:
        values = {}
        for col, v in zip(columns, row):
            f = fmap.get(col.lower())
            if f is None:
                continue
            if f.ctype.startswith("list:") and isinstance(v, (list, tuple)):
                el = f.ctype.split(":", 1)[1]
                values[col.lower()] = [
                    _coerce("text" if el == "text" else el, x) for x in v
                ]
            else:
                values[col.lower()] = _coerce(f.ctype, v)
        out.write(encode_message(fields, data_words, ptr_count, values))
    return out.getvalue()


def decode_rows(fields: list[Field], data: bytes) -> tuple[list[str], list[tuple]]:
    layout_struct(fields)
    names = [f.name for f in fields]
    rows: list[tuple] = []
    pos = 0
    while pos < len(data):
        d, pos = decode_message(fields, data, pos)
        rows.append(tuple(d.get(n) for n in names))
    return names, rows


# ----------------------------------------------------------- schema files

def resolve_schema(
    format_schema: str, schema_dir: str
) -> tuple[list[Field], str]:
    """``'file.capnp:Message'`` → (laid-out fields, message name). The
    file resolves inside ``schema_dir`` only (realpath-confined, same
    policy as formats/protobuf.py — a client-controlled path must not
    read arbitrary server files)."""
    import os

    if ":" not in format_schema:
        raise ValueError("format_schema requires 'file.capnp:MessageName'")
    fname, _, msg = format_schema.rpartition(":")
    if not fname.endswith(".capnp"):
        fname += ".capnp"
    root = os.path.realpath(schema_dir)
    path = os.path.realpath(os.path.join(root, fname))
    if not (path == root or path.startswith(root + os.sep)):
        raise ValueError(f"format schema path escapes schema dir: {fname}")
    with open(path, "r", encoding="utf-8") as f:
        structs = parse_capnp(f.read())
    if msg not in structs:
        raise ValueError(f"struct '{msg}' not found in {fname}")
    fields = structs[msg]
    if not fields:
        raise ValueError(f"struct '{msg}' has no encodable fields")
    layout_struct(fields)
    return fields, msg
