"""ClickHouse Native wire-format reader/writer (SURVEY §2.8 F6, §3.2).

One block: varint n_columns, varint n_rows, then per column:
varstr name, varstr type, columnar data. Encodings:

- String: per value varint length + UTF-8 bytes
- (U)Int8/16/32/64: little-endian fixed width
- Float32/64: IEEE little-endian
- Bool: one byte; Date: UInt16 days since epoch; DateTime: UInt32
  unix seconds
- Decimal(p, s): scaled integer, fixed width by precision
  (Int32 ≤9, Int64 ≤18, Int128 ≤38) little-endian
- Nullable(T): null-mask byte per row, then inner data with
  defaults in null slots
- Array(T): cumulative end-offsets (UInt64 LE per row), then the
  flattened inner column (recursive — Array(Array(T)) nests)
- Map(K, V): exactly Array(Tuple(K, V)) — offsets, then the
  flattened key column, then the flattened value column
- Tuple(T1, ..., Tn): element columns serialized one after another
  (elements may be named: "Tuple(a Int64, b String)")

The reference round-trips a parsed blob and only handles 5 scalar
types with single-byte counts (main.py:570-654 — ≤255 rows); this
module encodes directly from typed rows with full varints and real
composite encodings. Types outside the list above degrade to their
String rendering (the wire type says so — clients see String, never
garbage).
"""

from __future__ import annotations

import datetime as _dt
import functools
import re as _re
import struct
from decimal import Decimal as _Decimal
from typing import Optional

from ..dialect.tokenizer import split_text
from .render import plain_text

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_DT = _dt.datetime(1970, 1, 1)


def write_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def write_varstr(s: str | bytes) -> bytes:
    if isinstance(s, (bytes, bytearray)):
        b = bytes(s)
    else:
        b = s.encode("utf-8")
    return write_varint(len(b)) + b


_INT_FMT = {
    "Int8": "<b",
    "Int16": "<h",
    "Int32": "<i",
    "Int64": "<q",
    "UInt8": "<B",
    "UInt16": "<H",
    "UInt32": "<I",
    "UInt64": "<Q",
}

_SCALARS = set(_INT_FMT) | {"Float32", "Float64", "Bool", "Date", "DateTime", "String"}


def _dt64_precision(ch_type: str) -> int:
    """DateTime64(p[, tz]) → p, default 3, clamped to [0, 9]."""
    m = _re.match(r"DateTime64\s*\(\s*(\d+)", ch_type)
    p = int(m.group(1)) if m else 3
    return max(0, min(9, p))


# ---------------------------------------------------------------- type names


def _strip_nullable(t: str) -> tuple[str, bool]:
    if t.startswith("Nullable(") and t.endswith(")"):
        return t[len("Nullable(") : -1], True
    return t, False


def _inner(t: str, wrapper: str) -> str:
    return t[len(wrapper) + 1 : -1].strip()


@functools.lru_cache(maxsize=256)
def _params(t: str, wrapper: str) -> tuple[str, ...]:
    """Top-level parameters of the ``wrapper(...)`` type ``t``. Cached
    because RowBinary encodes value by value and asks once per row."""
    return tuple(split_text(_inner(t, wrapper)))


def _decimal_width(precision: int) -> int:
    if precision <= 9:
        return 4
    if precision <= 18:
        return 8
    return 16


def _parse_decimal(t: str) -> Optional[tuple[int, int]]:
    if t.startswith("Decimal(") and t.endswith(")"):
        args = _params(t, "Decimal")
        if len(args) == 2:
            return int(args[0]), int(args[1])
    return None


def _tuple_elems(t: str) -> list[tuple[Optional[str], str]]:
    """Tuple arg list → [(name|None, type)]. Named form: "a Int64"."""
    elems = []
    for part in _params(t, "Tuple"):
        bits = part.split(None, 1)
        if len(bits) == 2 and "(" not in bits[0] and not bits[0][0].isdigit():
            elems.append((bits[0].strip("`"), bits[1]))
        else:
            elems.append((None, part))
    return elems


def wire_type(t: str) -> str:
    """Type name actually emitted (unsupported leaves degrade to
    String; supported composites keep their real type)."""
    inner, nullable = _strip_nullable(t)
    if inner in _SCALARS or _parse_decimal(inner) or inner.startswith("DateTime64"):
        wire = inner
    elif inner.startswith("Array(") and inner.endswith(")"):
        wire = f"Array({wire_type(_inner(inner, 'Array'))})"
    elif inner.startswith("Map(") and inner.endswith(")"):
        k, v = _params(inner, "Map")
        wire = f"Map({wire_type(k)}, {wire_type(v)})"
    elif inner.startswith("Tuple(") and inner.endswith(")"):
        parts = []
        for name, et in _tuple_elems(inner):
            wt = wire_type(et)
            parts.append(f"{name} {wt}" if name else wt)
        wire = f"Tuple({', '.join(parts)})"
    elif inner.startswith("LowCardinality(") and inner.endswith(")"):
        # emitted as the plain inner type (no dictionary encoding)
        return wire_type(
            f"Nullable({_inner(inner, 'LowCardinality')})" if nullable else _inner(inner, "LowCardinality")
        )
    else:
        wire = "String"
    return f"Nullable({wire})" if nullable else wire


_wire_type = wire_type  # backward-compat alias


# ---------------------------------------------------------------- encoding


def _encode_scalar(ch_type: str, v) -> bytes:
    if ch_type in _INT_FMT:
        return struct.pack(_INT_FMT[ch_type], int(v if v is not None else 0))
    if ch_type == "Float64":
        return struct.pack("<d", float(v if v is not None else 0.0))
    if ch_type == "Float32":
        return struct.pack("<f", float(v if v is not None else 0.0))
    if ch_type == "Bool":
        return struct.pack("<B", 1 if v else 0)
    if ch_type == "Date":
        if v is None:
            return struct.pack("<H", 0)
        if isinstance(v, _dt.datetime):
            v = v.date()
        return struct.pack("<H", max(0, (v - _EPOCH_DATE).days))
    if ch_type.startswith("DateTime64"):
        # CH wire: Int64 ticks at 10^-p (default p=3)
        p = _dt64_precision(ch_type)
        if v is None:
            return struct.pack("<q", 0)
        if isinstance(v, _dt.datetime):
            ticks = round((v - _EPOCH_DT).total_seconds() * 10**p)
        else:
            ticks = int(v)
        return struct.pack("<q", ticks)
    if ch_type == "DateTime":
        if v is None:
            return struct.pack("<I", 0)
        ts = int((v - _EPOCH_DT).total_seconds()) if isinstance(v, _dt.datetime) else int(v)
        return struct.pack("<I", max(0, ts))
    dec = _parse_decimal(ch_type)
    if dec:
        p, s = dec
        q = _Decimal(0) if v is None else _Decimal(str(v))
        scaled = int(q.scaleb(s).to_integral_value())
        return scaled.to_bytes(_decimal_width(p), "little", signed=True)
    # String and unknown leaves → CH text rendering as String
    if v is None:
        return write_varstr("")
    if isinstance(v, (bytes, bytearray)):
        return write_varstr(v)
    return write_varstr(v if isinstance(v, str) else plain_text(v))


def encode_column(ch_type: str, values: list) -> bytes:
    """Serialize one column of ``values`` with CH columnar layout
    (recursive over Nullable/Array/Map/Tuple)."""
    inner, nullable = _strip_nullable(ch_type)
    out = bytearray()
    if nullable:
        out += bytes(1 if v is None else 0 for v in values)
    if inner.startswith("Array(") and inner.endswith(")"):
        elem_t = _inner(inner, "Array")
        flat: list = []
        offset = 0
        for v in values:
            offset += len(v) if v is not None else 0
            out += struct.pack("<Q", offset)
            if v is not None:
                flat.extend(v)
        out += encode_column(elem_t, flat)
    elif inner.startswith("Map(") and inner.endswith(")"):
        k_t, v_t = _params(inner, "Map")
        keys: list = []
        vals: list = []
        offset = 0
        for v in values:
            items = list(v.items()) if v is not None else []
            offset += len(items)
            out += struct.pack("<Q", offset)
            keys.extend(k for k, _ in items)
            vals.extend(x for _, x in items)
        out += encode_column(k_t, keys)
        out += encode_column(v_t, vals)
    elif inner.startswith("Tuple(") and inner.endswith(")"):
        elems = _tuple_elems(inner)
        for i, (_, et) in enumerate(elems):
            out += encode_column(
                et, [None if v is None else v[i] for v in values]
            )
    else:
        for v in values:
            out += _encode_scalar(inner, v)
    return bytes(out)


def encode_row_value(ch_type: str, v) -> bytes:
    """One value in RowBinary layout (row-wise, unlike Native's
    columnar blocks): Nullable = 1 flag byte then value; Array/Map =
    varint count then elements inline; Tuple = elements concatenated;
    scalars share Native's fixed-width/varstr encodings.

    Reference surface: the chDB engine behind the reference accepts
    ``FORMAT RowBinary*`` on any query (main.py:190 delegates the
    whole format list); this writer covers the three RowBinary
    spellings natively."""
    inner, nullable = _strip_nullable(ch_type)
    out = bytearray()
    if nullable:
        out += b"\x01" if v is None else b"\x00"
        if v is None:
            # CH still writes a default value after the null flag only
            # for fixed-width types inside Native blocks; RowBinary
            # writes nothing after the 1 flag.
            return bytes(out)
    if inner.startswith("Array(") and inner.endswith(")"):
        elem_t = _inner(inner, "Array")
        items = list(v) if v is not None else []
        out += write_varint(len(items))
        for e in items:
            out += encode_row_value(elem_t, e)
    elif inner.startswith("Map(") and inner.endswith(")"):
        k_t, v_t = _params(inner, "Map")
        items = list(v.items()) if v is not None else []
        out += write_varint(len(items))
        for k, x in items:
            out += encode_row_value(k_t, k)
            out += encode_row_value(v_t, x)
    elif inner.startswith("Tuple(") and inner.endswith(")"):
        elems = _tuple_elems(inner)
        for i, (_, et) in enumerate(elems):
            out += encode_row_value(et, None if v is None else v[i])
    else:
        out += _encode_scalar(inner, v)
    return bytes(out)


def to_native(res) -> bytes:
    """Serialize a QueryResult as a single Native block."""
    rows = res.rows
    out = bytearray()
    out += write_varint(len(res.columns))
    out += write_varint(len(rows))
    for ci, (name, ch_t) in enumerate(zip(res.columns, res.ch_types)):
        wire = wire_type(ch_t)
        out += write_varstr(name)
        out += write_varstr(wire)
        out += encode_column(wire, [r[ci] for r in rows])
    return bytes(out)


# ---------------------------------------------------------------- decoding


class _Cursor:
    """Primitive reader over a bytes buffer (same interface as the
    native server's socket reader: _need / varint / binary_str)."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def _need(self, n: int) -> bytes:
        if len(self.buf) - self.pos < n:
            raise ValueError("truncated native data")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def remaining(self) -> int:
        return len(self.buf) - self.pos

    def varint(self) -> int:
        shift = n = 0
        while True:
            b = self._need(1)[0]
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7
            if shift > 70:
                # CH varints are <=10 bytes; an endless 0x80 run would
                # otherwise grow n into an O(len^2)-cost bignum
                raise ValueError("malformed native varint")

    def binary_str(self) -> str:
        ln = self.varint()
        return self._need(ln).decode("utf-8", "replace")


def _decode_scalar(ch_type: str, r):
    if ch_type in _INT_FMT:
        fmt = _INT_FMT[ch_type]
        return struct.unpack(fmt, r._need(struct.calcsize(fmt)))[0]
    if ch_type in ("Float32", "Float64"):
        fmt = "<f" if ch_type == "Float32" else "<d"
        return struct.unpack(fmt, r._need(struct.calcsize(fmt)))[0]
    if ch_type == "Bool":
        return r._need(1)[0] == 1
    if ch_type == "Date":
        (d,) = struct.unpack("<H", r._need(2))
        return _EPOCH_DATE + _dt.timedelta(days=d)
    if ch_type.startswith("DateTime64"):
        p = _dt64_precision(ch_type)
        (t,) = struct.unpack("<q", r._need(8))
        us = t * 10 ** (6 - p) if p <= 6 else t // 10 ** (p - 6)
        return _EPOCH_DT + _dt.timedelta(microseconds=us)
    if ch_type.startswith("DateTime"):
        (s,) = struct.unpack("<I", r._need(4))
        return _EPOCH_DT + _dt.timedelta(seconds=s)
    dec = _parse_decimal(ch_type)
    if dec:
        p, s = dec
        raw = int.from_bytes(r._need(_decimal_width(p)), "little", signed=True)
        return _Decimal(raw).scaleb(-s)
    return r.binary_str()


def decode_column(ch_type: str, n_rows: int, r) -> list:
    """Decode one block column (recursive mirror of ``encode_column``)."""
    # Every native row costs >= 1 byte in every type (nullable mask,
    # fixed-width scalar, string length byte, 8-byte array offset), so
    # a row count beyond the remaining payload is forged — reject it
    # BEFORE the [False] * n_rows allocation, or a 16-byte frame
    # claiming 2^40 rows allocates terabytes. Array element totals
    # re-enter here recursively and get the same check. Buffer-backed
    # cursors know their exact remaining bytes; the native server's
    # streaming socket reader cannot, so it gets a generous absolute
    # per-block cap instead (CH clients send <=~1M-row blocks).
    rem = getattr(r, "remaining", None)
    limit = rem() if callable(rem) else getattr(r, "max_block_rows", 1 << 24)
    if n_rows < 0 or n_rows > limit:
        raise ValueError("native block row count exceeds payload size")
    inner, nullable = _strip_nullable(ch_type)
    mask = [False] * n_rows
    if nullable:
        raw = r._need(n_rows)
        mask = [b == 1 for b in raw]
    if inner.startswith("Array(") and inner.endswith(")"):
        elem_t = _inner(inner, "Array")
        offsets = [struct.unpack("<Q", r._need(8))[0] for _ in range(n_rows)]
        total = offsets[-1] if offsets else 0
        flat = decode_column(elem_t, total, r)
        vals: list = []
        prev = 0
        for off in offsets:
            vals.append(flat[prev:off])
            prev = off
    elif inner.startswith("Map(") and inner.endswith(")"):
        k_t, v_t = _params(inner, "Map")
        offsets = [struct.unpack("<Q", r._need(8))[0] for _ in range(n_rows)]
        total = offsets[-1] if offsets else 0
        keys = decode_column(k_t, total, r)
        mvals = decode_column(v_t, total, r)
        vals = []
        prev = 0
        for off in offsets:
            vals.append(dict(zip(keys[prev:off], mvals[prev:off])))
            prev = off
    elif inner.startswith("Tuple(") and inner.endswith(")"):
        elems = _tuple_elems(inner)
        cols = [decode_column(et, n_rows, r) for _, et in elems]
        vals = [tuple(c[i] for c in cols) for i in range(n_rows)]
    else:
        vals = [_decode_scalar(inner, r) for _ in range(n_rows)]
    return [None if nullable and mask[i] else vals[i] for i in range(n_rows)]


def read_block(r, with_custom_flag: bool = True):
    """Decode one Native block from a streaming reader (an object
    with ``varint()``, ``binary_str()`` and ``_need(n)`` — the
    native server's socket reader or a :class:`_Cursor`). Used for
    native-protocol INSERT data (the reference reads and DISCARDS
    these packets, main.py:677-696 — a fidelity bug we fix by
    applying them).

    Returns ``(names, ch_types, rows)``; an end-of-data marker block
    decodes as ``([], [], [])``.
    """
    names: list[str] = []
    types: list[str] = []
    cols: list[list] = []
    # BlockInfo: (field_num, value) pairs until field_num == 0
    while True:
        field = r.varint()
        if field == 0:
            break
        if field == 1:
            r._need(1)  # is_overflows
        elif field == 2:
            r._need(4)  # bucket_num
    n_cols = r.varint()
    n_rows = r.varint()
    if n_cols == 0 and n_rows > 0:
        # zero columns would skip decode_column's payload-size check
        # and materialize n_rows empty tuples from a header alone
        raise ValueError("native block claims rows without columns")
    for _ in range(n_cols):
        name = r.binary_str()
        ch_t = r.binary_str()
        if with_custom_flag:
            r._need(1)
        names.append(name)
        types.append(ch_t)
        cols.append(decode_column(ch_t, n_rows, r))
    rows = [tuple(c[i] for c in cols) for i in range(n_rows)]
    return names, types, rows


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7
        if shift > 70:
            raise ValueError("malformed native varint")


def read_varstr(buf: bytes, pos: int) -> tuple[str, int]:
    ln, pos = read_varint(buf, pos)
    return buf[pos : pos + ln].decode("utf-8"), pos + ln


def parse_native(buf: bytes) -> tuple[list[str], list[str], list[tuple]]:
    """Decode one Native block (round-trip testing + native INSERT)."""
    r = _Cursor(buf)
    n_cols = r.varint()
    n_rows = r.varint()
    if n_cols == 0 and n_rows > 0:
        raise ValueError("native block claims rows without columns")
    names: list[str] = []
    types: list[str] = []
    cols: list[list] = []
    for _ in range(n_cols):
        names.append(r.binary_str())
        types.append(r.binary_str())
        cols.append(decode_column(types[-1], n_rows, r))
    rows = [tuple(c[i] for c in cols) for i in range(n_rows)]
    return names, types, rows
