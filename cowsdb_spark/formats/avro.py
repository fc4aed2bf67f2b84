"""Avro Object Container File codec — FORMAT Avro in/out.

Pure-Python implementation of the Avro 1.x binary encoding and the
Object Container File layout (public spec:
https://avro.apache.org/docs/current/specification/). The reference
gets Avro for free from chDB's delegation (main.py:190); Spark's
``avro`` data source is an external module that is not bundled with
the pyspark distribution, so the wire-format layer encodes/decodes
itself — the same architecture as every other format in this package
(rows are already collected driver-side at this layer by definition;
distributed reads/writes of bulk Avro files would go through a jar
when deployed with one).

Type mapping follows ClickHouse's documented Avro interop
(Nullable(T) -> union[null, T]; Date -> int/date; DateTime ->
long/timestamp-millis; DateTime64 -> long/timestamp-micros;
Array(T) -> array; integers by width; Decimal/other -> string).
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import struct
import zlib
from typing import Any, Iterable

MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # deterministic sync marker

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_DT = _dt.datetime(1970, 1, 1)


# ----------------------------------------------------------- primitives

def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_long(buf: io.BytesIO, n: int) -> None:
    n = _zigzag(int(n))
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise ValueError("truncated Avro varint")
        b = raw[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(acc)
        shift += 7
        if shift > 70:
            # spec caps longs at 10 bytes; without this a stream of
            # 0x80 bytes grows acc into an O(len^2)-cost bignum
            raise ValueError("malformed Avro varint (too long)")


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    _write_long(buf, len(b))
    buf.write(b)


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    out = buf.read(n)
    if len(out) != n:
        raise ValueError("truncated Avro bytes")
    return out


# -------------------------------------------------------- schema mapping

def _ch_to_avro(ch_type: str) -> dict | list | str:
    """CH type string -> Avro schema fragment."""
    t = ch_type.strip()
    if t.startswith("Nullable(") and t.endswith(")"):
        inner = _ch_to_avro(t[9:-1])
        return ["null", inner]
    if t.startswith("LowCardinality(") and t.endswith(")"):
        return _ch_to_avro(t[15:-1])
    if t.startswith("Array(") and t.endswith(")"):
        return {"type": "array", "items": _ch_to_avro(t[6:-1])}
    if t in ("Int8", "Int16", "Int32", "UInt8", "UInt16"):
        return "int"
    if t in ("Int64", "UInt32", "UInt64", "Int128", "UInt128", "Int256", "UInt256"):
        return "long"
    if t == "Float32":
        return "float"
    if t == "Float64":
        return "double"
    if t == "Bool":
        return "boolean"
    if t == "Date" or t == "Date32":
        return {"type": "int", "logicalType": "date"}
    if t.startswith("DateTime64"):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if t.startswith("DateTime"):
        return {"type": "long", "logicalType": "timestamp-millis"}
    if t.startswith("FixedString"):
        return "string"
    return "string"  # String, UUID, Decimal, Enum, IPs, Map, Tuple, ...


def record_schema(columns: list[str], ch_types: list[str]) -> dict:
    return {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": c, "type": _ch_to_avro(t)}
            for c, t in zip(columns, ch_types)
        ],
    }


# ------------------------------------------------------------- encoding

def _encode_value(buf: io.BytesIO, schema: Any, v: Any) -> None:
    if isinstance(schema, list):  # union — [null, T] by construction
        if v is None:
            _write_long(buf, 0)
            return
        _write_long(buf, 1)
        _encode_value(buf, schema[1], v)
        return
    if isinstance(schema, dict):
        st = schema["type"]
        if st == "array":
            v = list(v) if v is not None else []
            if v:
                _write_long(buf, len(v))
                for item in v:
                    _encode_value(buf, schema["items"], item)
            _write_long(buf, 0)
            return
        lt = schema.get("logicalType")
        if lt == "date":
            days = (v - _EPOCH_DATE).days if isinstance(v, _dt.date) else int(v)
            _write_long(buf, days)
            return
        if lt in ("timestamp-millis", "timestamp-micros"):
            mult = 1000 if lt == "timestamp-millis" else 1_000_000
            if isinstance(v, _dt.datetime):
                ts = v.replace(tzinfo=None)
                n = int((ts - _EPOCH_DT).total_seconds() * mult)
            else:
                n = int(v)
            _write_long(buf, n)
            return
        schema = st  # {"type": "int"} style wrapper
    if schema == "null":
        return
    if schema == "boolean":
        buf.write(b"\x01" if v else b"\x00")
        return
    if schema in ("int", "long"):
        _write_long(buf, 0 if v is None else int(v))
        return
    if schema == "float":
        buf.write(struct.pack("<f", 0.0 if v is None else float(v)))
        return
    if schema == "double":
        buf.write(struct.pack("<d", 0.0 if v is None else float(v)))
        return
    if schema == "bytes":
        _write_bytes(buf, v if isinstance(v, (bytes, bytearray)) else str(v).encode())
        return
    # string (and the fallback for every stringly-rendered CH type)
    from .render import plain_text

    s = v if isinstance(v, str) else plain_text(v)
    _write_bytes(buf, s.encode("utf-8"))


def write_ocf(
    columns: list[str],
    ch_types: list[str],
    rows: Iterable[tuple],
) -> bytes:
    schema = record_schema(columns, ch_types)
    fields = [f["type"] for f in schema["fields"]]
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(schema, separators=(",", ":")).encode(),
        "avro.codec": b"null",
    }
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode())
        _write_bytes(out, v)
    _write_long(out, 0)  # end of metadata map
    out.write(_SYNC)
    block = io.BytesIO()
    n = 0
    for row in rows:
        for fs, v in zip(fields, row):
            _encode_value(block, fs, v)
        n += 1
    if n:
        data = block.getvalue()
        _write_long(out, n)
        _write_long(out, len(data))
        out.write(data)
        out.write(_SYNC)
    return out.getvalue()


# ------------------------------------------------------------- decoding

def _decode_value(buf: io.BytesIO, schema: Any, budget: list | None = None) -> Any:
    # budget: [remaining_value_count] shared across the whole payload.
    # Zero-byte values (null, and records/arrays of them) let a tiny
    # payload claim billions of elements — schema AND data are client-
    # controlled on the INSERT path, so counts must be budgeted, not
    # trusted.
    if budget is not None:
        budget[0] -= 1
        if budget[0] < 0:
            raise ValueError("Avro payload exceeds decoded-value budget")
    if isinstance(schema, list):  # union
        idx = _read_long(buf)
        return _decode_value(buf, schema[idx], budget)
    if isinstance(schema, str):
        schema = {"type": schema}
    st = schema["type"]
    if isinstance(st, (dict, list)):  # nested named/union type
        return _decode_value(buf, st, budget)
    if st == "record":
        return tuple(
            _decode_value(buf, f["type"], budget) for f in schema["fields"]
        )
    if st == "array":
        out = []
        while True:
            cnt = _read_long(buf)
            if cnt == 0:
                return out
            if cnt < 0:  # block with byte-size prefix
                _read_long(buf)
                cnt = -cnt
            for _ in range(cnt):
                out.append(_decode_value(buf, schema["items"], budget))
    if st == "map":
        out = {}
        while True:
            cnt = _read_long(buf)
            if cnt == 0:
                return out
            if cnt < 0:
                _read_long(buf)
                cnt = -cnt
            for _ in range(cnt):
                if budget is not None:
                    budget[0] -= 1
                    if budget[0] < 0:
                        raise ValueError(
                            "Avro payload exceeds decoded-value budget"
                        )
                k = _read_bytes(buf).decode("utf-8")
                out[k] = _decode_value(buf, schema["values"], budget)
    if st == "null":
        return None
    if st == "boolean":
        return buf.read(1) == b"\x01"
    if st in ("int", "long"):
        n = _read_long(buf)
        lt = schema.get("logicalType")
        if lt == "date":
            return _EPOCH_DATE + _dt.timedelta(days=n)
        if lt == "timestamp-millis":
            return _EPOCH_DT + _dt.timedelta(milliseconds=n)
        if lt == "timestamp-micros":
            return _EPOCH_DT + _dt.timedelta(microseconds=n)
        return n
    if st == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if st == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if st == "bytes":
        return _read_bytes(buf)
    if st == "string":
        return _read_bytes(buf).decode("utf-8")
    if st == "fixed":
        return buf.read(int(schema["size"]))
    if st == "enum":
        return schema["symbols"][_read_long(buf)]
    raise ValueError(f"unsupported Avro type: {st}")


def read_ocf(data: bytes) -> tuple[list[str], list[tuple]]:
    """Parse an Object Container File -> (column_names, rows).
    Codecs: null and deflate (the two every Avro implementation must
    support)."""
    buf = io.BytesIO(data)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        cnt = _read_long(buf)
        if cnt == 0:
            break
        if cnt < 0:
            _read_long(buf)
            cnt = -cnt
        for _ in range(cnt):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported Avro codec: {codec}")
    sync = buf.read(16)
    if schema.get("type") == "record":
        names = [f["name"] for f in schema["fields"]]
    else:
        names = ["value"]
    rows: list[tuple] = []
    # decoded-value budget: linear in payload size with generous slack
    # (64 values/byte); a legitimate file can't exceed it, a crafted
    # all-null/array-of-null payload can't amplify past it
    budget = [64 * len(data) + 4096]
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, 1)
        n = _read_long(buf)
        blen = _read_long(buf)
        raw = buf.read(blen)
        if codec == "deflate":
            # cap decompressed size: deflate reaches ~1000:1 on
            # constant input, so a small block must not inflate into
            # gigabytes (classic zip-bomb)
            cap = min(1 << 30, max(1 << 22, 1024 * max(blen, 1)))
            dec = zlib.decompressobj(-15)
            raw = dec.decompress(raw, cap)
            if dec.unconsumed_tail:
                raise ValueError("Avro deflate block exceeds size cap")
        bbuf = io.BytesIO(raw)
        if n < 0 or n > len(raw) + 1:
            # every row consumes >=0 bytes; a count beyond the block's
            # byte length is only reachable with zero-byte schemas,
            # which the value budget below already bounds — but reject
            # the obviously-forged count outright
            raise ValueError("Avro block row count exceeds block size")
        for _ in range(n):
            v = _decode_value(bbuf, schema, budget)
            rows.append(v if isinstance(v, tuple) else (v,))
        if buf.read(16) != sync:
            raise ValueError("Avro sync marker mismatch")
    return names, rows
