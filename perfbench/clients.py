"""Wire clients of the load generator: ClickHouse HTTP and native TCP.

Both clients are written from the protocol, not imported from the
server package, so a change to the server's own encoders cannot
change how the benchmark reads the answers. Each client owns one
connection; ``local_port`` names it, so the traced run can match a
client request to the server's handler span for the same socket.

Every request returns ``(rows, nbytes)``: ``rows`` is a list of
tuples of plain Python values (int, float, str, or None) and
``nbytes`` is the size of the response body on the wire.
"""

from __future__ import annotations

import csv
import datetime as dt
import http.client
import io
import json
import socket
import struct
import urllib.parse

REVISION = 54468  # the revision the native server speaks (no compression)
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DATE = dt.date(1970, 1, 1)


class RequestError(Exception):
    """The server refused or failed a request."""


# ------------------------------------------------------------------ HTTP


def _decode_text(fmt: str, body: bytes) -> list[tuple]:
    text = body.decode("utf-8")
    if fmt == "TSV":
        return [tuple(line.split("\t")) for line in text.splitlines()]
    if fmt == "CSVWithNames":
        rows = list(csv.reader(io.StringIO(text)))
        return [tuple(r) for r in rows[1:]]
    if fmt == "JSONEachRow":
        return [tuple(json.loads(line).values()) for line in text.splitlines() if line]
    if fmt == "JSONCompact":
        return [tuple(r) for r in json.loads(text)["data"]]
    raise ValueError(f"no decoder for format {fmt}")


class HttpClient:
    """One keep-alive HTTP/1.1 connection to the server's HTTP API."""

    wire = "http"

    def __init__(self, port: int, timeout: float = 60.0):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
        self.conn.connect()
        self.conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.local_port = self.conn.sock.getsockname()[1]

    def _post(self, params: dict, body: bytes) -> bytes:
        path = "/?" + urllib.parse.urlencode(params)
        self.conn.request("POST", path, body=body)
        resp = self.conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise RequestError(f"HTTP {resp.status}: {data[:300]!r}")
        return data

    def query(self, sql: str, fmt: str = "TSV") -> tuple[list[tuple], int]:
        data = self._post({"default_format": fmt}, sql.encode())
        return _decode_text(fmt, data), len(data)

    def close(self) -> None:
        self.conn.close()


# ------------------------------------------------------------------ native

_FIXED = {
    "Int8": "<b", "Int16": "<h", "Int32": "<i", "Int64": "<q",
    "UInt8": "<B", "UInt16": "<H", "UInt32": "<I", "UInt64": "<Q",
    "Float32": "<f", "Float64": "<d",
}


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _str(s: str | bytes) -> bytes:
    b = s.encode() if isinstance(s, str) else s
    return _varint(len(b)) + b


def _query_packet(sql: str) -> bytes:
    return b"".join((
        _varint(1),  # QUERY
        _str(""),  # query id
        bytes([1]),  # client info: initial query
        _str(""), _str(""), _str("0.0.0.0:0"),
        struct.pack("<Q", 0),  # initial query start time
        bytes([1]),  # interface TCP
        _str("bench"), _str("localhost"), _str("perfbench"),
        _varint(25), _varint(5), _varint(REVISION),
        _str(""),  # quota key
        _varint(0),  # distributed depth
        _str(""),  # end of settings
        _str(""),  # interserver secret
        _varint(2),  # stage: complete
        _varint(0),  # no compression
        _str(sql),
        _str(""),  # end of parameters
    ))


class NativeClient:
    """One connection speaking the ClickHouse native protocol."""

    wire = "native"

    def __init__(self, port: int, timeout: float = 60.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.local_port = self.sock.getsockname()[1]
        self.buf = b""
        self.pos = 0
        self.nread = 0
        self.sock.sendall(
            _varint(0) + _str("perfbench") + _varint(25) + _varint(5)
            + _varint(REVISION) + _str("") + _str("default") + _str("")
        )
        if self._varint() != 0:
            raise RequestError("native handshake: no server HELLO")
        self._rstr()  # server name
        self._varint(), self._varint(), self._varint()  # major, minor, revision
        self._rstr()  # timezone
        self._rstr()  # display name
        self._varint()  # patch
        self._varint()  # password complexity rules
        self._need(8)  # nonce

    # -- primitives

    def _need(self, n: int) -> bytes:
        while len(self.buf) - self.pos < n:
            chunk = self.sock.recv(1 << 20)
            if not chunk:
                raise ConnectionError("server closed the connection")
            self.nread += len(chunk)
            self.buf = self.buf[self.pos:] + chunk
            self.pos = 0
        out = self.buf[self.pos:self.pos + n]
        self.pos += n
        return out

    def _varint(self) -> int:
        shift = n = 0
        while True:
            b = self._need(1)[0]
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    def _rstr(self) -> str:
        return self._need(self._varint()).decode("utf-8")

    def _column(self, t: str, n: int) -> list:
        if t.startswith("Nullable("):
            mask = self._need(n)
            vals = self._column(t[9:-1], n)
            return [None if m else v for m, v in zip(mask, vals)]
        if t in _FIXED:
            code = _FIXED[t][1]
            return list(struct.unpack(f"<{n}{code}", self._need(n * struct.calcsize(code))))
        if t == "String":
            return [self._rstr() for _ in range(n)]
        if t == "Bool":
            return [b == 1 for b in self._need(n)]
        if t == "Date":
            days = struct.unpack(f"<{n}H", self._need(2 * n))
            return [str(_EPOCH_DATE + dt.timedelta(days=d)) for d in days]
        if t == "DateTime":
            secs = struct.unpack(f"<{n}I", self._need(4 * n))
            return [str(_EPOCH + dt.timedelta(seconds=s)) for s in secs]
        raise ValueError(f"no decoder for native type {t}")

    def _block(self) -> tuple[list[str], list[list]]:
        self._rstr()  # table name
        while True:  # BlockInfo fields
            field = self._varint()
            if field == 0:
                break
            self._need(1 if field == 1 else 4)
        n_cols, n_rows = self._varint(), self._varint()
        types, cols = [], []
        for _ in range(n_cols):
            self._rstr()  # column name
            t = self._rstr()
            self._need(1)  # custom serialization flag
            types.append(t)
            cols.append(self._column(t, n_rows))
        return types, cols

    # -- operations

    def query(self, sql: str, fmt: str = "Native") -> tuple[list[tuple], int]:
        start = self.nread - (len(self.buf) - self.pos)
        self.sock.sendall(_query_packet(sql))
        rows: list[tuple] = []
        while True:
            ptype = self._varint()
            if ptype == 1:  # DATA
                _types, cols = self._block()
                rows.extend(zip(*cols))
            elif ptype == 5:  # END_OF_STREAM
                break
            elif ptype == 2:
                raise RequestError(self._rstr())
            else:
                raise RequestError(f"native: unexpected packet {ptype}")
        return rows, self.nread - (len(self.buf) - self.pos) - start

    def close(self) -> None:
        self.sock.close()
