"""Native TCP protocol conformance (reference test_suite.py:181-220,
294-306 — handshake + literal matrix over raw sockets).

The test client speaks the same packet layout clickhouse-driver
does at revision 54468 (no compression), so these tests validate
byte-level framing, not just our own round-trip.
"""

from __future__ import annotations

import socket
import struct

import pytest

from cowsdb_spark.engine import Engine
from cowsdb_spark.server.native_server import NativeServer

REVISION = 54468


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


def write_str(s: str) -> bytes:
    b = s.encode()
    return write_varint(len(b)) + b


class Client:
    def __init__(self, port: int, user: str = "default", password: str = "", database: str = ""):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.buf = b""
        self.pos = 0
        hello = (
            write_varint(0)
            + write_str("test-client")
            + write_varint(25)
            + write_varint(5)
            + write_varint(REVISION)
            + write_str(database)
            + write_str(user)
            + write_str(password)
        )
        self.sock.sendall(hello)
        self.server_hello = self._read_hello()

    # -- wire primitives --------------------------------------------------

    def _need(self, n: int) -> bytes:
        while len(self.buf) - self.pos < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("server closed")
            self.buf = self.buf[self.pos :] + chunk
            self.pos = 0
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def varint(self) -> int:
        shift = n = 0
        while True:
            b = self._need(1)[0]
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    def rstr(self) -> str:
        return self._need(self.varint()).decode()

    def _read_hello(self) -> dict:
        assert self.varint() == 0  # server HELLO
        name = self.rstr()
        major, minor, rev = self.varint(), self.varint(), self.varint()
        used = min(rev, REVISION)
        tz = self.rstr() if used >= 54058 else None
        display = self.rstr() if used >= 54372 else None
        patch = self.varint() if used >= 54401 else None
        if used >= 54461:
            self.varint()  # password rules count
        if used >= 54462:
            self._need(8)  # nonce
        return {
            "name": name,
            "version": (major, minor, patch),
            "revision": rev,
            "timezone": tz,
            "display_name": display,
        }

    # -- operations -------------------------------------------------------

    def ping(self) -> bool:
        self.sock.sendall(write_varint(4))
        return self.varint() == 4  # PONG

    def query(self, sql: str, params: dict | None = None, settings: dict | None = None):
        pkt = (
            write_varint(1)  # QUERY
            + write_str("test-query-id")
            + bytes([1])  # client info kind
            + write_str("")  # initial user
            + write_str("")  # initial query id
            + write_str("0.0.0.0:0")  # initial address
            + struct.pack("<Q", 0)  # initial query start time
            + bytes([1])  # interface TCP
            + write_str("osuser")
            + write_str("host")
            + write_str("test-client")
            + write_varint(25)
            + write_varint(5)
            + write_varint(REVISION)
            + write_str("")  # quota key
            + write_varint(0)  # distributed depth
            # settings as strings: name, flags byte, value
            + b"".join(
                write_str(k) + bytes([0]) + write_str(v)
                for k, v in (settings or {}).items()
            )
            + write_str("")  # end of settings
            + write_str("")  # interserver secret
            + write_varint(2)  # stage: complete
            + write_varint(0)  # no compression
            + write_str(sql)
        )
        for name, val in (params or {}).items():
            # custom-setting shape: name, flags byte, escaped literal
            pkt += write_str(name) + bytes([0]) + write_str(val)
        pkt += write_str("")  # end of parameters
        self.sock.sendall(pkt)
        return self._read_response()

    def _read_response(self):
        cols, rows = [], []
        while True:
            ptype = self.varint()
            if ptype == 1:  # DATA
                self.rstr()  # table name
                # BlockInfo
                while True:
                    field = self.varint()
                    if field == 0:
                        break
                    if field == 1:
                        self._need(1)
                    elif field == 2:
                        self._need(4)
                n_cols = self.varint()
                n_rows = self.varint()
                colvals = []
                for _ in range(n_cols):
                    name = self.rstr()
                    ch_t = self.rstr()
                    self._need(1)  # custom serialization flag
                    inner = ch_t
                    nullable = False
                    if ch_t.startswith("Nullable("):
                        inner, nullable = ch_t[9:-1], True
                    mask = [False] * n_rows
                    if nullable:
                        mask = [b == 1 for b in self._need(n_rows)]
                    vals = []
                    for i in range(n_rows):
                        v = self._read_scalar(inner)
                        vals.append(None if mask[i] else v)
                    cols.append((name, ch_t))
                    colvals.append(vals)
                rows.extend(
                    tuple(colvals[c][r] for c in range(n_cols)) for r in range(n_rows)
                )
            elif ptype == 5:  # END_OF_STREAM
                return cols, rows
            elif ptype == 2:  # EXCEPTION
                raise RuntimeError(self.rstr())
            else:
                raise AssertionError(f"unexpected packet {ptype}")

    def _read_scalar(self, t: str):
        fixed = {
            "Int8": "<b", "Int16": "<h", "Int32": "<i", "Int64": "<q",
            "UInt8": "<B", "UInt16": "<H", "UInt32": "<I", "UInt64": "<Q",
            "Float32": "<f", "Float64": "<d",
        }
        if t in fixed:
            fmt = fixed[t]
            return struct.unpack(fmt, self._need(struct.calcsize(fmt)))[0]
        if t == "Date":
            (d,) = struct.unpack("<H", self._need(2))
            import datetime

            return datetime.date(1970, 1, 1) + datetime.timedelta(days=d)
        if t == "DateTime":
            (s,) = struct.unpack("<I", self._need(4))
            import datetime

            return datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=s)
        if t == "Bool":
            return self._need(1)[0] == 1
        return self.rstr()

    def insert(self, sql: str, names, types, rows):
        """Native INSERT flow: QUERY packet, read the server's sample
        block, stream one DATA block + the empty end marker, expect
        END_OF_STREAM (the reference would silently discard the data,
        main.py:677-696 — we assert it is applied)."""
        pkt = (
            write_varint(1)
            + write_str("test-insert-id")
            + bytes([1])
            + write_str("") + write_str("") + write_str("0.0.0.0:0")
            + struct.pack("<Q", 0)
            + bytes([1])
            + write_str("osuser") + write_str("host") + write_str("test-client")
            + write_varint(25) + write_varint(5) + write_varint(REVISION)
            + write_str("")
            + write_varint(0)
            + write_str("")  # end of settings
            + write_str("")  # interserver secret
            + write_varint(2)
            + write_varint(0)
            + write_str(sql)
            + write_str("")  # end of parameters
        )
        self.sock.sendall(pkt)
        # server sample block (structure, 0 rows) — or EXCEPTION
        ptype = self.varint()
        if ptype == 2:
            raise RuntimeError(self.rstr())
        assert ptype == 1, f"expected sample DATA, got {ptype}"
        self._skip_block()
        self.sock.sendall(self._data_block(names, types, rows))
        self.sock.sendall(self._data_block([], [], []))  # end marker
        ptype = self.varint()
        if ptype == 2:
            raise RuntimeError(self.rstr())
        assert ptype == 5, f"expected END_OF_STREAM, got {ptype}"

    def _skip_block(self):
        self.rstr()  # table name
        while True:
            field = self.varint()
            if field == 0:
                break
            self._need(1 if field == 1 else 4)
        n_cols, n_rows = self.varint(), self.varint()
        assert n_rows == 0
        for _ in range(n_cols):
            self.rstr()
            self.rstr()
            self._need(1)  # custom serialization flag

    def _data_block(self, names, types, rows) -> bytes:
        out = bytearray()
        out += write_varint(2)  # client DATA
        out += write_str("")  # table name
        out += write_varint(1) + bytes([0]) + write_varint(2)
        out += struct.pack("<i", -1) + write_varint(0)  # BlockInfo
        out += write_varint(len(names))
        out += write_varint(len(rows))
        fixed = {
            "Int8": "<b", "Int16": "<h", "Int32": "<i", "Int64": "<q",
            "UInt8": "<B", "UInt16": "<H", "UInt32": "<I", "UInt64": "<Q",
            "Float32": "<f", "Float64": "<d",
        }
        for ci, (name, t) in enumerate(zip(names, types)):
            out += write_str(name)
            out += write_str(t)
            out += bytes([0])  # custom serialization flag
            inner, nullable = t, False
            if t.startswith("Nullable("):
                inner, nullable = t[9:-1], True
            col = [row[ci] for row in rows]
            if nullable:
                out += bytes(1 if v is None else 0 for v in col)
            for v in col:
                if inner in fixed:
                    out += struct.pack(fixed[inner], int(v or 0))
                elif inner == "Float64":
                    out += struct.pack("<d", float(v or 0.0))
                else:
                    b = ("" if v is None else str(v)).encode()
                    out += write_varint(len(b)) + b
        return bytes(out)

    def close(self):
        self.sock.close()


@pytest.fixture(scope="module")
def native_port(spark):
    srv = NativeServer(Engine(spark), "127.0.0.1", 0).start_background()
    yield srv.port
    srv.stop()


class TestHandshake:
    def test_server_hello_fields(self, native_port):
        c = Client(native_port)
        h = c.server_hello
        assert h["name"] == "moospark"
        assert h["revision"] == 54468
        assert h["timezone"] == "UTC"
        assert h["version"][0] == 25
        c.close()

    def test_ping_pong(self, native_port):
        c = Client(native_port)
        assert c.ping()
        c.close()


class TestQueries:
    def test_select_literal(self, native_port):
        c = Client(native_port)
        cols, rows = c.query("SELECT 1 AS num")
        assert cols[0][0] == "num"
        assert rows == [(1,)]
        c.close()

    def test_literal_matrix(self, native_port):
        # test_suite.py:294-306 shape
        c = Client(native_port)
        cols, rows = c.query("SELECT 42 AS i, 'hello' AS s, 1.5 AS f")
        assert rows == [(42, "hello", 1.5)]
        assert dict(cols)["s"] == "String"
        c.close()

    def test_multirow_beyond_255(self, native_port):
        # the reference caps at 255 rows (main.py:573-574); we must not
        c = Client(native_port)
        cols, rows = c.query("SELECT number FROM numbers(1000) ORDER BY number")
        assert len(rows) == 1000
        assert rows[999] == (999,)
        c.close()

    def test_nullable_column(self, native_port):
        c = Client(native_port)
        cols, rows = c.query(
            "SELECT number % 2 ? number : NULL AS v FROM numbers(4) ORDER BY number"
        )
        assert [r[0] for r in rows] == [None, 1, None, 3]
        assert "Nullable" in dict(cols)["v"]
        c.close()

    def test_ddl_no_data_block(self, native_port):
        c = Client(native_port, user="native_ddl")
        cols, rows = c.query("CREATE TABLE nt (x Int64) ENGINE=Memory")
        assert rows == []
        c.query("INSERT INTO nt VALUES (7)")
        _, rows = c.query("SELECT x FROM nt")
        assert rows == [(7,)]
        c.query("DROP TABLE nt")
        c.close()

    def test_exception_packet(self, native_port):
        c = Client(native_port)
        with pytest.raises(RuntimeError, match="Code:"):
            c.query("SELECT * FROM table_that_is_not_there")
        # connection remains usable after an exception
        _, rows = c.query("SELECT 2 AS x")
        assert rows == [(2,)]
        c.close()

    def test_execution_error_is_exception_packet(self, native_port):
        # the query analyzes fine and fails inside collect()
        c = Client(native_port)
        with pytest.raises(RuntimeError, match="Code: 395"):
            c.query("SELECT raise_error('boom') AS x FROM numbers(3)")
        _, rows = c.query("SELECT 1 AS x")
        assert rows == [(1,)]
        c.close()

    def test_sessions_by_credentials(self, native_port):
        c1 = Client(native_port, user="nat1", password="p1")
        c1.query("CREATE TABLE iso_n (x Int64) ENGINE=Memory")
        c1.query("INSERT INTO iso_n VALUES (5)")
        _, rows = c1.query("SELECT x FROM iso_n")
        assert rows == [(5,)]
        c2 = Client(native_port, user="nat2", password="p2")
        with pytest.raises(RuntimeError):
            c2.query("SELECT x FROM iso_n")
        c1.close()
        c2.close()

    def test_select_is_logged(self, native_port):
        c = Client(native_port, user="nat_qlog")
        c.query("SELECT 4242 AS v")
        _, rows = c.query("SELECT type, query, result_rows FROM system.query_log")
        assert rows == [("QueryFinish", "SELECT 4242 AS v", 1)]
        c.close()

    def test_query_settings_apply(self, native_port):
        c = Client(native_port)
        _, rows = c.query(
            "SELECT number FROM numbers(100) ORDER BY number",
            settings={"max_result_rows": "5"},
        )
        assert rows == [(i,) for i in range(5)]
        c.close()

    def test_dates_and_timestamps(self, native_port):
        import datetime

        c = Client(native_port)
        _, rows = c.query(
            "SELECT toDate('2024-03-05') AS d, toDateTime('2024-03-05 01:02:03') AS t"
        )
        assert rows == [
            (datetime.date(2024, 3, 5), datetime.datetime(2024, 3, 5, 1, 2, 3))
        ]
        c.close()


class TestNativeInsert:
    """Native-protocol INSERT data blocks are APPLIED, not discarded
    (the reference reads and drops them, main.py:677-696)."""

    def test_insert_roundtrip(self, native_port):
        c = Client(native_port, user="nat_ins")
        c.query("CREATE TABLE ni (id Int64, name String) ENGINE=Memory")
        c.insert(
            "INSERT INTO ni (id, name) VALUES",
            ["id", "name"], ["Int64", "String"],
            [(1, "a"), (2, "b"), (3, "c")],
        )
        _, rows = c.query("SELECT id, name FROM ni ORDER BY id")
        assert rows == [(1, "a"), (2, "b"), (3, "c")]
        c.query("DROP TABLE ni")
        c.close()

    def test_insert_multiblock_accumulates(self, native_port):
        c = Client(native_port, user="nat_ins2")
        c.query("CREATE TABLE nm (x Int64) ENGINE=Memory")
        # two DATA blocks before the end marker
        pkt = (
            c._data_block(["x"], ["Int64"], [(1,), (2,)])
            + c._data_block(["x"], ["Int64"], [(3,)])
        )
        # drive the low-level flow by hand
        import struct as _s

        q = (
            write_varint(1)
            + write_str("qid") + bytes([1])
            + write_str("") + write_str("") + write_str("0.0.0.0:0")
            + _s.pack("<Q", 0) + bytes([1])
            + write_str("u") + write_str("h") + write_str("cl")
            + write_varint(25) + write_varint(5) + write_varint(REVISION)
            + write_str("") + write_varint(0)
            + write_str("") + write_str("")
            + write_varint(2) + write_varint(0)
            + write_str("INSERT INTO nm VALUES")
            + write_str("")
        )
        c.sock.sendall(q)
        assert c.varint() == 1  # sample block
        c._skip_block()
        c.sock.sendall(pkt + c._data_block([], [], []))
        assert c.varint() == 5  # END_OF_STREAM
        _, rows = c.query("SELECT x FROM nm ORDER BY x")
        assert rows == [(1,), (2,), (3,)]
        c.query("DROP TABLE nm")
        c.close()

    def test_insert_column_subset_fills_null(self, native_port):
        c = Client(native_port, user="nat_ins3")
        c.query("CREATE TABLE ns (a Int64, b Nullable(String)) ENGINE=Memory")
        c.insert("INSERT INTO ns (a) VALUES", ["a"], ["Int64"], [(10,), (20,)])
        _, rows = c.query("SELECT a, b FROM ns ORDER BY a")
        assert rows == [(10, None), (20, None)]
        c.query("DROP TABLE ns")
        c.close()

    def test_insert_nullable_values(self, native_port):
        c = Client(native_port, user="nat_ins4")
        c.query("CREATE TABLE nv (a Int64, s Nullable(String)) ENGINE=Memory")
        c.insert(
            "INSERT INTO nv (a, s) VALUES",
            ["a", "s"], ["Int64", "Nullable(String)"],
            [(1, "x"), (2, None)],
        )
        _, rows = c.query("SELECT a, s FROM nv ORDER BY a")
        assert rows == [(1, "x"), (2, None)]
        c.query("DROP TABLE nv")
        c.close()

    def test_insert_unknown_table_exception(self, native_port):
        c = Client(native_port, user="nat_ins5")
        with pytest.raises(RuntimeError, match="Code:"):
            c.insert("INSERT INTO no_such (x) VALUES", ["x"], ["Int64"], [(1,)])
        # connection stays usable
        _, rows = c.query("SELECT 1 AS one")
        assert rows == [(1,)]
        c.close()

    def test_insert_respects_merge_tree_order(self, native_port):
        c = Client(native_port, user="nat_ins6")
        c.query(
            "CREATE TABLE no (k Int64, v Int64) "
            "ENGINE = MergeTree() ORDER BY (k)"
        )
        c.insert(
            "INSERT INTO no (k, v) VALUES",
            ["k", "v"], ["Int64", "Int64"],
            [(3, 30), (1, 10), (2, 20)],
        )
        _, rows = c.query("SELECT k, v FROM no WHERE k = 2")
        assert rows == [(2, 20)]
        c.query("DROP TABLE no")
        c.close()


    def test_same_select_text_sees_native_insert(self, native_port):
        # a plan cached before a native INSERT must not answer after it
        c = Client(native_port, user="nat_ins7")
        c.query("CREATE TABLE nr (a Int64, s String) ENGINE=Memory")
        ins = ("INSERT INTO nr (a, s) VALUES", ["a", "s"], ["Int64", "String"])
        c.insert(*ins, [(1, "x")])
        q = "SELECT a, s FROM nr ORDER BY a"
        assert c.query(q)[1] == [(1, "x")]
        assert c.query("SELECT count() AS n FROM nr")[1] == [(1,)]
        c.insert(*ins, [(2, "y")])
        assert c.query(q)[1] == [(1, "x"), (2, "y")]
        assert c.query("SELECT count() AS n FROM nr")[1] == [(2,)]
        c.close()


class TestQueryParameters:
    """Server-side {name:Type} binding over the native wire (the
    parameter entries after the query string in the QUERY packet)."""

    def test_int_param(self, native_port):
        c = Client(native_port)
        cols, rows = c.query("SELECT {n:Int32} + 1 AS r", params={"n": "41"})
        assert rows == [(42,)]
        c.close()

    def test_string_param_quoted_literal(self, native_port):
        c = Client(native_port)
        _cols, rows = c.query(
            "SELECT concat({s:String}, '!') AS r", params={"s": "'moo'"}
        )
        assert rows == [("moo!",)]
        c.close()
