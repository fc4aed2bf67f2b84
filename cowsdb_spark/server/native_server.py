"""ClickHouse native TCP protocol server (reference main.py:219-814,
SURVEY §3.2), emitting typed Native blocks directly from engine
results instead of round-tripping a parsed blob (the reference's
re-serializer handles only 5 types and ≤255 rows, main.py:570-654).

Packet flow: client HELLO → server HELLO (name/version/revision,
TZ "UTC", display name, patch, password rules, nonce — gated on the
negotiated revision exactly as main.py:341-402) → loop of
QUERY/DATA/PING/CANCEL. SELECT results go back as one DATA packet
(empty table name + BlockInfo + typed block) then END_OF_STREAM;
errors as EXCEPTION packets.
"""

from __future__ import annotations

import re
import socket
import struct
import threading
import zlib

from ..dialect.insert import InsertHeader, parse_insert
from ..engine import Engine, EngineError
from ..formats import QueryResult
from ..formats.native import (
    encode_column,
    read_block,
    wire_type,
    write_varint,
    write_varstr,
)
from .compression import METHOD_LZ4, FrameReader, compress_frame

# What follows the header of an INSERT that carries no inline data —
# the native protocol streams the payload as DATA blocks after the
# QUERY packet (clickhouse-driver sends exactly "INSERT INTO t (a, b)
# VALUES"). The reference reads and DISCARDS those blocks
# (main.py:677-696); we apply them.
_NATIVE_INSERT_TAIL = re.compile(r"\s*(?:VALUES|FORMAT\s+\w+)?\s*;?\s*", re.IGNORECASE)


class ClientPacket:
    HELLO = 0
    QUERY = 1
    DATA = 2
    CANCEL = 3
    PING = 4


class ServerPacket:
    HELLO = 0
    DATA = 1
    EXCEPTION = 2
    PONG = 4
    END_OF_STREAM = 5


DBMS_NAME = "moospark"
VERSION_MAJOR = 25
VERSION_MINOR = 5
VERSION_PATCH = 2
REVISION = 54468

MIN_REV_SERVER_TIMEZONE = 54058
MIN_REV_DISPLAY_NAME = 54372
MIN_REV_VERSION_PATCH = 54401
MIN_REV_PASSWORD_RULES = 54461
MIN_REV_INTERSERVER_SECRET_V2 = 54462
MIN_REV_CLIENT_INFO = 54032
MIN_REV_QUOTA_KEY = 54060
MIN_REV_SETTINGS_AS_STRINGS = 54429
MIN_REV_INTERSERVER_SECRET = 54441
MIN_REV_PARAMETERS = 54459
MIN_REV_INITIAL_QUERY_START_TIME = 54449
MIN_REV_CUSTOM_SERIALIZATION = 54454


class _Reader:
    """Buffered socket reader with the CH primitive decoders
    (varint / length-prefixed string — reference main.py:724-814)."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.buf = b""
        self.pos = 0

    def _need(self, n: int) -> bytes:
        while len(self.buf) - self.pos < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("client closed")
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

    def binary_str(self) -> str:
        ln = self.varint()
        return self._need(ln).decode("utf-8", "replace")

    def uint8(self) -> int:
        return self._need(1)[0]

    def uint64(self) -> int:
        return struct.unpack("<Q", self._need(8))[0]


class NativeServer:
    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 9000):
        self.engine = engine
        self.host = host
        self.port = port
        self.sock: socket.socket | None = None
        self.running = False

    # ---------------------------------------------------------------- lifecycle

    def start_background(self) -> "NativeServer":
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.settimeout(1.0)
        self.sock.bind((self.host, self.port))
        self.port = self.sock.getsockname()[1]
        self.sock.listen(16)
        self.running = True
        threading.Thread(target=self._accept_loop, daemon=True).start()
        return self

    def stop(self):
        self.running = False
        if self.sock:
            self.sock.close()

    def _accept_loop(self):
        while self.running:
            try:
                client, _addr = self.sock.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            client.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            client.settimeout(60.0)
            threading.Thread(target=self._handle, args=(client,), daemon=True).start()

    # ---------------------------------------------------------------- protocol

    def _handle(self, client: socket.socket):
        state = {"revision": REVISION, "user": "default", "password": ""}
        r = _Reader(client)
        try:
            if not self._handshake(client, r, state):
                return
            while True:
                ptype = r.varint()
                if ptype == ClientPacket.QUERY:
                    self._handle_query(client, r, state)
                elif ptype == ClientPacket.DATA:
                    # Out-of-band DATA — the empty external-tables end
                    # marker every clickhouse-driver SELECT sends after
                    # its QUERY packet. Consume the full block to keep
                    # the stream in sync and swallow it SILENTLY: the
                    # reference answers with a spurious END_OF_STREAM
                    # here, desynchronizing the second query on a
                    # reused connection.
                    self._read_data_block(r, state)
                elif ptype == ClientPacket.PING:
                    client.sendall(write_varint(ServerPacket.PONG))
                elif ptype == ClientPacket.CANCEL:
                    pass
                elif ptype == ClientPacket.HELLO:
                    pass
                else:
                    return
        except (ConnectionError, socket.timeout, OSError):
            pass
        finally:
            client.close()

    def _handshake(self, client: socket.socket, r: _Reader, state: dict) -> bool:
        if r.varint() != ClientPacket.HELLO:
            return False
        r.binary_str()  # client name
        r.varint()  # version major
        r.varint()  # version minor
        client_revision = r.varint()
        database = r.binary_str()
        state["user"] = r.binary_str() or "default"
        state["password"] = r.binary_str()
        state["revision"] = min(client_revision, REVISION)
        if database:
            state["database"] = database
        used = state["revision"]
        out = bytearray()
        out += write_varint(ServerPacket.HELLO)
        out += write_varstr(DBMS_NAME)
        out += write_varint(VERSION_MAJOR)
        out += write_varint(VERSION_MINOR)
        out += write_varint(REVISION)
        if used >= MIN_REV_SERVER_TIMEZONE:
            out += write_varstr("UTC")
        if used >= MIN_REV_DISPLAY_NAME:
            out += write_varstr(DBMS_NAME)
        if used >= MIN_REV_VERSION_PATCH:
            out += write_varint(VERSION_PATCH)
        if used >= MIN_REV_PASSWORD_RULES:
            out += write_varint(0)
        if used >= MIN_REV_INTERSERVER_SECRET_V2:
            out += struct.pack("<Q", 0)
        client.sendall(bytes(out))
        return True

    def _read_query_packet(self, r: _Reader, state: dict) -> tuple[str, dict]:
        rev = state["revision"]
        r.binary_str()  # query id
        if rev >= MIN_REV_CLIENT_INFO:
            kind = r.uint8()
            if kind != 0:
                r.binary_str()  # initial user
                r.binary_str()  # initial query id
                r.binary_str()  # initial address
                if rev >= MIN_REV_INITIAL_QUERY_START_TIME:
                    r.uint64()
                r.uint8()  # interface
                r.binary_str()  # os user
                r.binary_str()  # hostname
                r.binary_str()  # client name
                r.varint()
                r.varint()
                crev = r.varint()
                if crev >= MIN_REV_QUOTA_KEY:
                    r.binary_str()
                if crev >= 54448:
                    r.varint()  # distributed depth
        settings: dict[str, str] = {}
        as_strings = rev >= MIN_REV_SETTINGS_AS_STRINGS
        while True:
            name = r.binary_str()
            if not name:
                break
            if as_strings:
                r.uint8()  # flags
                settings[name] = r.binary_str()
        if rev >= MIN_REV_INTERSERVER_SECRET:
            r.binary_str()
        r.varint()  # stage
        compression = r.varint()
        state["compression"] = compression
        # Real clients always send the query text as a plain varstr —
        # the compression flag governs DATA blocks, not this string
        # (the reference instead zlib-decompresses the query body,
        # main.py:505-512; we accept that dialect too as a fallback).
        ln = r.varint()
        raw = r._need(ln)
        if compression and raw[:1] == b"\x78":
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                pass
        query = raw.decode("utf-8", "replace")
        params: dict[str, str] = {}
        if rev >= MIN_REV_PARAMETERS:
            while True:
                pname = r.binary_str()
                if not pname:
                    break
                r.uint8()
                pval = r.binary_str()
                # clients send parameter values as escaped CH literals
                # ('abc' for strings); the engine binder adds its own
                # quoting, so strip one literal layer if present
                if len(pval) >= 2 and pval[0] == "'" and pval[-1] == "'":
                    pval = pval[1:-1].replace("\\'", "'").replace("\\\\", "\\")
                params[pname] = pval
        return query, settings, params

    def _read_data_block(self, r: _Reader, state: dict):
        """Read one client DATA packet body (table name on the raw
        stream, block on the possibly-compressed stream — the same
        split clickhouse-driver uses) and return (names, types, rows)."""
        r.binary_str()  # table name — always plain
        src = FrameReader(r) if state.get("compression") else r
        return read_block(src, state["revision"] >= MIN_REV_CUSTOM_SERIALIZATION)

    def _handle_query(self, client: socket.socket, r: _Reader, state: dict):
        query, settings, qparams = self._read_query_packet(r, state)
        hdr = parse_insert(query)
        if hdr is not None and _NATIVE_INSERT_TAIL.fullmatch(query, hdr.body_at):
            self._handle_insert(client, r, state, hdr)
            return
        try:
            # the same collect-once path as HTTP; INTO OUTFILE is
            # ignored on this wire
            res, _fmt, _merged, _stats = self.engine.execute_collect(
                query,
                user=state["user"],
                password=state["password"],
                database=state.get("database"),
                extra_settings=settings or None,
                params=qparams or None,
            )
            if res is not None:
                client.sendall(self._data_packet(res, state))
            client.sendall(write_varint(ServerPacket.END_OF_STREAM))
        except EngineError as e:
            out = bytearray()
            out += write_varint(ServerPacket.EXCEPTION)
            out += write_varstr(str(e))
            client.sendall(bytes(out))

    def _handle_insert(
        self, client: socket.socket, r: _Reader, state: dict, hdr: InsertHeader
    ):
        """Native INSERT: send the target table's sample block, read
        the client's DATA blocks until the empty end-of-data marker,
        apply them through the engine (reference discards them —
        main.py:677-696 — a fidelity bug we fix), then END_OF_STREAM."""
        table, want_cols = hdr.ref, hdr.columns
        try:
            all_names, all_types = self.engine.table_columns(
                table,
                user=state["user"],
                password=state["password"],
                database=state.get("database"),
            )
            if want_cols:
                by_name = dict(zip(all_names, all_types))
                unknown = [c for c in want_cols if c not in by_name]
                if unknown:
                    raise EngineError(f"Unknown column(s) {unknown} in {table}", 47)
                names = want_cols
                types = [by_name[c] for c in names]
            else:
                names, types = all_names, all_types
            sample = QueryResult(columns=names, ch_types=types, rows=[])
            client.sendall(self._data_packet(sample, state))
        except EngineError as e:
            client.sendall(
                write_varint(ServerPacket.EXCEPTION) + write_varstr(str(e))
            )
            return
        got_rows: list[tuple] = []
        got_names: list[str] = list(names)
        got_types: list[str] = list(types)
        try:
            while True:
                ptype = r.varint()
                if ptype == ClientPacket.DATA:
                    b_names, b_types, b_rows = self._read_data_block(r, state)
                    if not b_names and not b_rows:
                        break  # end-of-data marker block
                    got_names, got_types = b_names, b_types
                    got_rows.extend(b_rows)
                elif ptype == ClientPacket.CANCEL:
                    client.sendall(write_varint(ServerPacket.END_OF_STREAM))
                    return
                elif ptype == ClientPacket.PING:
                    client.sendall(write_varint(ServerPacket.PONG))
                else:
                    return
        except (ConnectionError, socket.timeout):
            return
        try:
            if got_rows:
                self.engine.insert_rows(
                    table,
                    got_names,
                    got_rows,
                    user=state["user"],
                    password=state["password"],
                    database=state.get("database"),
                    ch_types=got_types,
                )
            client.sendall(write_varint(ServerPacket.END_OF_STREAM))
        except EngineError as e:
            client.sendall(
                write_varint(ServerPacket.EXCEPTION) + write_varstr(str(e))
            )

    def _data_packet(self, res: QueryResult, state: dict) -> bytes:
        rows = res.rows
        block = bytearray()
        # BlockInfo (main.py:565-571 equivalent)
        block += write_varint(1)
        block += bytes([0])  # is_overflows = false
        block += write_varint(2)
        block += struct.pack("<i", -1)  # bucket_num
        block += write_varint(0)
        block += write_varint(len(res.columns))
        block += write_varint(len(rows))
        with_custom_flag = state["revision"] >= MIN_REV_CUSTOM_SERIALIZATION
        for ci, (name, ch_t) in enumerate(zip(res.columns, res.ch_types)):
            wire = wire_type(ch_t)
            block += write_varstr(name)
            block += write_varstr(wire)
            if with_custom_flag:
                block += bytes([0])  # no custom serialization
            block += encode_column(wire, [row[ci] for row in rows])
        body = bytes(block)
        if state.get("compression"):
            # table name stays on the raw stream; only the block is
            # framed (clickhouse-driver's reader splits exactly there)
            body = compress_frame(body, METHOD_LZ4)
        return write_varint(ServerPacket.DATA) + write_varstr("") + body


def main():
    import argparse

    p = argparse.ArgumentParser(description="moospark native TCP server")
    p.add_argument("--host", default="0.0.0.0")
    p.add_argument("--port", type=int, default=9000)
    args = p.parse_args()
    srv = NativeServer(Engine(), args.host, args.port)
    srv.start_background()
    print(f"moospark native protocol: {args.host}:{srv.port}")
    import time

    while True:
        time.sleep(3600)


if __name__ == "__main__":
    main()
