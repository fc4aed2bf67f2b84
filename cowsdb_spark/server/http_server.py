"""ClickHouse HTTP API clone (reference main.py:849-913) on stdlib
``http.server`` (no Flask in this environment).

Behavior parity, cited to the reference:

- GET / with ``?query=`` executes; without → serve the Play UI
  (main.py:854-856). POST / concatenates the ``query`` param and the
  body (main.py:870-890) — but WITHOUT the reference's multiline
  flattening hack, which corrupts string literals containing
  newlines (main.py:884-889; SURVEY 'do not copy' list).
- ``default_format`` (default TSV) and ``database`` URL params
  (main.py:853,859-860,875,895-897).
- Basic auth accepted for ANY credentials — credentials select a
  session namespace, they don't gate access (main.py:816-821).
- Success → 200 with formatted bytes; failure → 400 with the error
  text (main.py:863-868). Partial success (result + non-fatal
  warning, the reference's 200-with-stderr path main.py:863-868)
  returns 200 with the result plus an ``X-ClickHouse-Warning``
  header carrying the engine's warning text (e.g. accepted-but-
  ignored SETTINGS), and logs it server-side like the reference.
- GET /ping → "Ok\\n" (main.py:911-913); 404 → Play UI
  (main.py:915-917).

Threading: ThreadingHTTPServer, one engine shared across handler
threads — the engine's lock serializes catalog mutation exactly like
the reference's session_lock (main.py:34).
"""

from __future__ import annotations

import base64
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..engine import Engine, EngineError
from ..formats import content_type

# Vendored ClickHouse Play UI (Apache-2.0; the same asset the
# reference serves, main.py:854-856,915-917 + public/index.html).
# It POSTs to / with Basic auth, default_format=JSONCompact and
# max_result_rows/... settings as URL params — all handled below.
_STATIC = __import__("pathlib").Path(__file__).parent / "static" / "play.html"
try:
    PLAY_HTML = _STATIC.read_bytes()
except OSError:  # pragma: no cover — asset missing in a partial checkout
    PLAY_HTML = b"""<!DOCTYPE html><html><head><title>moospark</title></head>
<body><h3>moospark \xe2\x80\x94 ClickHouse-compatible HTTP API on Spark</h3>
<p>POST your query to / or use ?query=...</p></body></html>
"""

# URL parameters that are query-level settings, not control params
# (the Play UI sends max_result_rows=1000&max_result_bytes=...&
# result_overflow_mode=break on every request).
_NON_SETTING_PARAMS = {
    "query",
    "default_format",
    "database",
    "user",
    "password",
    "add_http_cors_header",
}


class _Handler(BaseHTTPRequestHandler):
    engine: Engine  # injected by serve()
    protocol_version = "HTTP/1.1"
    # TCP_NODELAY: headers and body are separate small writes, and with
    # Nagle on the body waits for the client's delayed ACK (~40 ms)
    disable_nagle_algorithm = True

    # -- helpers ----------------------------------------------------------

    def _auth(self, qs=None) -> tuple[str, str]:
        # X-ClickHouse-User/Key headers (CH HTTP interface) take
        # precedence over Basic auth, like clickhouse-server
        xu = self.headers.get("X-ClickHouse-User")
        if xu:
            return xu, self.headers.get("X-ClickHouse-Key", "")
        hdr = self.headers.get("Authorization", "")
        if hdr.startswith("Basic "):
            try:
                raw = base64.b64decode(hdr[6:]).decode("utf-8")
                user, _, pw = raw.partition(":")
                return user or "default", pw
            except Exception:
                pass
        if qs and qs.get("user"):
            # file://-opened Play UI falls back to URL credentials
            return qs["user"][0] or "default", (qs.get("password") or [""])[0]
        return "default", ""

    def _fmt_db(self, qs) -> tuple:
        """(format, database) from URL params, falling back to the
        X-ClickHouse-Format / X-ClickHouse-Database headers; a None
        format falls through to the session SET, then TSV."""
        fmt = (qs.get("default_format") or [None])[0] or self.headers.get(
            "X-ClickHouse-Format"
        )
        db = (qs.get("database") or [""])[0] or self.headers.get(
            "X-ClickHouse-Database", ""
        )
        return fmt, db

    def _begin(self, code: int, cors: bool = False):
        """Status line + the headers every response carries."""
        self.send_response(code)
        self.send_header("X-ClickHouse-Server-Display-Name", "moospark")
        if cors:
            self.send_header("Access-Control-Allow-Origin", "*")

    def _send(
        self,
        code: int,
        body: bytes,
        ctype: str = "text/plain; charset=UTF-8",
        cors: bool = False,
        extra_headers: dict | None = None,
        started: bool = False,
    ):
        """Finish a response. ``started``: the status line already went
        out with the progress frames, so only the rest follows."""
        if not started:
            self._begin(code, cors)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        for k, v in (extra_headers or {}).items():
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)

    def _run(self, query: str, fmt: str, database: str, qs=None):
        import json as _json
        import time as _time
        import uuid as _uuid

        user, pw = self._auth(qs)
        cors = bool(qs and qs.get("add_http_cors_header", ["0"])[0] == "1")
        extra = {
            k: v[0]
            for k, v in (qs or {}).items()
            if k not in _NON_SETTING_PARAMS and v
        }
        # server-side query parameters (`param_<name>` URL params bind
        # `{name:Type}` placeholders — the CH parameterized-query
        # protocol); not settings, so claim them before the warning
        # channel sees them
        qparams = {
            k[len("param_"):]: extra.pop(k)
            for k in [k for k in extra if k.startswith("param_")]
        }
        # CH echoes the client's query_id or generates one; clients
        # (and the go/python drivers) read it back from this header
        # CH HTTP sessions: session_id scopes SET/USE state across
        # requests; session_timeout (seconds) expires it after idle;
        # session_check=1 errors if the session does not exist yet.
        session_id = extra.pop("session_id", "")
        session_timeout = extra.pop("session_timeout", "")
        session_check = extra.pop("session_check", "0") in ("1", "true")
        if session_check and session_id and not self.engine.has_session(
            user, pw, session_id
        ):
            self._send(
                400,
                f"Code: 372. Session not found: {session_id}\n".encode(),
            )
            return
        if session_id:
            try:
                t = float(session_timeout) if session_timeout else None
            except ValueError:
                t = None
            self.engine.get_session(user, pw, session_id, session_timeout=t)
        qid = extra.pop("query_id", "") or _uuid.uuid4().hex
        hdrs = {"X-ClickHouse-Query-Id": qid, "X-ClickHouse-Timezone": "UTC"}
        # `enable_http_compression=1` + Accept-Encoding: gzip|deflate →
        # compressed response body with Content-Encoding (the CH HTTP
        # compression contract clickhouse-connect negotiates).
        want_compress = extra.pop("enable_http_compression", "0") in ("1", "true")
        accept_enc = (self.headers.get("Accept-Encoding") or "").lower()
        encoding = None
        if want_compress:
            if "gzip" in accept_enc:
                encoding = "gzip"
            elif "deflate" in accept_enc:
                encoding = "deflate"

        def _encode_body(b: bytes) -> bytes:
            if encoding == "gzip":
                import gzip as _gzip

                return _gzip.compress(b, 6)
            if encoding == "deflate":
                import zlib as _zlib

                return _zlib.compress(b, 6)
            return b

        # `send_progress_in_http_headers=1`: stream X-ClickHouse-Progress
        # header frames while the query runs (CH HTTP interface; clients
        # poll them on long queries). Beyond the reference, which sends
        # one-shot responses (main.py:849-913).
        want_progress = extra.pop("send_progress_in_http_headers", "0") in ("1", "true")
        try:
            interval_s = (
                int(extra.pop("http_headers_progress_interval_ms", "100") or 100)
                / 1000.0
            )
        except ValueError:
            interval_s = 0.1
        # interval 0 would turn done.wait(0) into a busy-spin that
        # accumulates header frames unboundedly; clamp to 10ms
        interval_s = max(interval_s, 0.01)

        def _progress_json(elapsed_ns: int, rows: int = 0, nbytes: int = 0) -> str:
            return _json.dumps(
                {
                    "read_rows": str(rows),
                    "read_bytes": str(nbytes),
                    "total_rows_to_read": "0",
                    "written_rows": "0",
                    "written_bytes": "0",
                    "elapsed_ns": str(elapsed_ns),
                },
                separators=(",", ":"),
            )

        started = False  # status line already committed (progress mode)
        t0 = _time.time()
        outcome: dict = {}
        if want_progress:
            done = threading.Event()

            def work():
                try:
                    outcome["ok"] = self.engine.execute_with_format(
                        query.strip(), fmt=fmt, user=user, password=pw,
                        database=database or None, extra_settings=extra or None,
                        params=qparams or None, session_id=session_id,
                    )
                except Exception as e:  # noqa: BLE001 — re-raised below
                    outcome["err"] = e
                finally:
                    done.set()

            threading.Thread(target=work, daemon=True).start()
            while not done.wait(interval_s):
                if not started:
                    # commit 200 + start streaming headers (same
                    # contract as clickhouse-server: with progress
                    # headers on, a late failure arrives in-body)
                    self._begin(200, cors)
                    for k in list(hdrs):
                        self.send_header(k, hdrs.pop(k))
                    started = True
                self.send_header(
                    "X-ClickHouse-Progress",
                    _progress_json(int((_time.time() - t0) * 1e9)),
                )
                # send_header only appends to _headers_buffer;
                # flush_headers actually writes each frame to the
                # socket NOW (wfile.flush alone flushes nothing —
                # the frames would all arrive after the query ends)
                self.flush_headers()
        try:
            if want_progress:
                if "err" in outcome:
                    raise outcome["err"]
                body, used_fmt, stats = outcome["ok"]
            else:
                body, used_fmt, stats = self.engine.execute_with_format(
                    query.strip(), fmt=fmt, user=user, password=pw,
                    database=database or None, extra_settings=extra or None,
                    params=qparams or None, session_id=session_id,
                )
            # Partial-success warning channel (reference main.py:863-868:
            # result + stderr text → 200 with the result, warning logged).
            # We additionally surface the text to the client in an
            # X-ClickHouse-Warning header so it's observable, not just
            # server-side log noise.
            warn = "; ".join(stats.pop("warnings", []))
            if warn:
                print(f"warning: {warn}", file=sys.stderr)
                hdrs["X-ClickHouse-Warning"] = warn
            summary = _progress_json(
                stats.get("elapsed_ns", 0),
                stats.get("result_rows", 0),
                stats.get("result_bytes", 0),
            )
            hdrs["X-ClickHouse-Format"] = used_fmt
            hdrs["X-ClickHouse-Summary"] = _json.dumps(
                {
                    "read_rows": str(stats.get("result_rows", 0)),
                    "read_bytes": str(stats.get("result_bytes", 0)),
                    "written_rows": "0",
                    "written_bytes": "0",
                    "total_rows_to_read": "0",
                    "result_rows": str(stats.get("result_rows", 0)),
                    "result_bytes": str(stats.get("result_bytes", 0)),
                    "elapsed_ns": str(stats.get("elapsed_ns", 0)),
                },
                separators=(",", ":"),
            )
            if encoding is not None:
                body = _encode_body(body)
                hdrs["Content-Encoding"] = encoding
            if want_progress:
                # final progress frame (CH always sends one)
                hdrs["X-ClickHouse-Progress"] = summary
            self._send(
                200, body, content_type(used_fmt), cors=cors,
                extra_headers=hdrs, started=started,
            )
        except EngineError as e:
            # once progress frames went out the status is committed;
            # the error goes in-body
            hdrs["X-ClickHouse-Exception-Code"] = str(e.code)
            self._send(
                400, (str(e) + "\n").encode("utf-8"), cors=cors,
                extra_headers=hdrs, started=started,
            )
        except Exception as e:  # engine bug → 500, not a hang
            err_body = (f"Code: 1000. Internal error: {e}\n").encode("utf-8")
            self._send(500, err_body, started=started)

    # -- routes -----------------------------------------------------------

    def do_GET(self):
        url = urlparse(self.path)
        qs = parse_qs(url.query)
        if url.path == "/ping":
            self._send(200, b"Ok\n")
            return
        if url.path in ("/", "/play"):
            query = (qs.get("query") or [""])[0]
            if not query:
                self._send(200, PLAY_HTML, "text/html; charset=UTF-8")
                return
            fmt, database = self._fmt_db(qs)
            self._run(query, fmt, database, qs)
            return
        # 404 → Play UI (reference main.py:915-917)
        self._send(200, PLAY_HTML, "text/html; charset=UTF-8")

    def do_POST(self):
        url = urlparse(self.path)
        qs = parse_qs(url.query)
        length = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(length) if length else b""
        # compressed request bodies (CH accepts Content-Encoding on
        # ingestion; clickhouse-connect gzips large INSERT payloads)
        enc = (self.headers.get("Content-Encoding") or "").lower()
        try:
            if enc in ("gzip", "x-gzip"):
                import gzip as _gzip

                raw = _gzip.decompress(raw)
            elif enc == "deflate":
                import zlib as _zlib

                raw = _zlib.decompress(raw)
        except Exception:
            self._send(400, b"Error: malformed compressed request body\n")
            return
        # surrogateescape, not replace: binary INSERT payloads (FORMAT
        # Avro / RowBinary-style) must round-trip losslessly through
        # the str-typed engine path — .encode("utf-8","surrogateescape")
        # recovers the exact original bytes; valid UTF-8 is unaffected
        body = raw.decode("utf-8", "surrogateescape") if raw else ""
        query_param = (qs.get("query") or [""])[0]
        # param + body concatenation (main.py:873-890), no flattening
        query = (query_param + ("\n" if query_param and body else "") + body).strip()
        if not query:
            self._send(400, b"Error: no query parameter provided\n")
            return
        fmt, database = self._fmt_db(qs)
        self._run(query, fmt, database, qs)

    def log_message(self, *args):  # quiet
        pass


def make_server(engine: Engine, host: str = "127.0.0.1", port: int = 8123) -> ThreadingHTTPServer:
    handler = type("BoundHandler", (_Handler,), {"engine": engine})
    return ThreadingHTTPServer((host, port), handler)


def serve_background(engine: Engine, host: str = "127.0.0.1", port: int = 8123):
    """Start the HTTP server on a daemon thread; returns the server."""
    srv = make_server(engine, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv


def main():
    import argparse

    p = argparse.ArgumentParser(description="moospark ClickHouse-compatible HTTP server")
    p.add_argument("--host", default="0.0.0.0")
    p.add_argument("--port", type=int, default=8123)
    args = p.parse_args()
    srv = make_server(Engine(), args.host, args.port)
    print(f"moospark HTTP API: http://{args.host}:{args.port}")
    srv.serve_forever()


if __name__ == "__main__":
    main()
