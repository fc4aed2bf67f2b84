"""HTTP protocol conformance — the reference's own HTTP tests
(test_suite.py:109-179,367-390) re-pointed at our server."""

from __future__ import annotations

import base64
import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from cowsdb_spark.engine import Engine
from cowsdb_spark.server.http_server import serve_background


@pytest.fixture(scope="module")
def http(spark):
    engine = Engine(spark)
    srv = serve_background(engine, "127.0.0.1", 0)
    host, port = srv.server_address
    yield f"http://{host}:{port}"
    srv.shutdown()


def get(base, query=None, user=None, password=None, path="/", **params):
    if query is not None:
        params["query"] = query
    url = base + path + ("?" + urllib.parse.urlencode(params) if params else "")
    req = urllib.request.Request(url)
    if user is not None:
        cred = base64.b64encode(f"{user}:{password or ''}".encode()).decode()
        req.add_header("Authorization", f"Basic {cred}")
    with urllib.request.urlopen(req) as r:
        return r.status, r.read()


def post(base, body, query=None, **params):
    if query is not None:
        params["query"] = query
    url = base + "/" + ("?" + urllib.parse.urlencode(params) if params else "")
    req = urllib.request.Request(url, data=body.encode(), method="POST")
    with urllib.request.urlopen(req) as r:
        return r.status, r.read()


class TestBasics:
    def test_ping(self, http):
        assert get(http, path="/ping") == (200, b"Ok\n")

    def test_select_1(self, http):
        # test_suite.py:109-126 shape
        assert get(http, "SELECT 1") == (200, b"1\n")

    def test_literal_types(self, http):
        # test_suite.py:138-161
        status, body = get(http, "SELECT 1 AS i, 'hello' AS s, 3.14 AS f")
        assert status == 200 and body == b"1\thello\t3.14\n"

    def test_no_query_serves_ui(self, http):
        status, body = get(http)
        assert status == 200 and b"html" in body.lower()


def test_accepted_socket_has_nodelay():
    """Headers and body leave as separate writes; without TCP_NODELAY
    the body waits on the client's delayed ACK."""
    import socket
    import threading

    from cowsdb_spark.server.http_server import make_server

    srv = make_server(None, "127.0.0.1", 0)  # /ping needs no engine
    seen = []

    class Probe(srv.RequestHandlerClass):
        def setup(self):
            super().setup()
            seen.append(self.connection.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY))

    srv.RequestHandlerClass = Probe
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        host, port = srv.server_address
        assert get(f"http://{host}:{port}", path="/ping") == (200, b"Ok\n")
    finally:
        srv.shutdown()
        srv.server_close()
    assert seen and seen[0] != 0


class TestFormats:
    def test_default_format_param(self, http):
        status, body = get(http, "SELECT 1 AS num", default_format="JSONCompact")
        doc = json.loads(body)
        assert doc["data"] == [[1]]
        assert doc["meta"][0]["name"] == "num"
        assert "statistics" in doc

    def test_format_clause_wins(self, http):
        status, body = get(http, "SELECT 1 AS num FORMAT CSV", default_format="TSV")
        assert body == b"1\n"

    def test_csv(self, http):
        status, body = get(http, "SELECT 'a,b' AS s, 2 AS n", default_format="CSV")
        assert body == b'"a,b",2\n'


class TestPost:
    def test_post_body_query(self, http):
        assert post(http, "SELECT 2 + 2") == (200, b"4\n")

    def test_post_multiline_preserves_string_newlines(self, http):
        # the reference flattens the body and corrupts this
        # (main.py:884-889); we must not.
        status, body = post(http, "SELECT 'line1\nline2' AS s FORMAT JSONCompact")
        doc = json.loads(body)
        assert doc["data"] == [["line1\nline2"]]

    def test_post_empty(self, http):
        with pytest.raises(urllib.error.HTTPError) as ei:
            post(http, "")
        assert ei.value.code == 400


class TestErrorsAndSessions:
    def test_bad_query_400_with_message(self, http):
        with pytest.raises(urllib.error.HTTPError) as ei:
            get(http, "SELECT * FROM nope_nope")
        assert ei.value.code == 400
        assert b"Code:" in ei.value.read()

    def test_execution_error_has_ch_code(self, http):
        # fails inside collect(), after analysis succeeded
        with pytest.raises(urllib.error.HTTPError) as ei:
            get(http, "SELECT raise_error('boom') AS x FROM numbers(3)")
        assert ei.value.code == 400
        assert ei.value.headers["X-ClickHouse-Exception-Code"] == "395"
        assert ei.value.read().startswith(b"Code: 395.")

    def test_database_param(self, http):
        get(http, "CREATE DATABASE IF NOT EXISTS dbp")
        get(http, "CREATE TABLE IF NOT EXISTS t (x Int64) ENGINE=Memory", database="dbp")
        get(http, "INSERT INTO t VALUES (5)", database="dbp")
        assert get(http, "SELECT x FROM t", database="dbp") == (200, b"5\n")

    def test_any_credentials_accepted_select_session(self, http):
        # main.py:816-821: creds select a namespace, never rejected
        s1, _ = get(http, "CREATE TABLE ses (x Int64) ENGINE=Memory", user="u1", password="p")
        assert s1 == 200
        get(http, "INSERT INTO ses VALUES (9)", user="u1", password="p")
        assert get(http, "SELECT x FROM ses", user="u1", password="p") == (200, b"9\n")
        # different credentials: same table name invisible
        with pytest.raises(urllib.error.HTTPError):
            get(http, "SELECT x FROM ses", user="u2", password="q")

    def test_session_persists_across_requests(self, http):
        # CI flow shape (test.yml:46-56): CREATE in one request,
        # INSERT/SELECT in later ones.
        get(http, "CREATE TABLE persist_t (v Int64) ENGINE=Memory", user="ci", password="ci")
        get(http, "INSERT INTO persist_t VALUES (1), (2)", user="ci", password="ci")
        assert get(http, "SELECT sum(v) AS s FROM persist_t", user="ci", password="ci") == (
            200,
            b"3\n",
        )


class TestHttpSessionId:
    """CH HTTP sessions: session_id scopes SET/USE state across
    requests; session_check=1 errors on a missing session (CH code
    372); session_timeout expires idle sessions."""

    def test_set_scoped_to_session_id(self, http):
        get(http, "SET default_format = 'JSONCompact'", session_id="sidA")
        # same session: SET is visible (JSON body, not TSV)
        _, body = get(http, "SELECT 1 AS v", session_id="sidA")
        assert body.lstrip().startswith(b"{")
        # no session_id: base per-credential session, unaffected
        assert get(http, "SELECT 1 AS v") == (200, b"1\n")
        # different session id: also unaffected
        assert get(http, "SELECT 1 AS v", session_id="sidB") == (200, b"1\n")

    def test_use_scoped_to_session_id(self, http):
        get(http, "CREATE DATABASE IF NOT EXISTS sdb")
        get(http, "CREATE TABLE IF NOT EXISTS sdb.st (x Int64) ENGINE=Memory")
        get(http, "INSERT INTO sdb.st VALUES (7)")
        get(http, "USE sdb", session_id="sidU")
        assert get(http, "SELECT x FROM st", session_id="sidU") == (200, b"7\n")
        # the USE did not leak into the id-less session
        import urllib.error

        with pytest.raises(urllib.error.HTTPError):
            get(http, "SELECT x FROM st")

    def test_session_check_missing_errors(self, http):
        import urllib.error

        with pytest.raises(urllib.error.HTTPError) as ei:
            get(http, "SELECT 1", session_id="never_made", session_check="1")
        assert ei.value.code == 400
        assert b"372" in ei.value.read()

    def test_session_timeout_expires(self, http):
        import time as _t

        get(http, "SET default_format = 'JSONCompact'",
            session_id="sidT", session_timeout="1")
        _t.sleep(1.2)
        # expired: session_check now fails
        import urllib.error

        with pytest.raises(urllib.error.HTTPError):
            get(http, "SELECT 1", session_id="sidT", session_check="1")


class TestLambdaHandler:
    """Stateless entry parity (lambda/lambda.py:6-19)."""

    def test_default_query_and_format(self, spark):
        from cowsdb_spark.server.lambda_handler import handler

        out = handler({})
        assert out["statusCode"] == 200
        assert "25.5.2" in out["body"]  # SELECT version(), JSONCompact

    def test_explicit_query(self, spark):
        from cowsdb_spark.server.lambda_handler import handler

        out = handler({"query": "SELECT 1 AS x", "default_format": "TSV"})
        assert out["statusCode"] == 200 and out["body"] == "1\n"

    def test_api_gateway_wrapped_body(self, spark):
        import json

        from cowsdb_spark.server.lambda_handler import handler

        out = handler(
            {"requestContext": {}, "body": json.dumps({"query": "SELECT 2 AS x", "default_format": "TSV"})}
        )
        assert out["body"] == "2\n"

    def test_error_gives_400(self, spark):
        from cowsdb_spark.server.lambda_handler import handler

        out = handler({"query": "SELECT FROM WHERE"})
        assert out["statusCode"] == 400 and "Code:" in out["body"]

    def test_stateless_across_invocations(self, spark):
        from cowsdb_spark.server.lambda_handler import handler

        handler({"query": "CREATE TABLE lam (x Int64) ENGINE=Memory"})
        out = handler({"query": "SELECT * FROM lam"})
        assert out["statusCode"] == 400  # next invocation cannot see it


class TestConcurrency:
    """Parallel clients over one engine (the reference serializes all
    queries behind a global session lock, main.py:34,162 — we allow
    concurrent reads and must stay correct under them)."""

    def test_parallel_reads_distinct_answers(self, http):
        from concurrent.futures import ThreadPoolExecutor

        def one(i):
            status, body = get(http, f"SELECT {i} * 2 AS x")
            return status, body.strip()

        with ThreadPoolExecutor(max_workers=8) as ex:
            results = list(ex.map(one, range(24)))
        assert all(s == 200 for s, _ in results)
        assert [int(b) for _, b in results] == [i * 2 for i in range(24)]

    def test_parallel_sessions_isolated(self, http):
        from concurrent.futures import ThreadPoolExecutor

        def one(i):
            u = f"cuser{i}"
            get(http, f"CREATE TABLE ct (x Int64) ENGINE=Memory", user=u, password="p")
            get(http, f"INSERT INTO ct VALUES ({i})", user=u, password="p")
            _, body = get(http, "SELECT x FROM ct", user=u, password="p")
            get(http, "DROP TABLE ct", user=u, password="p")
            return int(body.strip())

        with ThreadPoolExecutor(max_workers=4) as ex:
            results = list(ex.map(one, range(8)))
        assert results == list(range(8))


class TestHttpInlineInsert:
    """curl-style ingestion: query in the URL, data in the POST body
    (CH HTTP contract; the reference concatenates them and delegates,
    main.py:873-890 + 190)."""

    def test_insert_tsv_body_via_url_query(self, http):
        get(http, "CREATE TABLE hins (id UInt32, s String) ENGINE=Memory")
        st, _ = post(http, "1\tab\n2\tcd\n", query="INSERT INTO hins FORMAT TSV")
        assert st == 200
        st, body = get(http, "SELECT id, s FROM hins ORDER BY id")
        assert body == b"1\tab\n2\tcd\n"
        get(http, "DROP TABLE hins")

    def test_insert_jsoneachrow_body(self, http):
        get(http, "CREATE TABLE hins2 (id UInt32, s String) ENGINE=Memory")
        st, _ = post(
            http, '{"id": 3, "s": "x"}\n', query="INSERT INTO hins2 FORMAT JSONEachRow"
        )
        assert st == 200
        st, body = get(http, "SELECT id, s FROM hins2")
        assert body == b"3\tx\n"
        get(http, "DROP TABLE hins2")


class TestClickHouseHeaders:
    """X-ClickHouse-User/Key/Format/Database header support (the CH
    HTTP interface's header-based alternatives to URL params)."""

    def _req(self, base, query, headers):
        url = base + "/?" + urllib.parse.urlencode({"query": query})
        req = urllib.request.Request(url)
        for k, v in headers.items():
            req.add_header(k, v)
        with urllib.request.urlopen(req) as r:
            return r.status, r.read(), dict(r.headers)

    def test_header_auth_selects_session(self, http):
        st, _, _ = self._req(
            http,
            "CREATE TABLE hdrT (x Int64) ENGINE=Memory",
            {"X-ClickHouse-User": "hu", "X-ClickHouse-Key": "hk"},
        )
        assert st == 200
        # same header creds see the table; basic-auth default does not
        st, body, _ = self._req(
            http, "EXISTS TABLE hdrT", {"X-ClickHouse-User": "hu", "X-ClickHouse-Key": "hk"}
        )
        assert body == b"1\n"
        st, body = get(http, "EXISTS TABLE hdrT")
        assert body == b"0\n"

    def test_format_header(self, http):
        st, body, hdrs = self._req(
            http, "SELECT 1 AS x", {"X-ClickHouse-Format": "JSONCompact"}
        )
        assert body.lstrip().startswith(b"{")
        assert "json" in hdrs.get("Content-Type", "").lower()


class TestPlayUI:
    """The vendored ClickHouse Play asset (Apache-2.0, same asset the
    reference serves at main.py:854-856) + the request shape it makes."""

    def test_get_root_serves_play_ui(self, http):
        status, body = get(http)
        assert status == 200
        assert b"<!DOCTYPE html>" in body
        assert b"moospark" in body
        # the UI's own request machinery must be present
        assert b"default_format=JSONCompact" in body
        assert len(body) > 20000

    def test_404_serves_play_ui(self, http):
        status, body = get(http, path="/nonexistent")
        assert status == 200 and b"<!DOCTYPE html>" in body

    def test_play_shaped_post(self, http):
        # exactly what postImpl() sends (play.html:507-527)
        url = (
            http
            + "/?add_http_cors_header=1&default_format=JSONCompact"
            + "&max_result_rows=1000&max_result_bytes=10000000&result_overflow_mode=break"
        )
        req = urllib.request.Request(
            url, data=b"SELECT number FROM numbers(3)", method="POST"
        )
        cred = base64.b64encode(b"default:").decode()
        req.add_header("Authorization", f"Basic {cred}")
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            assert r.headers.get("Access-Control-Allow-Origin") == "*"
            env = json.loads(r.read())
        # envelope fields the UI consumes (renderResponse)
        assert env["rows"] == 3
        assert env["data"] == [[0], [1], [2]]
        assert env["meta"][0]["name"] == "number"
        assert "elapsed" in env["statistics"]

    def test_max_result_rows_url_param_limits(self, http):
        status, body = post(
            http,
            "SELECT number FROM numbers(100)",
            default_format="JSONCompact",
            max_result_rows="5",
        )
        assert status == 200
        env = json.loads(body)
        assert len(env["data"]) == 5

    def test_url_credentials_fallback(self, http):
        # file://-opened play UI appends user/password as URL params
        status, _ = get(
            http,
            "CREATE TABLE urlcred (x Int64) ENGINE=Memory",
            **{"user": "uc1", "password": "pw"},
        )
        assert status == 200
        status, body = get(
            http, "SELECT count(*) AS c FROM urlcred",
            **{"user": "uc1", "password": "pw"},
        )
        assert (status, body) == (200, b"0\n")


class TestResponseHeaders:
    def test_summary_and_query_id(self, http):
        req = urllib.request.Request(
            http + "/?query=" + urllib.parse.quote("SELECT number FROM numbers(7)")
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            summary = json.loads(r.headers["X-ClickHouse-Summary"])
            assert summary["result_rows"] == "7"
            assert int(summary["result_bytes"]) > 0
            assert len(r.headers["X-ClickHouse-Query-Id"]) >= 8
            assert r.headers["X-ClickHouse-Timezone"] == "UTC"
            assert r.headers["X-ClickHouse-Format"] == "TSV"

    def test_query_id_echoed(self, http):
        status, _ = get(http, "SELECT 1")
        req = urllib.request.Request(
            http + "/?query=SELECT%201&query_id=my-custom-id-123"
        )
        with urllib.request.urlopen(req) as r:
            assert r.headers["X-ClickHouse-Query-Id"] == "my-custom-id-123"

    def test_exception_code_header(self, http):
        try:
            get(http, "SELECT bogus_column FROM numbers(1)")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert e.headers["X-ClickHouse-Exception-Code"] is not None


class TestProgressHeaders:
    def test_final_progress_frame_always_sent(self, http):
        """send_progress_in_http_headers=1 → at least one
        X-ClickHouse-Progress header frame (CH clients poll these)."""
        req = urllib.request.Request(
            http
            + "/?query="
            + urllib.parse.quote("SELECT count(*) AS c FROM numbers(1000)")
            + "&send_progress_in_http_headers=1"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            frames = r.headers.get_all("X-ClickHouse-Progress")
            assert frames and len(frames) >= 1
            last = json.loads(frames[-1])
            assert last["read_rows"] == "1"  # final frame = result rows
            assert int(last["elapsed_ns"]) > 0
            assert r.read() == b"1000\n"

    def test_streaming_frames_on_slow_query(self, http):
        """A query slower than the progress interval streams >=2
        frames before the body commits."""
        q = (
            "SELECT count(*) AS c FROM ("
            "SELECT sum(number) FROM numbers(3000000) GROUP BY number % 500000)"
        )
        req = urllib.request.Request(
            http
            + "/?query="
            + urllib.parse.quote(q)
            + "&send_progress_in_http_headers=1&http_headers_progress_interval_ms=50"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            frames = r.headers.get_all("X-ClickHouse-Progress")
            assert frames and len(frames) >= 2
            assert r.read() == b"500000\n"

    def test_progress_mode_error_still_completes(self, http):
        """Failure under progress mode: either a clean 400 (failed
        before the first progress tick) or — like clickhouse-server —
        a committed 200 whose body carries the exception text."""
        try:
            status, body = get(
                http,
                "SELECT bogus_column FROM numbers(1)",
                send_progress_in_http_headers="1",
            )
            assert status == 200 and b"Code:" in body
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert e.headers["X-ClickHouse-Exception-Code"] is not None


class TestHttpCompression:
    def test_gzip_response(self, http):
        import gzip

        req = urllib.request.Request(
            http
            + "/?query="
            + urllib.parse.quote("SELECT number FROM numbers(100)")
            + "&enable_http_compression=1"
        )
        req.add_header("Accept-Encoding", "gzip")
        with urllib.request.urlopen(req) as r:
            assert r.headers["Content-Encoding"] == "gzip"
            body = gzip.decompress(r.read())
        assert body == ("".join(f"{i}\n" for i in range(100))).encode()

    def test_no_compression_without_setting(self, http):
        req = urllib.request.Request(
            http + "/?query=" + urllib.parse.quote("SELECT 1")
        )
        req.add_header("Accept-Encoding", "gzip")
        with urllib.request.urlopen(req) as r:
            assert r.headers.get("Content-Encoding") is None
            assert r.read() == b"1\n"

    def test_gzipped_post_body(self, http):
        import gzip

        q = gzip.compress(b"SELECT 40 + 2")
        req = urllib.request.Request(http + "/", data=q, method="POST")
        req.add_header("Content-Encoding", "gzip")
        with urllib.request.urlopen(req) as r:
            assert r.read() == b"42\n"

    def test_malformed_gzip_body_is_400(self, http):
        req = urllib.request.Request(http + "/", data=b"not gzip", method="POST")
        req.add_header("Content-Encoding", "gzip")
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400


class TestProgressStreamingTiming:
    def test_first_frame_arrives_before_completion(self, http):
        """Progress frames must hit the socket as they are produced
        (flush_headers per frame), not in one burst after the query:
        the first X-ClickHouse-Progress line must arrive well before
        the blank line that ends the header block."""
        import socket
        import time as _t
        import urllib.parse as _p

        host, port = http.replace("http://", "").split(":")
        q = _p.quote(
            "SELECT count(*) AS c FROM ("
            "SELECT sum(number) FROM numbers(5000000) GROUP BY number % 1000000)"
        )
        s = socket.create_connection((host, int(port)), timeout=30)
        try:
            s.sendall(
                (
                    f"GET /?query={q}&send_progress_in_http_headers=1"
                    "&http_headers_progress_interval_ms=50 HTTP/1.1\r\n"
                    f"Host: {host}\r\nConnection: close\r\n\r\n"
                ).encode()
            )
            buf = b""
            t_first = t_done = None
            t0 = _t.time()
            while b"\r\n\r\n" not in buf:
                chunk = s.recv(4096)
                if not chunk:
                    break
                buf += chunk
                if t_first is None and b"X-ClickHouse-Progress" in buf:
                    t_first = _t.time() - t0
            t_done = _t.time() - t0
            assert t_first is not None, "no progress frame seen"
            # buffered-burst behavior would put t_first ≈ t_done; a
            # streamed frame lands at ~50-200ms on a multi-second query
            assert t_done - t_first > 0.2, (t_first, t_done)
        finally:
            s.close()

    def test_interval_zero_clamped(self, http):
        """http_headers_progress_interval_ms=0 must not busy-spin; the
        query still completes with frames present."""
        import urllib.request

        req = urllib.request.Request(
            http
            + "/?query="
            + urllib.parse.quote("SELECT count(*) AS c FROM numbers(100000)")
            + "&send_progress_in_http_headers=1&http_headers_progress_interval_ms=0"
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            assert r.read() == b"100000\n"


class TestWarningChannel:
    """Partial-success parity (reference main.py:863-868): a query that
    succeeds with non-fatal warning text returns 200 WITH the result;
    the warning is observable (header here; server log in the
    reference)."""

    def test_ignored_setting_warns_but_succeeds(self, http):
        url = http + "/?query=" + urllib.parse.quote(
            "SELECT 1 AS x SETTINGS optimize_read_in_order = 1"
        )
        with urllib.request.urlopen(url) as r:
            assert r.status == 200
            assert r.read() == b"1\n"
            warn = r.headers.get("X-ClickHouse-Warning", "")
            assert "optimize_read_in_order" in warn and "ignored" in warn

    def test_ignored_url_setting_warns(self, http):
        url = http + "/?query=" + urllib.parse.quote("SELECT 2 AS x") + "&max_threads=8"
        with urllib.request.urlopen(url) as r:
            assert r.status == 200
            assert r.read() == b"2\n"
            assert "max_threads" in r.headers.get("X-ClickHouse-Warning", "")

    def test_acted_settings_do_not_warn(self, http):
        url = (
            http
            + "/?query="
            + urllib.parse.quote("SELECT 3 AS x SETTINGS max_result_rows = 10")
            + "&default_format=TSV"
        )
        with urllib.request.urlopen(url) as r:
            assert r.status == 200
            assert r.headers.get("X-ClickHouse-Warning") is None

    def test_warning_survives_progress_mode(self, http):
        url = (
            http
            + "/?query="
            + urllib.parse.quote("SELECT count(*) AS c FROM numbers(100000) SETTINGS optimize_x = 1")
            + "&send_progress_in_http_headers=1"
        )
        with urllib.request.urlopen(url) as r:
            assert r.status == 200
            assert r.read() == b"100000\n"
            assert "optimize_x" in r.headers.get("X-ClickHouse-Warning", "")


class TestQueryParameters:
    """CH parameterized queries: param_<name> URL params bind
    {name:Type} placeholders server-side."""

    def test_int_param(self, http):
        status, body = get(http, "SELECT {n:UInt8} * 2 AS r", param_n="21")
        assert (status, body) == (200, b"42\n")

    def test_string_param_is_data_not_sql(self, http):
        status, body = get(
            http, "SELECT {s:String} AS r", param_s="x' OR '1'='1"
        )
        assert status == 200 and body == b"x' OR '1'='1\n"

    def test_array_param(self, http):
        status, body = get(
            http,
            "SELECT arraySum({xs:Array(Int64)}) AS r",
            param_xs="[1,2,3]",
        )
        assert (status, body) == (200, b"6\n")

    def test_date_param(self, http):
        status, body = get(
            http, "SELECT toYear({d:Date}) AS r", param_d="2024-03-05"
        )
        assert (status, body) == (200, b"2024\n")

    def test_placeholder_in_string_untouched(self, http):
        status, body = get(http, "SELECT '{n:Int32}' AS r")
        assert (status, body) == (200, b"{n:Int32}\n")

    def test_missing_param_is_400(self, http):
        import urllib.error

        try:
            get(http, "SELECT {nope:Int32} AS r")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400 and b"nope" in e.read()

    def test_params_do_not_warn(self, http):
        import urllib.request

        url = http + "/?" + urllib.parse.urlencode(
            {"query": "SELECT {n:Int64} AS r", "param_n": "7"}
        )
        with urllib.request.urlopen(url) as r:
            assert r.read() == b"7\n"
            assert r.headers.get("X-ClickHouse-Warning") is None


class TestAvroOverHttp:
    """Binary Avro payloads through the real HTTP wire: the body
    decode must be lossless (surrogateescape), or INSERT FORMAT Avro
    corrupts (the old errors='replace' destroyed non-UTF8 bytes)."""

    def test_binary_insert_and_select(self, http):
        import urllib.request as _ur

        from cowsdb_spark.formats.avro import read_ocf, write_ocf

        get(http, "CREATE TABLE avh (a Int64, s String) ENGINE=Memory")
        blob = write_ocf(
            ["a", "s"], ["Int64", "String"],
            [(300, "x\xffé"), (2, "plain")],  # multi-byte + high codepoints
        )
        stmt = b"INSERT INTO avh FORMAT Avro\n" + blob
        req = _ur.Request(http + "/", data=stmt, method="POST")
        with _ur.urlopen(req) as r:
            assert r.status == 200
        status, body = get(http, "SELECT a, s FROM avh ORDER BY a FORMAT Avro")
        assert status == 200
        names, rows = read_ocf(body)
        assert names == ["a", "s"]
        assert rows == [(2, "plain"), (300, "x\xffé")]
        get(http, "DROP TABLE avh")


class TestPipelineFnsOverHttp:
    """The SQL-callable pipeline table functions work over the real
    wire, sessioned per credential like every other statement."""

    def test_exact_dedup_and_bm25(self, http):
        u = {"user": "pfn", "password": "x"}
        get(http, "CREATE DATABASE IF NOT EXISTS pfdb", **u)
        get(http, "DROP TABLE IF EXISTS pfdb.d", **u)
        get(http, "CREATE TABLE pfdb.d (doc_id Int64, text String)", **u)
        get(
            http,
            "INSERT INTO pfdb.d VALUES (1, 'alpha beta gamma'),"
            "(2, 'alpha beta gamma'),(3, 'delta epsilon zeta')",
            **u,
        )
        st, body = get(http, "SELECT count() AS c FROM exactDedup(pfdb.d)", **u)
        assert (st, body) == (200, b"2\n")
        st, body = get(
            http,
            "SELECT doc_id FROM bm25(pfdb.d, 'alpha beta', 1)",
            **u,
        )
        assert (st, body) == (200, b"1\n")

    def test_bad_args_http_400(self, http):
        import urllib.error

        u = {"user": "pfn", "password": "x"}
        # self-contained: the arg check needs the table to exist
        get(http, "CREATE DATABASE IF NOT EXISTS pfdb", **u)
        get(
            http,
            "CREATE TABLE IF NOT EXISTS pfdb.d (doc_id Int64, text String)",
            **u,
        )
        with pytest.raises(urllib.error.HTTPError) as ei:
            get(http, "SELECT * FROM bm25(pfdb.d)", **u)
        assert ei.value.code == 400
        assert b"Code: 42" in ei.value.read()
