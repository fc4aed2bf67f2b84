"""Format serializer tests (SURVEY §2.8; reference coverage map
test_suite.py:163-179 — TSV/JSON/CSV over literal queries)."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from cowsdb_spark.formats import (
    QueryResult,
    serialize,
    to_json,
    to_json_compact,
    to_tsv,
)
from cowsdb_spark.formats.native import parse_native, to_native, write_varint


def res(columns, ch_types, rows):
    return QueryResult(columns=columns, ch_types=ch_types, rows=list(rows))


class TestTSV:
    def test_basic(self):
        out = to_tsv(res(["a", "b"], ["Int64", "String"], [(1, "x"), (2, "y")]))
        assert out == b"1\tx\n2\ty\n"

    def test_null_and_escaping(self):
        out = to_tsv(
            res(["s"], ["Nullable(String)"], [("a\tb",), (None,), ("l1\nl2",)])
        )
        assert out == b"a\\tb\n\\N\nl1\\nl2\n"

    def test_float_and_dates(self):
        out = to_tsv(
            res(
                ["f", "d", "t"],
                ["Float64", "Date", "DateTime"],
                [(3.14, dt.date(2024, 3, 5), dt.datetime(2024, 3, 5, 1, 2, 3))],
            )
        )
        assert out == b"3.14\t2024-03-05\t2024-03-05 01:02:03\n"

    def test_arrays_ch_style(self):
        out = to_tsv(res(["a"], ["Array(Int64)"], [([1, 2, 3],)]))
        assert out == b"[1,2,3]\n"


class TestJSON:
    def test_envelope(self):
        r = res(["num"], ["Int64"], [(1,)])
        r.elapsed = 0.01
        doc = json.loads(to_json(r))
        assert doc["meta"] == [{"name": "num", "type": "Int64"}]
        assert doc["data"] == [{"num": 1}]
        assert doc["rows"] == 1
        assert set(doc["statistics"]) == {"elapsed", "rows_read", "bytes_read"}

    def test_compact_rows_are_arrays(self):
        doc = json.loads(to_json_compact(res(["a", "b"], ["Int64", "String"], [(1, "x")])))
        assert doc["data"] == [[1, "x"]]

    def test_compact_columns(self):
        out = serialize(
            res(["a", "b"], ["Int64", "String"], [(1, "x"), (2, "y")]),
            "JSONCompactColumns",
        )
        assert json.loads(out) == [[1, 2], ["x", "y"]]


class TestNative:
    def test_varint(self):
        assert write_varint(0) == b"\x00"
        assert write_varint(127) == b"\x7f"
        assert write_varint(300) == b"\xac\x02"

    def test_round_trip_scalars(self):
        rows = [
            (1, "hello", 3.5, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5), None),
            (255, "", -1.25, dt.date(1970, 1, 1), dt.datetime(1970, 1, 1), 7),
        ]
        r = res(
            ["i", "s", "f", "d", "t", "n"],
            ["Int64", "String", "Float64", "Date", "DateTime", "Nullable(Int64)"],
            rows,
        )
        buf = to_native(r)
        names, types, back = parse_native(buf)
        assert names == ["i", "s", "f", "d", "t", "n"]
        assert types == ["Int64", "String", "Float64", "Date", "DateTime", "Nullable(Int64)"]
        assert back == rows

    def test_many_rows_beyond_255(self):
        # the reference's parser caps at 255 rows (main.py:573-574);
        # ours must not.
        rows = [(i,) for i in range(1000)]
        buf = to_native(res(["x"], ["Int64"], rows))
        _, _, back = parse_native(buf)
        assert len(back) == 1000 and back[-1] == (999,)


class TestRowBinary:
    """RowBinary family: row-wise wire layout (reference surface via
    chDB's format list, main.py:190)."""

    def test_scalars_and_strings(self):
        import struct

        from cowsdb_spark.formats import to_row_binary

        out = to_row_binary(
            res(["a", "b"], ["Int32", "String"], [(5, "hi"), (-1, "")])
        )
        assert out == (
            struct.pack("<i", 5) + b"\x02hi" + struct.pack("<i", -1) + b"\x00"
        )

    def test_nullable_and_array(self):
        import struct

        from cowsdb_spark.formats import to_row_binary

        out = to_row_binary(
            res(
                ["n", "arr"],
                ["Nullable(Int64)", "Array(UInt8)"],
                [(None, [1, 2]), (7, [])],
            )
        )
        assert out == (
            b"\x01" + b"\x02\x01\x02" + b"\x00" + struct.pack("<q", 7) + b"\x00"
        )

    def test_with_names_and_types_header(self):
        from cowsdb_spark.formats import to_row_binary

        out = to_row_binary(
            res(["x"], ["UInt16"], [(3,)]), with_names=True, with_types=True
        )
        assert out == b"\x01\x01x\x06UInt16" + b"\x03\x00"

    def test_engine_format_clause(self, spark):
        import struct

        from cowsdb_spark.engine import Engine

        eng = Engine(spark)
        out = eng.execute(
            "SELECT toInt32(number) AS n FROM numbers(3) FORMAT RowBinary"
        )
        assert out == b"".join(struct.pack("<i", i) for i in range(3))
        out = eng.execute("SELECT 'a' AS s FORMAT RowBinaryWithNames")
        assert out.startswith(b"\x01\x01s")


class TestContentType:
    """Every alias answers its format's Content-Type: the format table
    keys encoder and content type together."""

    @pytest.mark.parametrize(
        "fmt, ctype",
        [
            ("TSV", "text/tab-separated-values"),
            ("TabSeparated", "text/tab-separated-values"),
            ("TabSeparatedWithNames", "text/tab-separated-values"),
            ("NDJSON", "application/x-ndjson"),
            ("JSONLines", "application/x-ndjson"),
            ("ORC", "application/octet-stream"),
            ("Avro", "application/octet-stream"),
            ("XML", "application/xml"),
        ],
    )
    def test_alias_content_type(self, fmt, ctype):
        from cowsdb_spark.formats import content_type

        assert content_type(fmt).split(";")[0] == ctype


class TestBinaryOutputFormats:
    """FORMAT Parquet / Arrow / ArrowStream response bodies + the
    same-line FORMAT Values insert spelling."""

    import pytest as _pytest

    @_pytest.fixture(scope="class")
    def engine(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    def test_parquet_roundtrip(self, engine):
        import io

        import pyarrow.parquet as pq

        out = engine.execute(
            "SELECT number AS n, 'x' || toString(number) AS s "
            "FROM numbers(3) FORMAT Parquet"
        )
        t = pq.read_table(io.BytesIO(out))
        assert t.to_pydict() == {"n": [0, 1, 2], "s": ["x0", "x1", "x2"]}

    def test_arrow_file_and_stream(self, engine):
        import io

        import pyarrow as pa

        out = engine.execute("SELECT 1 AS x FORMAT Arrow")
        assert pa.ipc.open_file(io.BytesIO(out)).read_all().to_pydict() == {"x": [1]}
        out = engine.execute("SELECT 1 AS x FORMAT ArrowStream")
        assert pa.ipc.open_stream(io.BytesIO(out)).read_all().to_pydict() == {"x": [1]}

    def test_insert_format_values_same_line(self, engine):
        u = {"user": "fmtv"}
        engine.execute("CREATE TABLE finv (a Int64, b String) ENGINE=Memory", **u)
        engine.execute("INSERT INTO finv FORMAT Values (5, 'v'), (6, 'w')", **u)
        engine.execute("INSERT INTO finv FORMAT Values\n(7, 'x')", **u)
        assert engine.execute("SELECT * FROM finv ORDER BY a", **u) == (
            b"5\tv\n6\tw\n7\tx\n"
        )


class TestMoreTextFormats:
    """r4 format breadth: WithNamesAndTypes variants, TSVRaw,
    JSONStrings/JSONColumns/JSONCompactEachRow, Vertical, Markdown."""

    def test_tsv_with_names_and_types(self):
        from cowsdb_spark.formats import serialize

        out = serialize(res(["a", "b"], ["Int64", "String"], [(1, "x")]),
                        "TSVWithNamesAndTypes")
        assert out == b"a\tb\nInt64\tString\n1\tx\n"

    def test_tsv_raw_no_escaping(self):
        from cowsdb_spark.formats import serialize

        out = serialize(res(["s"], ["String"], [("a\tb",)]), "TSVRaw")
        assert out == b"a\tb\n"  # raw: the tab is NOT escaped
        esc = serialize(res(["s"], ["String"], [("a\tb",)]), "TSV")
        assert esc == b"a\\tb\n"

    def test_csv_with_names_and_types(self):
        from cowsdb_spark.formats import serialize

        out = serialize(res(["a"], ["UInt8"], [(1,)]), "CSVWithNamesAndTypes")
        assert out == b'"a"\n"UInt8"\n1\n'

    def test_json_strings(self):
        import json as _json

        from cowsdb_spark.formats import serialize

        doc = _json.loads(serialize(res(["n"], ["Int64"], [(7,)]), "JSONStrings"))
        assert doc["data"] == [{"n": "7"}]

    def test_json_columns(self):
        import json as _json

        from cowsdb_spark.formats import serialize

        doc = _json.loads(
            serialize(res(["a", "b"], ["Int64", "Int64"], [(1, 2), (3, 4)]), "JSONColumns")
        )
        assert doc == {"a": [1, 3], "b": [2, 4]}

    def test_json_compact_each_row(self):
        from cowsdb_spark.formats import serialize

        out = serialize(res(["a", "b"], ["Int64", "String"], [(1, "x"), (2, "y")]),
                        "JSONCompactEachRow")
        assert out == b'[1, "x"]\n[2, "y"]\n'

    def test_json_compact_strings_each_row(self):
        from cowsdb_spark.formats import serialize

        out = serialize(res(["a"], ["Int64"], [(1,)]), "JSONCompactStringsEachRow")
        assert out == b'["1"]\n'

    def test_vertical(self):
        from cowsdb_spark.formats import serialize

        out = serialize(res(["id", "name"], ["Int64", "String"], [(1, "x")]), "Vertical")
        text = out.decode()
        assert "Row 1:" in text and "  id: 1" in text and "name: x" in text

    def test_markdown(self):
        from cowsdb_spark.formats import serialize

        out = serialize(res(["a"], ["Int64"], [(1,)]), "Markdown")
        assert out == b"| a |\n|---|\n| 1 |\n"

    def test_format_clause_reaches_new_formats(self, spark):
        from cowsdb_spark.engine import Engine

        eng = Engine(spark)
        assert eng.execute("SELECT 1 AS x FORMAT Markdown") == b"| x |\n|---|\n| 1 |\n"
        out = eng.execute("SELECT 1 AS x FORMAT TSVWithNamesAndTypes")
        assert out.startswith(b"x\n")


class TestSweep27FormatBreadth:
    """TSKV, JSONObjectEachRow, JSONLines/NDJSON, LineAsString,
    PrettySpace, SQLInsert, XML, CustomSeparated (default settings =
    TSV), ORC round-trip, Pretty*NoEscapes/MonoBlock aliases, and the
    clean CH code-73 error for schema-requiring formats."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        from cowsdb_spark.engine import Engine

        return Engine(spark)

    def test_tskv(self, eng):
        assert eng.execute("SELECT 1 AS a, 'x' AS b FORMAT TSKV") == b"a=1\tb=x\n"

    def test_json_object_each_row(self, eng):
        import json

        out = eng.execute("SELECT 1 AS a FORMAT JSONObjectEachRow")
        assert json.loads(out) == {"row_1": {"a": 1}}

    def test_jsonlines_ndjson(self, eng):
        for f in ("JSONLines", "NDJSON"):
            out = eng.execute(f"SELECT 1 AS a FORMAT {f}")
            assert out == b'{"a": 1}\n'

    def test_line_as_string(self, eng):
        assert eng.execute("SELECT 'a\\tb' AS s FORMAT LineAsString") == b"a\tb\n"

    def test_pretty_space(self, eng):
        out = eng.execute("SELECT 1 AS a, 'x' AS b FORMAT PrettySpace")
        assert out == b" a   b\n 1   x\n"

    def test_sql_insert(self, eng):
        out = eng.execute("SELECT 1 AS a, 'x' AS b FORMAT SQLInsert")
        assert out == b"INSERT INTO table (`a`, `b`) VALUES (1, 'x');\n"

    def test_xml(self, eng):
        out = eng.execute("SELECT 1 AS a FORMAT XML").decode()
        assert "<name>a</name>" in out and "<rows>1</rows>" in out

    def test_custom_separated_is_tsv(self, eng):
        assert eng.execute("SELECT 1 AS a, 2 AS b FORMAT CustomSeparated") == b"1\t2\n"

    def test_orc_roundtrip(self, eng):
        import io

        import pyarrow.orc as po

        out = eng.execute("SELECT 1 AS a, 'x' AS b FORMAT ORC")
        assert po.read_table(io.BytesIO(out)).to_pydict() == {"a": [1], "b": ["x"]}

    def test_pretty_aliases(self, eng):
        base = eng.execute("SELECT 1 AS a FORMAT PrettyCompact")
        for f in ("PrettyNoEscapes", "PrettyCompactNoEscapes", "PrettyCompactMonoBlock"):
            assert eng.execute(f"SELECT 1 AS a FORMAT {f}") == base

    def test_unknown_format_code_73(self, eng):
        from cowsdb_spark.engine import EngineError

        with pytest.raises(EngineError) as ei:
            eng.execute("SELECT 1 AS a FORMAT NoSuchFormat")
        assert ei.value.code == 73


class TestAvro:
    """FORMAT Avro in/out — pure-Python Object Container File codec
    (formats/avro.py). The reference serves Avro through chDB's
    delegation; here the wire layer encodes the spec directly."""

    def test_round_trip_primitives(self):
        from cowsdb_spark.formats.avro import read_ocf, write_ocf

        cols = ["i", "s", "f", "b"]
        types = ["Int64", "String", "Float64", "Bool"]
        rows = [(1, "x", 1.5, True), (2, "y", -0.25, False)]
        blob = write_ocf(cols, types, rows)
        names, got = read_ocf(blob)
        assert names == cols
        assert got == rows

    def test_round_trip_nullable_array_temporal(self):
        import datetime as dtm

        from cowsdb_spark.formats.avro import read_ocf, write_ocf

        cols = ["n", "arr", "d", "t"]
        types = ["Nullable(Int64)", "Array(Int64)", "Date", "DateTime"]
        rows = [
            (None, [1, 2], dtm.date(2024, 3, 5), dtm.datetime(2024, 3, 5, 1, 2, 3)),
            (7, [], dtm.date(1970, 1, 1), dtm.datetime(1970, 1, 1)),
        ]
        blob = write_ocf(cols, types, rows)
        names, got = read_ocf(blob)
        assert names == cols
        assert got == [
            (None, [1, 2], dtm.date(2024, 3, 5), dtm.datetime(2024, 3, 5, 1, 2, 3)),
            (7, [], dtm.date(1970, 1, 1), dtm.datetime(1970, 1, 1)),
        ]

    def test_serialize_entry_point(self):
        from cowsdb_spark.formats.avro import read_ocf

        blob = serialize(
            res(["a", "b"], ["Int32", "String"], [(5, "q")]), "Avro"
        )
        assert blob[:4] == b"Obj\x01"
        names, rows = read_ocf(blob)
        assert names == ["a", "b"]
        assert rows == [(5, "q")]

    def test_deflate_codec_read(self):
        """Readers must accept the deflate codec (Avro spec core)."""
        import io
        import json as js
        import zlib

        from cowsdb_spark.formats.avro import (
            _SYNC,
            MAGIC,
            _write_bytes,
            _write_long,
            read_ocf,
        )

        schema = {
            "type": "record",
            "name": "row",
            "fields": [{"name": "v", "type": "long"}],
        }
        out = io.BytesIO()
        out.write(MAGIC)
        _write_long(out, 2)
        for k, v in (
            ("avro.schema", js.dumps(schema).encode()),
            ("avro.codec", b"deflate"),
        ):
            _write_bytes(out, k.encode())
            _write_bytes(out, v)
        _write_long(out, 0)
        out.write(_SYNC)
        body = io.BytesIO()
        for n in (10, 20, 30):
            _write_long(body, n)
        comp = zlib.compress(body.getvalue())[2:-4]  # raw deflate
        _write_long(out, 3)
        _write_long(out, len(comp))
        out.write(comp)
        out.write(_SYNC)
        names, rows = read_ocf(out.getvalue())
        assert names == ["v"]
        assert rows == [(10,), (20,), (30,)]
