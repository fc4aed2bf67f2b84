"""Output format serializers (SURVEY.md §2.8, reference F1-F10).

The reference returns chDB's formatted bytes verbatim
(main.py:190,205); we serialize collected Spark rows ourselves.
Entry points: ``serialize(result, fmt) -> bytes`` and
``content_type(fmt)``, both read from ``FORMATS``, the one table of
format names and aliases.

Every serializer builds its whole body in memory from the collected
row list. The engine collects each result once and applies
``max_result_rows`` before that as a Spark LIMIT (the Play UI sends it,
index.html:511-514), so a serializer sees exactly the rows it writes.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame

from ..dialect.types import spark_type_to_ch
from .avro import write_ocf
from .native import encode_row_value, to_native, wire_type, write_varint, write_varstr
from .render import csv_cell, json_value, plain_text, tsv_cell


@dataclass
class QueryResult:
    """Schema + collected rows + execution statistics."""

    columns: list[str]
    ch_types: list[str]
    rows: list[tuple]
    elapsed: float = 0.0
    rows_read: int = 0
    bytes_read: int = 0
    totals: Optional[tuple] = None  # GROUP BY … WITH TOTALS row

    @classmethod
    def from_dataframe(cls, df: DataFrame) -> "QueryResult":
        # CalendarIntervalType rows can't cross the Python converter
        # (toIntervalDay(2) projected bare) — render as Spark's
        # interval string instead of crashing the whole query
        if any(
            f.dataType.typeName() == "interval" for f in df.schema.fields
        ):
            from pyspark.sql import functions as F

            df = df.select(
                *[
                    F.col(f.name).cast("string").alias(f.name)
                    if f.dataType.typeName() == "interval"
                    else F.col(f.name)
                    for f in df.schema.fields
                ]
            )
        schema = df.schema
        cols = [f.name for f in schema.fields]
        ch_types = [spark_type_to_ch(f.dataType, f.nullable) for f in schema.fields]
        return cls(columns=cols, ch_types=ch_types, rows=df.collect())


def to_tsv(
    res: QueryResult,
    with_names: bool = False,
    with_types: bool = False,
    raw: bool = False,
) -> bytes:
    out: list[str] = []
    if with_names:
        out.append("\t".join(res.columns) + "\n")
        if with_types:
            out.append("\t".join(res.ch_types) + "\n")
    cell = plain_text if raw else tsv_cell  # Raw = no escaping (CH TSVRaw)
    for row in res.rows:
        out.append("\t".join(cell(v) for v in row) + "\n")
    if res.totals is not None:
        # CH TSV WITH TOTALS: blank line, then the totals row
        out.append("\n" + "\t".join(tsv_cell(v) for v in res.totals) + "\n")
    return "".join(out).encode("utf-8")


def to_csv(
    res: QueryResult,
    with_names: bool = False,
    with_types: bool = False,
) -> bytes:
    out: list[str] = []
    if with_names:
        out.append(",".join('"' + c.replace('"', '""') + '"' for c in res.columns) + "\n")
        if with_types:
            out.append(",".join('"' + t.replace('"', '""') + '"' for t in res.ch_types) + "\n")
    for row in res.rows:
        out.append(",".join(csv_cell(v) for v in row) + "\n")
    return "".join(out).encode("utf-8")


def _meta(res: QueryResult) -> list[dict]:
    return [{"name": c, "type": t} for c, t in zip(res.columns, res.ch_types)]


def _statistics(res: QueryResult) -> dict:
    return {
        "elapsed": round(res.elapsed, 6),
        "rows_read": res.rows_read,
        "bytes_read": res.bytes_read,
    }


def to_json(res: QueryResult) -> bytes:
    """CH ``JSON`` envelope: meta/data/rows/statistics
    (Play UI consumes meta + statistics, index.html:579,707-712)."""
    data = [
        {c: json_value(v) for c, v in zip(res.columns, row)}
        for row in res.rows
    ]
    doc = {
        "meta": _meta(res),
        "data": data,
        "rows": len(data),
        "statistics": _statistics(res),
    }
    if res.totals is not None:
        doc["totals"] = {c: json_value(v) for c, v in zip(res.columns, res.totals)}
    return (json.dumps(doc, ensure_ascii=False, indent=1) + "\n").encode("utf-8")


def to_json_compact(res: QueryResult) -> bytes:
    data = [
        [json_value(v) for v in row] for row in res.rows
    ]
    doc = {
        "meta": _meta(res),
        "data": data,
        "rows": len(data),
        "statistics": _statistics(res),
    }
    if res.totals is not None:
        doc["totals"] = [json_value(v) for v in res.totals]
    return (json.dumps(doc, ensure_ascii=False, indent=1) + "\n").encode("utf-8")


def to_json_compact_columns(res: QueryResult) -> bytes:
    """Array of column arrays (Play UI chart path, index.html:583-584)."""
    cols = [[json_value(r[i]) for r in res.rows] for i in range(len(res.columns))]
    return (json.dumps(cols, ensure_ascii=False) + "\n").encode("utf-8")


def to_json_each_row(res: QueryResult) -> bytes:
    out = [
        json.dumps({c: json_value(v) for c, v in zip(res.columns, row)}, ensure_ascii=False)
        + "\n"
        for row in res.rows
    ]
    return "".join(out).encode("utf-8")


def to_json_strings(res: QueryResult) -> bytes:
    """CH ``JSONStrings``: the JSON envelope with every value rendered
    as a string."""
    data = [
        {c: plain_text(v) for c, v in zip(res.columns, row)}
        for row in res.rows
    ]
    doc = {
        "meta": _meta(res),
        "data": data,
        "rows": len(data),
        "statistics": _statistics(res),
    }
    return (json.dumps(doc, ensure_ascii=False, indent=1) + "\n").encode("utf-8")


def to_json_columns(res: QueryResult) -> bytes:
    """CH ``JSONColumns``: one object of column -> value array."""
    doc = {
        c: [json_value(r[i]) for r in res.rows] for i, c in enumerate(res.columns)
    }
    return (json.dumps(doc, ensure_ascii=False) + "\n").encode("utf-8")


def to_json_compact_each_row(res: QueryResult, strings: bool = False) -> bytes:
    conv = plain_text if strings else json_value
    out = [
        json.dumps([conv(v) for v in row], ensure_ascii=False) + "\n"
        for row in res.rows
    ]
    return "".join(out).encode("utf-8")


def to_vertical(res: QueryResult) -> bytes:
    """CH ``Vertical`` (the clickhouse-client \\G layout)."""
    w = max((len(c) for c in res.columns), default=0)
    out = []
    for i, row in enumerate(res.rows, start=1):
        out.append(f"Row {i}:\n──────\n")
        for c, v in zip(res.columns, row):
            out.append(f"{c.rjust(w)}: {plain_text(v)}\n")
        out.append("\n")
    return "".join(out).encode("utf-8")


def to_markdown(res: QueryResult) -> bytes:
    out = ["| " + " | ".join(res.columns) + " |\n"]
    out.append("|" + "|".join("---" for _ in res.columns) + "|\n")
    for row in res.rows:
        out.append(
            "| " + " | ".join(plain_text(v).replace("|", "\\|") for v in row) + " |\n"
        )
    return "".join(out).encode("utf-8")


def to_values(res: QueryResult) -> bytes:
    def cell(v):
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return plain_text(v)

    out = ["(" + ",".join(cell(v) for v in row) + ")" for row in res.rows]
    return (",".join(out) + "\n").encode("utf-8")


def to_pretty(res: QueryResult) -> bytes:
    rows = [[plain_text(v) for v in row] for row in res.rows]
    widths = [len(c) for c in res.columns]
    for r in rows:
        for i, cell in enumerate(r):
            widths[i] = max(widths[i], len(cell))
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep]
    out.append("|" + "|".join(f" {c.ljust(w)} " for c, w in zip(res.columns, widths)) + "|")
    out.append(sep)
    for r in rows:
        out.append("|" + "|".join(f" {c.ljust(w)} " for c, w in zip(r, widths)) + "|")
    out.append(sep)
    return ("\n".join(out) + "\n").encode("utf-8")


def _to_arrow_table(res: QueryResult):
    """Rows → pyarrow Table (column-name-keyed; schema inferred by
    Arrow from the Python values, which came out of Spark types)."""
    import pyarrow as pa

    cols = {c: [r[i] for r in res.rows] for i, c in enumerate(res.columns)}
    return pa.table(cols) if res.rows else pa.table(
        {c: pa.array([], type=pa.string()) for c in res.columns}
    )


def to_parquet(res: QueryResult) -> bytes:
    """CH ``FORMAT Parquet``: one parquet file in the response body."""
    import io

    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(_to_arrow_table(res), buf)
    return buf.getvalue()


def to_orc(res: QueryResult) -> bytes:
    """CH ``FORMAT ORC``: one ORC file in the response body."""
    import io

    import pyarrow.orc as po

    buf = io.BytesIO()
    po.write_table(_to_arrow_table(res), buf)
    return buf.getvalue()


def to_arrow(res: QueryResult) -> bytes:
    """CH ``FORMAT Arrow``: Arrow IPC file format."""
    import io

    import pyarrow as pa

    table = _to_arrow_table(res)
    buf = io.BytesIO()
    with pa.ipc.new_file(buf, table.schema) as w:
        w.write_table(table)
    return buf.getvalue()


def to_arrow_stream(res: QueryResult) -> bytes:
    """CH ``FORMAT ArrowStream``: Arrow IPC streaming format."""
    import io

    import pyarrow as pa

    table = _to_arrow_table(res)
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, table.schema) as w:
        w.write_table(table)
    return buf.getvalue()


def to_row_binary(
    res: QueryResult,
    with_names: bool = False,
    with_types: bool = False,
) -> bytes:
    """RowBinary / RowBinaryWithNames / RowBinaryWithNamesAndTypes:
    optional varint-ncols + name/type header, then rows encoded
    value-by-value in wire order."""
    wires = [wire_type(t) for t in res.ch_types]
    out = bytearray()
    if with_names:
        out += write_varint(len(res.columns))
        for name in res.columns:
            out += write_varstr(name)
        if with_types:
            for w in wires:
                out += write_varstr(w)
    for r in res.rows:
        for w, v in zip(wires, r):
            out += encode_row_value(w, v)
    return bytes(out)


def to_tskv(res: QueryResult) -> bytes:
    """CH ``TSKV``: name=value pairs, TSV-escaped, tab-separated."""
    out = []
    for row in res.rows:
        out.append(
            "\t".join(
                f"{c}={tsv_cell(v)}" for c, v in zip(res.columns, row)
            )
            + "\n"
        )
    return "".join(out).encode("utf-8")


def to_json_object_each_row(res: QueryResult) -> bytes:
    """CH ``JSONObjectEachRow``: one object keyed row_0001, row_0002…"""
    doc = {}
    for i, row in enumerate(res.rows, start=1):
        doc[f"row_{i}"] = {c: json_value(v) for c, v in zip(res.columns, row)}
    return (json.dumps(doc, ensure_ascii=False, indent=1) + "\n").encode("utf-8")


def to_line_as_string(res: QueryResult) -> bytes:
    """CH ``LineAsString`` output: raw first-column text per line."""
    out = []
    for row in res.rows:
        out.append(plain_text(row[0]) + "\n" if row else "\n")
    return "".join(out).encode("utf-8")


def to_pretty_space(res: QueryResult) -> bytes:
    """CH ``PrettySpace``: header + space-aligned rows, no frame."""
    rows = [tuple(plain_text(v) for v in row) for row in res.rows]
    widths = [
        max([len(c)] + [len(r[i]) for r in rows])
        for i, c in enumerate(res.columns)
    ]
    out = [" " + "   ".join(c.ljust(w) for c, w in zip(res.columns, widths)).rstrip() + "\n"]
    for r in rows:
        out.append(" " + "   ".join(x.ljust(w) for x, w in zip(r, widths)).rstrip() + "\n")
    return "".join(out).encode("utf-8")


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    s = plain_text(v)
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def to_sql_insert(res: QueryResult) -> bytes:
    """CH ``SQLInsert``: INSERT INTO table (cols) VALUES (…) batches."""
    cols = ", ".join(f"`{c}`" for c in res.columns)
    out = []
    for row in res.rows:
        vals = ", ".join(_sql_literal(v) for v in row)
        out.append(f"INSERT INTO table ({cols}) VALUES ({vals});\n")
    return "".join(out).encode("utf-8")


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def to_xml(res: QueryResult) -> bytes:
    """CH ``XML``: result envelope with meta + per-row field elements."""
    out = ["<?xml version='1.0' encoding='UTF-8' ?>\n<result>\n\t<meta>\n\t\t<columns>\n"]
    for c, t in zip(res.columns, res.ch_types):
        out.append(
            f"\t\t\t<column>\n\t\t\t\t<name>{_xml_escape(c)}</name>\n"
            f"\t\t\t\t<type>{_xml_escape(t)}</type>\n\t\t\t</column>\n"
        )
    out.append("\t\t</columns>\n\t</meta>\n\t<data>\n")
    n = 0
    for row in res.rows:
        n += 1
        out.append("\t\t<row>\n")
        for c, v in zip(res.columns, row):
            tag = _xml_escape(c)
            if v is None:
                out.append(f"\t\t\t<{tag} xsi:nil=\"true\" />\n")
            else:
                out.append(f"\t\t\t<{tag}>{_xml_escape(plain_text(v))}</{tag}>\n")
        out.append("\t\t</row>\n")
    out.append(f"\t</data>\n\t<rows>{n}</rows>\n</result>\n")
    return "".join(out).encode("utf-8")


def _schema_fields(settings: dict, fmt: str, example: str, resolve) -> list:
    """Fields of the ``format_schema`` message, resolved inside the
    server's schema directory."""
    fs = settings.get("format_schema")
    if not fs:
        raise ValueError(
            f"format {fmt} requires the format_schema setting ('{example}')"
        )
    sdir = settings.get("__format_schema_path__")
    if not sdir:
        raise ValueError("format_schema_path is not configured on this server")
    return resolve(str(fs), str(sdir))[0]


def _protobuf(mode: str):
    def encode(res: QueryResult, settings: dict) -> bytes:
        from .protobuf import encode_rows, resolve_schema

        fields = _schema_fields(settings, "Protobuf", "file.proto:MessageName", resolve_schema)
        return encode_rows(fields, res.columns, res.ch_types, res.rows, mode=mode)

    return encode


def _capnproto(res: QueryResult, settings: dict) -> bytes:
    from .capnp import encode_rows, resolve_schema

    fields = _schema_fields(settings, "CapnProto", "file.capnp:StructName", resolve_schema)
    return encode_rows(fields, res.columns, res.ch_types, res.rows)


_TSV = "text/tab-separated-values; charset=UTF-8"
_CSV = "text/csv; charset=UTF-8"
_JSON = "application/json; charset=UTF-8"
_NDJSON = "application/x-ndjson; charset=UTF-8"
_TEXT = "text/plain; charset=UTF-8"
_BINARY = "application/octet-stream"

Encoder = Callable[[QueryResult, dict], bytes]

# Lower-case format name → (encoder, HTTP Content-Type). Each row lists
# a format with its aliases, so an alias cannot drift from its format.
FORMATS: dict[str, tuple[Encoder, str]] = {
    name: (encode, ctype)
    for names, encode, ctype in (
        ("tsv tabseparated", lambda r, s: to_tsv(r), _TSV),
        ("tsvwithnames tabseparatedwithnames",
         lambda r, s: to_tsv(r, with_names=True), _TSV),
        ("tsvwithnamesandtypes tabseparatedwithnamesandtypes",
         lambda r, s: to_tsv(r, with_names=True, with_types=True), _TSV),
        ("tsvraw tabseparatedraw raw", lambda r, s: to_tsv(r, raw=True), _TSV),
        # CustomSeparated with default settings (Escaped rule,
        # tab/newline separators) is byte-identical to TSV
        ("customseparated", lambda r, s: to_tsv(r), _TEXT),
        ("tskv", lambda r, s: to_tskv(r), _TEXT),
        ("csv", lambda r, s: to_csv(r), _CSV),
        ("csvwithnames", lambda r, s: to_csv(r, with_names=True), _CSV),
        ("csvwithnamesandtypes",
         lambda r, s: to_csv(r, with_names=True, with_types=True), _CSV),
        ("json", lambda r, s: to_json(r), _JSON),
        ("jsoncompact", lambda r, s: to_json_compact(r), _JSON),
        ("jsoncompactcolumns", lambda r, s: to_json_compact_columns(r), _JSON),
        ("jsonstrings", lambda r, s: to_json_strings(r), _JSON),
        ("jsoncolumns", lambda r, s: to_json_columns(r), _JSON),
        ("jsonobjecteachrow", lambda r, s: to_json_object_each_row(r), _JSON),
        ("jsoneachrow jsonlines ndjson", lambda r, s: to_json_each_row(r), _NDJSON),
        ("jsoncompacteachrow", lambda r, s: to_json_compact_each_row(r), _NDJSON),
        ("jsoncompactstringseachrow",
         lambda r, s: to_json_compact_each_row(r, strings=True), _NDJSON),
        ("xml", lambda r, s: to_xml(r), "application/xml; charset=UTF-8"),
        ("markdown", lambda r, s: to_markdown(r), "text/markdown; charset=UTF-8"),
        ("vertical", lambda r, s: to_vertical(r), _TEXT),
        ("values", lambda r, s: to_values(r), _TEXT),
        ("pretty prettycompact prettynoescapes prettycompactnoescapes "
         "prettymonoblock prettycompactmonoblock prettynoescapesmonoblock "
         "prettycompactnoescapesmonoblock", lambda r, s: to_pretty(r), _TEXT),
        ("prettyspace prettyspacenoescapes", lambda r, s: to_pretty_space(r), _TEXT),
        ("lineasstring", lambda r, s: to_line_as_string(r), _TEXT),
        ("sqlinsert", lambda r, s: to_sql_insert(r), _TEXT),
        ("null", lambda r, s: b"", _TEXT),
        ("native", lambda r, s: to_native(r), _BINARY),
        ("rowbinary", lambda r, s: to_row_binary(r), _BINARY),
        ("rowbinarywithnames", lambda r, s: to_row_binary(r, with_names=True), _BINARY),
        ("rowbinarywithnamesandtypes",
         lambda r, s: to_row_binary(r, with_names=True, with_types=True), _BINARY),
        ("parquet", lambda r, s: to_parquet(r), _BINARY),
        ("orc", lambda r, s: to_orc(r), _BINARY),
        ("avro", lambda r, s: write_ocf(r.columns, r.ch_types, r.rows), _BINARY),
        ("arrow", lambda r, s: to_arrow(r), "application/vnd.apache.arrow.file"),
        ("arrowstream", lambda r, s: to_arrow_stream(r), "application/vnd.apache.arrow.stream"),
        ("protobuf", _protobuf("delimited"), _BINARY),
        ("protobufsingle", _protobuf("single"), _BINARY),
        ("protobuflist", _protobuf("list"), _BINARY),
        ("capnproto", _capnproto, _BINARY),
    )
    for name in names.split()
}


def serialize(res: QueryResult, fmt: str, settings: Optional[dict] = None) -> bytes:
    entry = FORMATS.get(fmt.lower())
    if entry is None:
        raise ValueError(f"unknown format: {fmt}")
    return entry[0](res, settings or {})


def content_type(fmt: str) -> str:
    return FORMATS.get(fmt.lower(), (None, _TEXT))[1]
