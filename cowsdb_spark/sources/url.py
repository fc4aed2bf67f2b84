"""``url('addr', 'FMT')`` and ``file('path', 'FMT')`` table functions
(SURVEY §2.1 S3/S9; exercised by the reference CI at test.yml:50:
``INSERT INTO clickbench.hits SELECT * FROM url('…hits_v1.tsv.xz',
'TSV')``).

Design: the engine pre-pass finds the call in table position,
materializes the source as a temp view, and substitutes the view
name into the SQL. http(s) URLs download driver-side to a temp file
(single fetch; the reference's chDB does the same single-node
download), ``.xz``/``.gz``/``.zst`` are decompressed driver-side,
then Spark's distributed reader takes over. At cluster scale the
right move is landing the file on shared storage first; the seam
here (fetch → read) is exactly where that swap happens.
"""

from __future__ import annotations

import os
import tempfile
import urllib.request
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..dialect.tokenizer import arg_texts, find_close, split_text, tokenize

_FORMAT_READERS = {
    "tsv": dict(fmt="csv", options={"sep": "\t", "nullValue": "\\N", "header": "false"}),
    "tabseparated": dict(fmt="csv", options={"sep": "\t", "nullValue": "\\N", "header": "false"}),
    "tsvwithnames": dict(fmt="csv", options={"sep": "\t", "nullValue": "\\N", "header": "true"}),
    "tabseparatedwithnames": dict(
        fmt="csv", options={"sep": "\t", "nullValue": "\\N", "header": "true"}
    ),
    "csv": dict(fmt="csv", options={"header": "false", "nullValue": "\\N"}),
    "csvwithnames": dict(fmt="csv", options={"header": "true", "nullValue": "\\N"}),
    "jsoneachrow": dict(fmt="json", options={}),
    "parquet": dict(fmt="parquet", options={}),
}


def _decompress_if_needed(path: str) -> str:
    if path.endswith(".xz"):
        import lzma

        # decompress into a fresh tempfile, never alongside the source:
        # writing next to a confined file() path would hand clients an
        # overwrite primitive inside the user-files directory
        fd, out = tempfile.mkstemp(
            prefix="moospark-xz-", suffix="-" + os.path.basename(path)[:-3]
        )
        with lzma.open(path) as src, os.fdopen(fd, "wb") as dst:
            while chunk := src.read(1 << 22):
                dst.write(chunk)
        return out
    if path.endswith(".zst"):
        raise ValueError("zstd decompression not available in this environment")
    return path  # .gz handled natively by Spark's readers


def _confine(addr: str, files_root: str | None) -> str:
    """Resolve a local file() path inside the configured user-files
    directory (CH confines file() to user_files_path identically).
    Relative paths resolve under the root; absolute paths must
    realpath-land inside it (symlink-safe). Unconfigured → the local
    read surface is disabled: any HTTP client can call file(), so an
    unconfined default would be an arbitrary-file-read primitive with
    server privileges."""
    if files_root is None:
        raise ValueError(
            "file() / url('file://…') is disabled: no user files "
            "directory is configured (set MOOSPARK_USER_FILES_DIR or "
            "Engine(user_files_dir=…))"
        )
    root = os.path.realpath(files_root)
    p = addr if os.path.isabs(addr) else os.path.join(root, addr)
    rp = os.path.realpath(p)
    if not (rp == root or rp.startswith(root + os.sep)):
        raise ValueError(f"file() path escapes the user files directory: {addr}")
    return rp


def _fetch(addr: str, files_root: str | None = None) -> str:
    """Local path for the source; downloads http(s) driver-side."""
    if addr.startswith(("http://", "https://")):
        suffix = os.path.basename(addr.split("?")[0]) or "download"
        fd, tmp = tempfile.mkstemp(prefix="moospark-url-", suffix="-" + suffix)
        with os.fdopen(fd, "wb") as dst, urllib.request.urlopen(addr) as src:
            while chunk := src.read(1 << 22):
                dst.write(chunk)
        return _decompress_if_needed(tmp)
    if addr.startswith("file://"):
        addr = addr[7:]
    return _decompress_if_needed(_confine(addr, files_root))


def _to_spark_schema(structure: str):
    """CH structure string (``'a Int64, b String'``) → StructType.
    Falls back to Spark DDL parsing for structures already spelled in
    Spark types (the engine's own structure hints)."""
    from pyspark.sql import types as T

    try:
        return T.StructType.fromDDL(structure)
    except Exception:
        pass
    from ..dialect.types import ch_type_to_spark

    fields = []
    for part in split_text(structure):
        name, _, typ = part.partition(" ")
        fields.append(
            T.StructField(name.strip("`"), ch_type_to_spark(typ.strip()), True)
        )
    return T.StructType(fields)


def read_source(
    spark: SparkSession,
    addr: str,
    fmt: str = "TSV",
    schema: str | None = None,
    files_root: str | None = None,
) -> DataFrame:
    spec = _FORMAT_READERS.get(fmt.lower())
    if spec is None:
        raise ValueError(f"unsupported url()/file() format: {fmt}")
    path = _fetch(addr, files_root)
    reader = spark.read.format(spec["fmt"]).options(**spec["options"])
    if schema:
        reader = reader.schema(_to_spark_schema(schema))
        if spec["fmt"] == "csv":
            # CH text formats spell DateTime/Date without the ISO 'T';
            # Spark's csv defaults would null such cells out under a
            # typed schema (PERMISSIVE mode), so pin the CH shapes.
            reader = reader.option("timestampFormat", "yyyy-MM-dd HH:mm:ss").option(
                "dateFormat", "yyyy-MM-dd"
            )
    elif spec["fmt"] == "csv":
        reader = reader.option("inferSchema", "true")
    return reader.load(path)


def resolve_table_functions(
    spark: SparkSession,
    sql: str,
    default_schema: str | None = None,
    files_root: str | None = None,
) -> str:
    """Replace url()/file() calls in table position with temp views.

    ``default_schema`` is the CH *structure hint*: for ``INSERT INTO t
    SELECT … FROM url(…, 'TSV')`` the engine passes the target table's
    schema, and any call WITHOUT its own explicit structure argument is
    parsed with the target's column names and types (reference CI
    contract, test.yml:50 — the 105-column hits load names EventTime/
    UserID/… straight out of the TSV). An explicit 3-arg structure
    always wins."""
    toks = tokenize(sql)
    out: list[str] = []
    i = 0
    counter = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "ident" and t.text.lower() in ("url", "file"):
            j = i + 1
            while j < len(toks) and toks[j].kind in ("ws", "comment"):
                j += 1
            if j < len(toks) and toks[j].text == "(":
                k = find_close(toks, j)
                if k == -1:
                    k = len(toks)
                # split on top-level comma tokens only: a comma inside
                # a quoted URL or the 3-arg schema form
                # file(p,'TSV','a Int64, b String') is part of its arg
                # — str.split(',') on the joined text mis-split both
                def _arg(s: str) -> str:
                    if len(s) >= 2 and s[0] == "'" and s[-1] == "'":
                        s = s[1:-1].replace("\\'", "'").replace("''", "'")
                    return s

                args = [_arg(a) for a in arg_texts(toks[j + 1 : k])]
                addr = args[0]
                fmt = args[1] if len(args) > 1 else "TSV"
                schema = args[2] if len(args) > 2 else default_schema
                view = f"__moospark_src_{uuid.uuid4().hex[:12]}_{counter}"
                counter += 1
                read_source(spark, addr, fmt, schema, files_root).createOrReplaceTempView(view)
                out.append(view)
                i = k + 1
                continue
        out.append(t.text)
        i += 1
    return "".join(out)
