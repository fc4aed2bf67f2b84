"""Token-aware ClickHouse → Spark SQL statement translation.

Pipeline (SURVEY §3.5): split statements on top-level ';' → classify
(USE / DDL / INSERT / SELECT / SET / meta) → strip trailing FORMAT
and SETTINGS clauses → rewrite CH spellings (function map, ternary
``?:``, ``numbers()`` table function, backquote→Spark backquote) →
hand the Spark SQL string to the engine.

Deliberately *not* copied from the reference: its ``"FORMAT" in
query.upper()`` string surgery (main.py:534-546) corrupts string
literals; here FORMAT/SETTINGS are recognized only as top-level
trailing clauses in the token stream.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from .functions import (
    CODE_FNS,
    PARAMETERIZED,
    RENAMES,
    TEMPLATES,
    expand_combinator,
    parse_combinator,
)
from .tokenizer import (
    Tok,
    arg_texts,
    depth_delta,
    find_close,
    significant,
    split_args,
    split_text,
    tokenize,
)

# Formats the serializer layer knows (formats/__init__.py registry
# keys; checked case-insensitively but emitted canonically).
KNOWN_FORMATS = {
    "tsv": "TSV",
    "tabseparated": "TSV",
    "tsvwithnames": "TSVWithNames",
    "tabseparatedwithnames": "TSVWithNames",
    "tsvwithnamesandtypes": "TSVWithNamesAndTypes",
    "tabseparatedwithnamesandtypes": "TSVWithNamesAndTypes",
    "tsvraw": "TSVRaw",
    "tabseparatedraw": "TSVRaw",
    "csvwithnamesandtypes": "CSVWithNamesAndTypes",
    "jsonstrings": "JSONStrings",
    "jsoncolumns": "JSONColumns",
    "jsoncompacteachrow": "JSONCompactEachRow",
    "jsoncompactstringseachrow": "JSONCompactStringsEachRow",
    "vertical": "Vertical",
    "markdown": "Markdown",
    "csv": "CSV",
    "csvwithnames": "CSVWithNames",
    "json": "JSON",
    "jsoncompact": "JSONCompact",
    "jsoncompactcolumns": "JSONCompactColumns",
    "jsoneachrow": "JSONEachRow",
    "native": "Native",
    "rowbinary": "RowBinary",
    "rowbinarywithnames": "RowBinaryWithNames",
    "rowbinarywithnamesandtypes": "RowBinaryWithNamesAndTypes",
    "pretty": "Pretty",
    "prettycompact": "Pretty",
    "values": "Values",
    "null": "Null",
    "parquet": "Parquet",
    "arrow": "Arrow",
    "arrowstream": "ArrowStream",
    "tskv": "TSKV",
    "jsonobjecteachrow": "JSONObjectEachRow",
    "jsonlines": "JSONLines",
    "ndjson": "NDJSON",
    "lineasstring": "LineAsString",
    "prettyspace": "PrettySpace",
    "prettyspacenoescapes": "PrettySpaceNoEscapes",
    "prettynoescapes": "PrettyNoEscapes",
    "prettycompactnoescapes": "PrettyCompactNoEscapes",
    "prettymonoblock": "PrettyMonoBlock",
    "prettycompactmonoblock": "PrettyCompactMonoBlock",
    "prettynoescapesmonoblock": "PrettyNoEscapesMonoBlock",
    "prettycompactnoescapesmonoblock": "PrettyCompactNoEscapesMonoBlock",
    "sqlinsert": "SQLInsert",
    "xml": "XML",
    "customseparated": "CustomSeparated",
    "orc": "ORC",
}


@dataclass
class Statement:
    """One translated statement, ready for the engine."""

    kind: str  # select | use | set | ddl | insert | other
    spark_sql: str = ""
    format: Optional[str] = None  # from trailing FORMAT clause
    database: Optional[str] = None  # for USE
    settings: dict[str, str] = field(default_factory=dict)
    original: str = ""
    with_totals: bool = False  # GROUP BY … WITH TOTALS
    explain_graph: bool = False  # EXPLAIN … graph=1 → digraph output
    # ORDER BY col WITH FILL [FROM a] [TO b] [STEP s] — engine applies
    # the fill over the result DataFrame (types known there)
    with_fill: Optional[dict] = None
    # SELECT … INTO OUTFILE 'path' [AND STDOUT] [TRUNCATE|APPEND]
    # — engine writes the serialized result to the file (chDB /
    # clickhouse-local accept this server-side; reference main.py
    # passes it straight through to chDB)
    outfile: Optional[str] = None
    outfile_mode: str = "error"  # error (CH default) | truncate | append
    outfile_and_stdout: bool = False


def split_statements(sql: str) -> list[str]:
    """Split on top-level semicolons (string/comment-safe)."""
    toks = tokenize(sql)
    stmts: list[str] = []
    cur: list[str] = []
    for t in toks:
        if t.kind == "op" and t.text == ";":
            s = "".join(cur).strip()
            if s:
                stmts.append(s)
            cur = []
        else:
            cur.append(t.text)
    s = "".join(cur).strip()
    if s:
        stmts.append(s)
    return stmts


def _sig(toks: list[Tok]) -> list[int]:
    return [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]


def _strip_trailing_format(toks: list[Tok]) -> tuple[list[Tok], Optional[str]]:
    """Remove a top-level trailing ``FORMAT <name>`` clause."""
    sig = _sig(toks)
    if len(sig) >= 2:
        a, b = sig[-2], sig[-1]
        if (
            toks[a].kind == "ident"
            and toks[a].text.upper() == "FORMAT"
            and toks[b].kind == "ident"
        ):
            # ensure FORMAT is at paren depth 0
            depth = 0
            for i in range(a):
                if toks[i].kind == "op":
                    depth += depth_delta(toks[i])
            if depth == 0:
                # unknown names strip too and pass through verbatim —
                # the serializer raises CH code 73 (Unknown format),
                # not a Spark parse error on the leftover clause
                fmt = KNOWN_FORMATS.get(
                    toks[b].text.lower(), toks[b].text
                )
                return toks[:a], fmt
    return toks, None


def _strip_trailing_outfile(
    toks: list[Tok],
) -> tuple[list[Tok], Optional[str], str, bool]:
    """Remove a top-level trailing ``INTO OUTFILE '<path>' [AND STDOUT]
    [TRUNCATE|APPEND]`` clause (FORMAT, which follows it in CH syntax,
    must already be stripped)."""
    sig = _sig(toks)
    depth = 0
    at = None  # sig index of INTO
    for si, i in enumerate(sig):
        t = toks[i]
        if t.kind == "op":
            depth += depth_delta(t)
        if (
            depth == 0
            and t.kind == "ident"
            and t.text.upper() == "INTO"
            and si + 2 < len(sig)
            and toks[sig[si + 1]].text.upper() == "OUTFILE"
            and toks[sig[si + 2]].kind == "string"
        ):
            at = si
            break
    if at is None:
        return toks, None, "error", False
    path = toks[sig[at + 2]].text.strip("'")
    mode, and_stdout = "error", False
    j = at + 3
    while j < len(sig):
        word = toks[sig[j]].text.upper()
        if word == "TRUNCATE":
            mode = "truncate"
        elif word == "APPEND":
            mode = "append"
        elif word == "AND" and j + 1 < len(sig) and toks[sig[j + 1]].text.upper() == "STDOUT":
            and_stdout = True
            j += 1
        else:
            break
        j += 1
    rest = toks[: sig[at]] + (toks[sig[j]:] if j < len(sig) else [])
    return rest, path, mode, and_stdout


def _strip_trailing_settings(toks: list[Tok]) -> tuple[list[Tok], dict[str, str]]:
    """Remove a top-level trailing ``SETTINGS k=v, ...`` clause."""
    sig = _sig(toks)
    depth = 0
    settings_at = None
    for i, t in enumerate(toks):
        if t.kind == "op":
            depth += depth_delta(t)
        if t.kind == "ident" and t.text.upper() == "SETTINGS" and depth == 0:
            # `system.settings` is a table reference, not the clause
            prev = next(
                (
                    toks[j]
                    for j in range(i - 1, -1, -1)
                    if toks[j].kind not in ("ws", "comment")
                ),
                None,
            )
            if prev is not None and prev.text == ".":
                continue
            settings_at = i
    if settings_at is None:
        return toks, {}
    tail = [t for t in toks[settings_at + 1 :] if t.kind not in ("ws", "comment")]
    if not tail:
        return toks, {}  # bare trailing identifier, not a clause
    # parse k = v (, k = v)* — anything else means it wasn't a settings clause
    settings: dict[str, str] = {}
    i = 0
    while i < len(tail):
        if i + 2 < len(tail) + 1 and len(tail) - i >= 3:
            k, eq, v = tail[i], tail[i + 1], tail[i + 2]
            if k.kind == "ident" and eq.text == "=" and v.kind in ("number", "string", "ident"):
                settings[k.text] = v.text.strip("'")
                i += 3
                if i < len(tail) and tail[i].text == ",":
                    i += 1
                continue
        return toks, {}  # not a parseable settings clause; leave untouched
    _ = sig  # (kept for symmetry with _strip_trailing_format)
    return toks[:settings_at], settings


def _apply_template(template: str, args: list[str], params: list[str] | None = None) -> str:
    out = template
    out = out.replace("{*}", ", ".join(args))
    if params is not None:
        out = out.replace("{p*}", ", ".join(params))
        for i, p in enumerate(params):
            out = out.replace(f"{{p{i}}}", p)
    for i, a in enumerate(args):
        if f"{{{i}:lit}}" in out:
            out = out.replace(f"{{{i}:lit}}", a.strip().strip("'"))
        out = out.replace(f"{{{i}}}", a)
    return out


def _multi_if(args: list[str]) -> str:
    """multiIf(c1, v1, c2, v2, ..., else) → CASE chain."""
    parts = ["CASE"]
    i = 0
    while i + 1 < len(args):
        # CH conditions are UInt8 (nonzero = true); boolean() keeps
        # boolean inputs as-is and coerces numerics, matching CH
        parts.append(f"WHEN boolean({args[i]}) THEN {args[i + 1]}")
        i += 2
    if i < len(args):
        parts.append(f"ELSE {args[i]}")
    parts.append("END")
    return " ".join(parts)


def _generate_random(args: list[str]) -> str:
    """CH ``generateRandom('a Int64, b String'[, seed])`` table
    function → seeded-rand subquery over a lazy ``range`` scan.

    CH's stream is unbounded until LIMIT; ours is bounded at 100M
    rows, which a LocalLimit stops lazily — a bare un-LIMITed scan is
    a user error either way. Value distributions are type-plausible,
    deterministic for a given seed, and not byte-compatible with CH
    (CH's are generator-version-dependent too).
    """
    from pyspark.sql import types as T

    from .types import ch_type_to_spark

    schema = args[0].strip() if args else "'x Int64'"
    if schema and schema[0] in "'\"":
        schema = schema[1:-1]
    try:
        seed = int(float(args[1])) if len(args) > 1 else 42
    except ValueError:
        seed = 42

    def expr_for(dtype, k: int) -> str:
        r = f"rand({seed + k})"
        if isinstance(dtype, T.ByteType):
            return f"CAST(floor({r} * 200 - 100) AS TINYINT)"
        if isinstance(dtype, T.ShortType):
            return f"CAST(floor({r} * 60000 - 30000) AS SMALLINT)"
        if isinstance(dtype, (T.IntegerType, T.LongType)):
            cast = "INT" if isinstance(dtype, T.IntegerType) else "BIGINT"
            return f"CAST(floor({r} * 2000000000 - 1000000000) AS {cast})"
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return f"CAST({r} * 2000 - 1000 AS DOUBLE)"
        if isinstance(dtype, T.DecimalType):
            return f"CAST({r} * 1000 AS DECIMAL({dtype.precision}, {dtype.scale}))"
        if isinstance(dtype, T.BooleanType):
            return f"({r} > 0.5)"
        if isinstance(dtype, T.DateType):
            return f"date_add(DATE'2000-01-01', CAST(floor({r} * 9000) AS INT))"
        if isinstance(dtype, T.TimestampType):
            return f"timestamp_seconds(CAST(floor({r} * 1600000000) AS BIGINT))"
        if isinstance(dtype, T.ArrayType):
            inner = [expr_for(dtype.elementType, k * 7 + j) for j in range(3)]
            return (
                f"slice(array({', '.join(inner)}), 1, "
                f"CAST(floor(rand({seed + k + 101}) * 4) AS INT))"
            )
        return f"substring(md5(CAST({r} AS STRING)), 1, 10)"  # String & rest

    cols = []
    for k, part in enumerate(split_text(schema)):
        bits = part.split(None, 1)
        name = bits[0].strip("`")
        dtype = ch_type_to_spark(bits[1]) if len(bits) == 2 else T.LongType()
        cols.append(f"{expr_for(dtype, k)} AS `{name}`")
    # \x00-guard as in numbers(): keep the fixpoint loop off range()
    return f"(SELECT {', '.join(cols)} FROM \x00range\x00(100000000))"


# arity- or argument-shape-dependent rewrites handled in code, not
# via the TEMPLATES table (e.g. Spark's 2-arg HOF transform() must
# pass through while CH's 3/4-arg decode-style transform() rewrites)
_SPECIAL_FNS = {
    "count", "transform", "tostartofinterval", "tupleelement", "hex",
    "remote", "remotesecure", "cluster", "clusterallreplicas", "view",
    "format", "bittestall", "bittestany",
    "timestampadd", "timestampsub", "timestamp_add", "timestamp_sub",
    "formatrow", "isconstant", "defaultvalueoftypename",
}


def _start_of_interval(expr: str, interval: str) -> str:
    """toStartOfInterval(t, INTERVAL n unit) → date_trunc / epoch-floor."""
    m = re.match(r"(?i)\s*INTERVAL\s+(\d+)\s+(\w+?)s?\s*$", interval)
    if not m:
        return f"date_trunc('day', {expr})"
    n, unit = int(m.group(1)), m.group(2).lower()
    if n == 1 and unit in ("second", "minute", "hour", "day", "week", "month", "quarter", "year"):
        return f"date_trunc('{unit}', {expr})"
    secs = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}.get(unit)
    if secs:
        s = n * secs
        return (
            f"timestamp_seconds(CAST(floor(unix_timestamp({expr}) / {s}) AS BIGINT) * {s})"
        )
    return f"date_trunc('{unit}', {expr})"  # n>1 month/year: truncate to unit


_STRFTIME_MAP = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "I": "hh", "h": "hh", "i": "mm", "M": "mm", "S": "ss",
    "s": "ss", "j": "DDD", "a": "EEE", "W": "EEEE", "b": "MMM",
    "f": "SSSSSS", "F": "yyyy-MM-dd", "D": "MM/dd/yy", "T": "HH:mm:ss",
    "R": "HH:mm", "p": "a", "G": "yyyy", "g": "yy", "n": "\n", "t": "\t",
}


def _strftime_to_java(fmt: str) -> str:
    """MySQL/strftime ``%``-pattern → Java SimpleDateFormat pattern.
    (%M maps to minutes — the '%H:%M:%S' idiom — not month name.)
    Literal letters are quoted so Java doesn't treat them as fields."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            text = "".join(lit)
            if any(c.isalpha() or c == "'" for c in text):
                out.append("'" + text.replace("'", "''") + "'")
            else:
                out.append(text)
            lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            nxt = fmt[i + 1]
            if nxt == "%":
                lit.append("%")
            elif nxt in _STRFTIME_MAP:
                flush()
                out.append(_STRFTIME_MAP[nxt])
            else:
                lit.append(nxt)
            i += 2
        else:
            lit.append(c)
            i += 1
    flush()
    return "".join(out)


def _rewrite_functions(sql: str) -> str:
    """One pass of call-site rewrites; repeats until fixpoint."""
    for _ in range(10):  # nested rewrites converge quickly
        toks = tokenize(sql)
        out: list[str] = []
        i = 0
        changed = False
        while i < len(toks):
            t = toks[i]
            if t.kind == "ident":
                # find next significant token
                j = i + 1
                while j < len(toks) and toks[j].kind in ("ws", "comment"):
                    j += 1
                is_call = j < len(toks) and toks[j].kind == "op" and toks[j].text == "("
                lname = t.text.lower()
                if is_call and (
                    lname in RENAMES
                    or lname in TEMPLATES
                    or lname in PARAMETERIZED
                    or lname in CODE_FNS
                    or lname == "numbers"
                    or lname == "generaterandom"
                    or lname in _SPECIAL_FNS
                    or parse_combinator(lname) is not None
                ):
                    close = find_close(toks, j)
                    if close == -1:
                        out.append(t.text)
                        i += 1
                        continue
                    args = arg_texts(toks[j + 1 : close])
                    # parameterized combinator: name(params)(args)
                    k = close + 1
                    while k < len(toks) and toks[k].kind in ("ws", "comment"):
                        k += 1
                    if (
                        lname in PARAMETERIZED
                        and k < len(toks)
                        and toks[k].kind == "op"
                        and toks[k].text == "("
                    ):
                        close2 = find_close(toks, k)
                        if close2 != -1:
                            real_args = arg_texts(toks[k + 1 : close2])
                            entry = PARAMETERIZED[lname]
                            res = (
                                entry(real_args, args)
                                if callable(entry)
                                else _apply_template(entry, real_args, args)
                            )
                            if res is not None:
                                out.append(res)
                                i = close2 + 1
                                changed = True
                                continue
                    if lname == "numbers":
                        # \x00-guard keeps the fixpoint loop from
                        # rewriting Spark's range() table function via
                        # the CH scalar-range template.
                        # CH numbers(offset, count) = [offset,
                        # offset+count); Spark range(a, b) = [a, b).
                        if len(args) == 2:
                            rng = f"({args[0]}), ({args[0]}) + ({args[1]})"
                        else:
                            rng = ", ".join(args)
                        out.append(
                            f"(SELECT id AS number FROM \x00range\x00({rng}))"
                        )
                        i = close + 1
                        changed = True
                        continue
                    if lname == "generaterandom":
                        out.append(_generate_random(args))
                        i = close + 1
                        changed = True
                        continue
                    if lname == "view":
                        # table fn view(SELECT …) → plain subquery
                        out.append(f"({', '.join(args)})")
                        i = close + 1
                        changed = True
                        continue
                    if lname == "format" and len(args) >= 2:
                        # CH format('{} x {}', a, b) → format_string
                        # with %s placeholders (positional {N} not
                        # supported; plain {} only)
                        rest = ", ".join(args[1:])
                        out.append(
                            f"format_string(replace({args[0]}, '{{}}', '%s'), {rest})"
                        )
                        i = close + 1
                        changed = True
                        continue
                    if lname == "arraystringconcat" and len(args) == 1:
                        out.append(f"array_join({args[0]}, '')")
                        i = close + 1
                        changed = True
                        continue
                    if lname in ("bittestall", "bittestany") and len(args) >= 2:
                        # variadic bit positions → forall/exists over them
                        hof = "forall" if lname == "bittestall" else "exists"
                        pos = ", ".join(args[1:])
                        out.append(
                            f"CAST({hof}(array({pos}), p -> "
                            f"(shiftrightunsigned({args[0]}, p) & 1) = 1) AS TINYINT)"
                        )
                        i = close + 1
                        changed = True
                        continue
                    if lname == "multiif":
                        out.append(_multi_if(args))
                        i = close + 1
                        changed = True
                        continue
                    if lname == "count" and not any(a.strip() for a in args):
                        out.append("count(*)")  # CH bare count()
                        i = close + 1
                        changed = True
                        continue
                    if lname == "transform" and len(args) in (3, 4):
                        # CH decode-style transform(x, from[], to[], [dflt]);
                        # 2-arg Spark HOF transform passes through
                        res = (
                            f"element_at(map_from_arrays({args[1]}, {args[2]}), {args[0]})"
                        )
                        if len(args) == 4:
                            res = f"coalesce({res}, {args[3]})"
                        out.append(res)
                        i = close + 1
                        changed = True
                        continue
                    if lname == "tostartofinterval" and len(args) >= 2:
                        out.append(_start_of_interval(args[0], args[1]))
                        i = close + 1
                        changed = True
                        continue
                    if lname in ("timestampadd", "timestampsub", "timestamp_add", "timestamp_sub") and len(args) == 2:
                        # CH 2-arg form: (datetime, INTERVAL n unit).
                        # The 3-arg (unit, n, datetime) form falls
                        # through to Spark's own timestampadd.
                        op = "+" if "add" in lname else "-"
                        out.append(f"({args[0]} {op} {args[1]})")
                        i = close + 1
                        changed = True
                        continue
                    if lname == "formatrow" and len(args) >= 2:
                        # formatRow('CSV'|'TSV', v1, v2, ...) → the
                        # serialized row incl. trailing newline (CH
                        # row-format contract)
                        fmt_name = args[0].strip().strip("'\"").lower()
                        sep = {"csv": ",", "tsv": "\\t", "tabseparated": "\\t"}.get(fmt_name)
                        if sep is not None:
                            vals = ", ".join(f"CAST({a} AS STRING)" for a in args[1:])
                            out.append(f"concat(concat_ws('{sep}', {vals}), '\\n')")
                            i = close + 1
                            changed = True
                            continue
                    if lname == "defaultvalueoftypename" and len(args) == 1:
                        from . import types as _ty
                        from pyspark.sql import types as _T

                        _tn = args[0].strip().strip("'\"")
                        try:
                            dt = _ty.ch_type_to_spark(_tn)
                        except Exception:  # noqa: BLE001
                            dt = None
                        # CH: the default of a Nullable type is NULL
                        if dt is not None and _tn.lower().startswith("nullable("):
                            out.append(f"CAST(NULL AS {dt.simpleString()})")
                            i = close + 1
                            changed = True
                            continue
                        if dt is not None:
                            if isinstance(dt, _T.StringType):
                                dv = "''"
                            elif isinstance(dt, (_T.DateType,)):
                                dv = "DATE'1970-01-01'"
                            elif isinstance(dt, _T.TimestampType):
                                dv = "TIMESTAMP'1970-01-01 00:00:00'"
                            elif isinstance(dt, _T.ArrayType):
                                dv = f"CAST(array() AS {dt.simpleString()})"
                            elif isinstance(dt, _T.MapType):
                                dv = f"CAST(map() AS {dt.simpleString()})"
                            else:
                                dv = f"CAST(0 AS {dt.simpleString()})"
                            out.append(dv)
                            i = close + 1
                            changed = True
                            continue
                    if lname == "isconstant" and len(args) == 1:
                        # constant-foldable iff the argument references
                        # no column (only literals/operators/parens)
                        is_const = not re.search(
                            r"[A-Za-z_][A-Za-z0-9_]*",
                            re.sub(r"'[^']*'", "", args[0]),
                        )
                        out.append("1" if is_const else "0")
                        i = close + 1
                        changed = True
                        continue
                    if lname == "tupleelement" and len(args) == 2:
                        a0 = args[0].strip()
                        if a0.startswith("("):
                            a0 = "struct" + a0  # bare tuple literal
                        fld = args[1].strip().strip("'\"")
                        fld = f"col{fld}" if fld.isdigit() else fld
                        out.append(f"({a0}).{fld}")
                        i = close + 1
                        changed = True
                        continue
                    if (
                        lname == "formatdatetime"
                        and len(args) >= 2
                        and re.match(r"^\s*'[^']*%[^']*'\s*$", args[1])
                    ):
                        # CH uses MySQL/strftime % patterns; Spark wants
                        # Java SimpleDateFormat — convert literal patterns
                        conv = _strftime_to_java(args[1].strip()[1:-1])
                        conv = conv.replace("'", "''")  # SQL-escape pattern quotes
                        out.append(f"date_format({args[0]}, '{conv}')")
                        i = close + 1
                        changed = True
                        continue
                    if lname == "hex" and len(args) == 1 and re.match(
                        r"(?i)\s*(md5|sha1|sha256|sha2|sha224|sha384|sha512)\s*\(",
                        args[0],
                    ):
                        # CH hash fns return binary, hex()ed to display;
                        # Spark's return hex text already — just uppercase
                        out.append(f"upper({args[0]})")
                        i = close + 1
                        changed = True
                        continue
                    if lname in ("remote", "remotesecure", "cluster", "clusterallreplicas") and len(args) >= 2:
                        # single-node engine: the address/cluster arg is
                        # dropped; the remaining args name the table
                        # (remote('host', db, t) / cluster('c', db.t))
                        parts = [a.strip().strip("'\"") for a in args[1:]]
                        out.append(".".join(p for p in parts if p))
                        i = close + 1
                        changed = True
                        continue
                    if lname in CODE_FNS:
                        res = CODE_FNS[lname](args)
                        if res is not None:
                            out.append(res)
                            i = close + 1
                            changed = True
                            continue
                        out.append(t.text)  # shape didn't match: pass through
                        i += 1
                        continue
                    if lname in _SPECIAL_FNS:
                        out.append(t.text)  # shape didn't match: pass through
                        i += 1
                        continue
                    if lname in TEMPLATES and TEMPLATES[lname] is not None:
                        tpl = TEMPLATES[lname]
                        refs = [int(m) for m in re.findall(r"\{(\d+)(?::lit)?\}", tpl)]
                        if refs and max(refs) >= len(args):
                            # arity mismatch (e.g. a template's own output
                            # re-matched on the next fixpoint pass, or a
                            # Spark-native call sharing the name): pass
                            out.append(t.text)
                            i += 1
                            continue
                        out.append(_apply_template(tpl, args))
                        i = close + 1
                        changed = True
                        continue
                    if lname in RENAMES:
                        # emit only the renamed NAME and resume the
                        # scan at '(' — jumping past the whole call hid
                        # the argument interior from this AND every
                        # later pass (identity renames like greatest
                        # re-match leftmost each pass), so nested known
                        # calls inside renamed ones never rewrote:
                        # greatest(toDateTime(x), …) kept raw toDateTime
                        out.append(RENAMES[lname])
                        if RENAMES[lname] != t.text:
                            changed = True
                        i = j
                        continue
                    # aggregate-combinator algebra: any stackable
                    # -If/-Array/-Distinct/-OrNull/-OrDefault chain on
                    # a known aggregate base; the emitted base call is
                    # translated on the next fixpoint pass
                    comb = expand_combinator(lname, args)
                    if comb is not None:
                        out.append(comb)
                        i = close + 1
                        changed = True
                        continue
                elif not is_call and lname in ("version", "now", "today", "yesterday"):
                    # CH allows these without parens only when called;
                    # bare idents stay untouched (could be columns).
                    pass
            out.append(t.text)
            i += 1
        new_sql = "".join(out)
        if not changed:
            return new_sql.replace("\x00", "")
        sql = new_sql
    return sql.replace("\x00", "")


_TERNARY_LEFT_STOP = {",", "(", "[", ";"}
_TERNARY_LEFT_STOP_KW = {
    "SELECT",
    "WHERE",
    "WHEN",
    "THEN",
    "ELSE",
    "AS",
    "BY",
    "HAVING",
    "ON",
    "AND",
    "OR",
    "NOT",
    "RETURN",
    "SET",
}


def _rewrite_ternary(sql: str) -> str:
    """``cond ? a : b`` → ``CASE WHEN cond THEN a ELSE b END``.

    The condition extends left to the nearest top-level comma /
    opening paren / clause keyword; the branches extend right with
    ':' matched at the same nesting depth. Repeats until no '?'
    remains (nested ternaries resolve outermost-first).
    """
    for _ in range(20):
        toks = tokenize(sql)
        q_idx = None
        depth = 0
        for i, t in enumerate(toks):
            depth += depth_delta(t)
            if t.kind == "op" and t.text == "?" and q_idx is None:
                q_idx = i
                q_depth = depth
        if q_idx is None:
            return sql
        # left boundary: scan back at q_depth
        depth = q_depth
        left = 0
        for i in range(q_idx - 1, -1, -1):
            t = toks[i]
            d = depth_delta(t)
            if d > 0 and depth == q_depth:
                left = i + 1
                break
            depth -= d
            if d == 0 and depth == q_depth and (
                (t.kind == "op" and t.text in _TERNARY_LEFT_STOP)
                or (t.kind == "ident" and t.text.upper() in _TERNARY_LEFT_STOP_KW)
            ):
                left = i + 1
                break
        # find matching ':' then right boundary of else-branch
        depth = q_depth
        colon = None
        nested = 0
        for i in range(q_idx + 1, len(toks)):
            t = toks[i]
            depth += depth_delta(t)
            if depth < q_depth:
                break
            if t.kind == "op" and t.text == "?" and depth == q_depth:
                nested += 1
            elif t.kind == "op" and t.text == ":" and depth == q_depth:
                if nested == 0:
                    colon = i
                    break
                nested -= 1
        if colon is None:
            return sql  # not a ternary (e.g. cast '::'), leave as-is
        # right boundary: to nearest top-level comma/close-paren/keyword
        right = len(toks)
        depth = q_depth
        for i in range(colon + 1, len(toks)):
            t = toks[i]
            depth += depth_delta(t)
            if depth < q_depth or (t.kind == "op" and t.text == "," and depth == q_depth):
                right = i
                break
            if (
                t.kind == "ident"
                and t.text.upper() in ("AS", "FROM", "WHERE", "GROUP", "ORDER", "LIMIT", "END")
                and depth == q_depth
            ):
                right = i
                break
        cond = "".join(t.text for t in toks[left:q_idx]).strip()
        then = "".join(t.text for t in toks[q_idx + 1 : colon]).strip()
        els = "".join(t.text for t in toks[colon + 1 : right]).strip()
        before = "".join(t.text for t in toks[:left])
        after = "".join(t.text for t in toks[right:])
        # boolean() cast: CH conditions are truthy integers
        # (``number % 2 ? … : …``, index.html:729); Spark's CASE
        # requires BOOLEAN and CAST(int AS BOOLEAN) matches CH
        # nonzero-is-true semantics.
        sql = f"{before} CASE WHEN boolean({cond}) THEN {then} ELSE {els} END {after}".rstrip()
    return sql


def _rewrite_double_literals(toks: list[Tok]) -> None:
    """``1.5`` → ``1.5D``: ClickHouse float literals are Float64;
    Spark would parse them as DECIMAL(2,1) (observed as a String
    column on the native wire). In-place on the token list."""
    for t in toks:
        if t.kind == "number" and ("." in t.text or "e" in t.text or "E" in t.text):
            t.text += "D"


def _rewrite_explain(toks: list[Tok]) -> bool:
    """CH ``EXPLAIN [AST|SYNTAX|PLAN|PIPELINE|ESTIMATE] [k=v ...]`` →
    Spark ``EXPLAIN [EXTENDED|FORMATTED]`` (SURVEY §2.8 F10; the Play
    UI sends ``EXPLAIN PIPELINE graph=1`` / ``EXPLAIN AST graph=1``,
    index.html:714-716). ``graph=1`` switches to digraph output: the
    EXPLAIN wrapper is stripped entirely and True is returned — the
    engine runs the bare query and emits a dot graph of its physical
    plan. Other options are dropped."""
    sig = [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]
    if not sig or toks[sig[0]].text.upper() != "EXPLAIN":
        return False
    mode_map = {
        "AST": "EXTENDED",
        "SYNTAX": "EXTENDED",
        "PLAN": "FORMATTED",
        "PIPELINE": "FORMATTED",
        "ESTIMATE": "COST",
        "QUERY": "FORMATTED",  # CH: EXPLAIN QUERY TREE
    }
    k = 1
    if len(sig) > 1 and toks[sig[1]].text.upper() in mode_map:
        toks[sig[1]].text = mode_map[toks[sig[1]].text.upper()]
        k = 2
        # CH: EXPLAIN QUERY TREE — swallow the TREE token too
        if toks[sig[1]].text == "FORMATTED" and len(sig) > 2 and toks[sig[2]].text.upper() == "TREE":
            toks[sig[2]].text = ""
            k = 3
    # drop option tokens `name = value` before the SELECT
    graph = False
    while (
        k + 2 < len(sig)
        and toks[sig[k]].kind == "ident"
        and toks[sig[k]].text.upper() not in ("SELECT", "WITH", "INSERT")
        and toks[sig[k + 1]].text == "="
    ):
        if toks[sig[k]].text.lower() == "graph" and toks[sig[k + 2]].text == "1":
            graph = True
        toks[sig[k]].text = ""
        toks[sig[k + 1]].text = ""
        toks[sig[k + 2]].text = ""
        k += 3
    if graph:
        # strip EXPLAIN + mode so the engine runs the bare query
        toks[sig[0]].text = ""
        if k >= 2:
            toks[sig[1]].text = ""
    return graph


def _rewrite_sample(toks: list[Tok]) -> None:
    """CH ``FROM t SAMPLE k`` → Spark ``TABLESAMPLE``; fraction k<1 →
    PERCENT, integer k → ROWS (SURVEY §4.2 SAMPLE BY row). In-place."""
    sig = _sig(toks)
    depth = 0
    for si, i in enumerate(sig):
        t = toks[i]
        depth += depth_delta(t)
        # any depth: SAMPLE also appears inside subqueries; the
        # [ident|)] SAMPLE <number> shape doesn't occur elsewhere
        if (
            t.kind == "ident"
            and t.text.upper() == "SAMPLE"
            and si + 1 < len(sig)
            and toks[sig[si + 1]].kind == "number"
            and si > 0
            and (
                toks[sig[si - 1]].kind in ("ident", "bquote")
                # table functions: numbers(10) SAMPLE 0.5
                or toks[sig[si - 1]].text.endswith(")")
            )
        ):
            num = toks[sig[si + 1]].text
            if "." in num and float(num) <= 1:
                t.text = f"TABLESAMPLE ({float(num) * 100} PERCENT)"
            else:
                t.text = f"TABLESAMPLE ({num} ROWS)"
            toks[sig[si + 1]].text = ""


def _rewrite_limit_by(toks: list[Tok]) -> list[Tok]:
    """CH ``[ORDER BY o] LIMIT n BY exprs [LIMIT m]`` → row_number
    window filter (SURVEY §2.5 O6). Returns a new token list."""
    sig = _sig(toks)
    depth = 0
    order_at = limit_at = None
    for si, i in enumerate(sig):
        t = toks[i]
        depth += depth_delta(t)
        if depth != 0 or t.kind != "ident":
            continue
        up = t.text.upper()
        if up == "ORDER" and order_at is None:
            order_at = si
        elif (
            up == "LIMIT"
            and limit_at is None
            and si + 2 < len(sig)
            and toks[sig[si + 1]].kind == "number"
            and toks[sig[si + 2]].text.upper() == "BY"
        ):
            limit_at = si
    if limit_at is None:
        return toks
    n = toks[sig[limit_at + 1]].text
    # by-list: from after BY to next top-level LIMIT or end
    by_end = len(sig)
    depth = 0
    for si in range(limit_at + 3, len(sig)):
        t = toks[sig[si]]
        depth += depth_delta(t)
        if depth == 0 and t.kind == "ident" and t.text.upper() == "LIMIT":
            by_end = si
            break
    by_exprs = arg_texts(toks[sig[limit_at + 3] : sig[by_end - 1] + 1])
    tail = (
        "".join(toks[j].text for j in range(sig[by_end], len(toks)))
        if by_end < len(sig)
        else ""
    )
    if order_at is not None:
        core = "".join(toks[j].text for j in range(sig[order_at])).strip()
        order_items = [
            _order_item(x) for x in arg_texts(toks[sig[order_at + 2] : sig[limit_at]])
        ]
    else:
        core = "".join(toks[j].text for j in range(sig[limit_at])).strip()
        order_items = []
    # BY and ORDER keys may not be in the projection (CH allows both
    # over any source column): splice every key into the inner select
    # under a synthetic alias, window over the aliases, and drop them
    # in the outer select (ORDER BY may still reference them — sort
    # resolves against the subquery output, not the projection).
    alias_of: dict[str, str] = {}
    for e in by_exprs + [e for e, _ in order_items]:
        alias_of.setdefault(e, f"__ch_lb_k{len(alias_of)}")
    core_aug = _append_select_items(
        core, [f"{e} AS {a}" for e, a in alias_of.items()]
    )
    partition = ", ".join(alias_of[e] for e in by_exprs)
    if order_items:
        win_order = ", ".join(
            f"{alias_of[e]} {sfx}".strip() for e, sfx in order_items
        )
    else:
        win_order = partition
    drop = ", ".join(["__ch_lb"] + list(alias_of.values()))
    new_sql = (
        f"SELECT * EXCEPT ({drop}) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {partition} "
        f"ORDER BY {win_order}) AS __ch_lb FROM ({core_aug}) __lb_in"
        f") __lb_out WHERE __ch_lb <= {n}"
    )
    if order_items:
        new_sql += f" ORDER BY {win_order}"
    if tail:
        new_sql += " " + tail
    return tokenize(new_sql)


def _order_item(item: str) -> tuple[str, str]:
    """'expr [ASC|DESC] [NULLS FIRST|LAST]' → (expr, modifiers)."""
    m = re.match(
        r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
        item.strip(),
    )
    return m.group(1).strip(), (m.group(2) or "").strip()


def _append_select_items(core: str, items: list[str]) -> str:
    """Append projection items to a SELECT's list (before its
    top-level FROM). No FROM → returned unchanged."""
    if not items:
        return core
    toks = tokenize(core)
    depth = 0
    for i, t in enumerate(toks):
        depth += depth_delta(t)
        if depth == 0 and t.kind == "ident" and t.text.upper() == "FROM":
            return (
                "".join(x.text for x in toks[:i])
                + ", "
                + ", ".join(items)
                + " "
                + "".join(x.text for x in toks[i:])
            )
    return core


def _rewrite_qualify(toks: list[Tok]) -> list[Tok]:
    """CH/ANSI ``QUALIFY <window predicate>`` → subquery rewrite.

    Spark has no QUALIFY; the predicate becomes a projected boolean in
    a subquery and an outer WHERE (same shape as the LIMIT BY rewrite):
    ``SELECT ... QUALIFY p ORDER BY o`` →
    ``SELECT * EXCEPT (__ch_q) FROM (SELECT ..., (p) AS __ch_q ...)
    WHERE __ch_q ORDER BY o``.
    """
    sig = _sig(toks)
    depth = 0
    q_at = None
    for si, i in enumerate(sig):
        t = toks[i]
        if t.kind == "op":
            depth += depth_delta(t)
        elif depth == 0 and t.kind == "ident" and t.text.upper() == "QUALIFY":
            q_at = si
            break
    if q_at is None:
        return toks
    end = len(sig)
    depth = 0
    for sj in range(q_at + 1, len(sig)):
        t = toks[sig[sj]]
        if t.kind == "op":
            depth += depth_delta(t)
        elif depth == 0 and t.kind == "ident" and t.text.upper() in (
            "ORDER",
            "LIMIT",
            "SETTINGS",
            "FORMAT",
        ):
            end = sj
            break
    core = "".join(toks[j].text for j in range(sig[q_at])).strip()
    qexpr = "".join(
        toks[j].text
        for j in range(sig[q_at] + 1, sig[end] if end < len(sig) else len(toks))
    ).strip()
    tail = (
        "".join(toks[j].text for j in range(sig[end], len(toks))).strip()
        if end < len(sig)
        else ""
    )
    core_aug = _append_select_items(core, [f"({qexpr}) AS __ch_q"])
    new_sql = (
        f"SELECT * EXCEPT (__ch_q) FROM ({core_aug}) __q_in WHERE __ch_q"
    )
    if tail:
        new_sql += " " + tail
    return tokenize(new_sql)


def _rewrite_where_alias(toks: list[Tok]) -> list[Tok]:
    """CH lets WHERE/HAVING reference SELECT-list aliases
    (``SELECT x + 1 AS y … WHERE y > 3``); Spark resolves WHERE against
    the source only. Substitute top-level alias definitions into the
    top-level WHERE/HAVING clauses (subquery clauses keep their own
    scope and are left alone)."""
    sig = _sig(toks)
    if not sig or toks[sig[0]].text.upper() != "SELECT":
        return toks  # WITH-headed or non-SELECT: skip (safe subset)
    # collect alias → expr from the top-level projection
    depth = 0
    from_at = None
    for si in range(1, len(sig)):
        t = toks[sig[si]]
        if t.kind == "op":
            depth += depth_delta(t)
        elif depth == 0 and t.kind == "ident" and t.text.upper() == "FROM":
            from_at = si
            break
    if from_at is None:
        return toks
    # alias → its expression's tokens; split the projection's own
    # token range rather than render and re-tokenize it
    aliases: dict[str, list[Tok]] = {}
    for item in split_args(toks[sig[1] : sig[from_at]]):
        isig = significant(item)
        if (
            len(isig) >= 3
            and item[isig[-2]].upper == "AS"
            and item[isig[-1]].kind == "ident"
        ):
            aliases[item[isig[-1]].text.lower()] = item[isig[0] : isig[-3] + 1]
    if not aliases:
        return toks
    # Substitute in the top-level WHERE/HAVING clause ranges at ANY
    # nesting depth — ``WHERE abs(y) > 1`` and ``WHERE (y > 3)`` must
    # resolve like bare ``WHERE y > 3`` does. Skipped frames: a
    # subquery ``(SELECT …)`` keeps its own alias scope, and a frame
    # containing a lambda ``->`` may bind the same name as a lambda
    # parameter (``arrayExists(y -> y > 1, a)``).
    subst: dict[int, list[Tok]] = {}
    stack: list[bool] = []  # per open frame: True = do-not-substitute frame
    in_clause = False

    def _frame_blocked(open_si: int) -> bool:
        """True if the frame opened at sig[open_si] is a subquery or
        contains a lambda arrow anywhere inside it."""
        nxt = toks[sig[open_si + 1]] if open_si + 1 < len(sig) else None
        if nxt is not None and nxt.upper == "SELECT":
            return True
        close = find_close(toks, sig[open_si])
        end = close if close != -1 else len(toks)
        return any(t.text == "->" for t in toks[sig[open_si] : end])

    for si in range(from_at, len(sig)):
        i = sig[si]
        t = toks[i]
        d = depth_delta(t)
        if d > 0:
            stack.extend([_frame_blocked(si)] * d)
            continue
        if d < 0:
            del stack[d:]
            continue
        if t.kind == "ident":
            up = t.text.upper()
            if not stack and up in ("WHERE", "HAVING", "PREWHERE"):
                in_clause = True
                continue
            if not stack and up in (
                "GROUP", "ORDER", "LIMIT", "WINDOW", "UNION", "INTERSECT",
                "EXCEPT", "SETTINGS", "FORMAT", "QUALIFY",
            ):
                in_clause = False
                continue
            if in_clause and not any(stack) and t.text.lower() in aliases:
                # not a function call, not a qualified name part
                nxt = next(
                    (toks[j] for j in sig[si + 1 : si + 2]), None
                )
                prv = toks[sig[si - 1]] if si > 0 else None
                if (nxt is None or nxt.text not in ("(",)) and (
                    prv is None or prv.text != "."
                ) and (nxt is None or nxt.text != "."):
                    expr = [Tok(x.kind, x.text) for x in aliases[t.text.lower()]]
                    subst[i] = [Tok("op", "("), *expr, Tok("op", ")")]
    if not subst:
        return toks
    out: list[Tok] = []
    for i, t in enumerate(toks):
        out.extend(subst.get(i, (t,)))
    return out


_TRUTHY_CLAUSE_ENDS = {
    "GROUP", "ORDER", "LIMIT", "OFFSET", "WINDOW", "UNION", "INTERSECT",
    "EXCEPT", "SETTINGS", "FORMAT", "QUALIFY", "HAVING", "WHERE", "INTO",
}

# Operators/keywords after which an expression is incomplete — a
# clause keyword cannot start here, so a bare `offset`/`format`/…
# identifier in this position is a column reference, not a clause.
_TRUTHY_EXPR_OPENERS = {
    "AND", "OR", "NOT", "LIKE", "ILIKE", "IN", "IS", "BETWEEN", "AS",
    "DIV", "MOD", "XOR", "THEN", "ELSE", "WHEN", "CASE", "ESCAPE",
}


def _truthy_starts_clause(toks: list[Tok], sig: list[int], si: int) -> bool:
    """True iff the clause-end keyword at signature index ``si`` really
    starts a trailing clause, judged by what precedes and follows it.

    Guards the two failure modes of the bare-keyword heuristic: a
    column literally named ``offset``/``format``/``group``/… used (a)
    mid-expression (``WHERE x > 1 AND offset < 5``) or (b) as an
    operand (``WHERE a > format``)."""
    up = toks[sig[si]].upper
    # earlier passes splice multi-char texts into single tokens and
    # blank out dropped keywords — skip empties, judge composite ops
    # by their last character
    prev = None
    for pj in range(si - 1, -1, -1):
        if toks[sig[pj]].text.strip():
            prev = toks[sig[pj]]
            break
    if prev is not None:
        # An expression is mid-flight after an operator — unless the
        # operator token is itself a terminal operand: a closing
        # paren/bracket, or the '?'/'}' of a parameter placeholder
        # ('WHERE x = ? LIMIT 3' must still close the wrapper).
        if prev.kind == "op" and prev.text.strip()[-1] not in ")]?}":
            return False
        if prev.kind == "ident" and prev.upper in _TRUTHY_EXPR_OPENERS:
            return False
    # nxt skips blanked (empty-text) tokens left by earlier dropped-keyword
    # passes; nxt2 and the FORMAT end-of-statement check must do the same —
    # raw sig indices would misjudge a clause next to a blanked token.
    nxt = None
    nxt_sj = None
    for nj in range(si + 1, len(sig)):
        if toks[sig[nj]].text.strip():
            nxt = toks[sig[nj]]
            nxt_sj = nj
            break

    def _nonblank_after(sj):
        for nj in range(sj + 1, len(sig)):
            if toks[sig[nj]].text.strip():
                return toks[sig[nj]]
        return None
    if up in ("GROUP", "ORDER"):
        return nxt is not None and nxt.upper == "BY"
    if up in ("LIMIT", "OFFSET"):
        return nxt is not None and (nxt.kind == "number" or nxt.text == "?")
    if up == "UNION":
        return nxt is not None and (
            nxt.upper in ("ALL", "DISTINCT", "SELECT") or nxt.text == "("
        )
    if up in ("INTERSECT", "EXCEPT"):
        return nxt is not None and (
            nxt.upper in ("ALL", "DISTINCT", "SELECT") or nxt.text == "("
        )
    if up == "SETTINGS":
        # SETTINGS name = value — next is an ident followed by '='.
        if nxt is None or nxt.kind != "ident":
            return False
        nxt2 = _nonblank_after(nxt_sj)
        return nxt2 is not None and nxt2.text == "="
    if up == "FORMAT":
        # FORMAT <Name> at statement end (nxt is the last non-blank token).
        return (
            nxt is not None
            and nxt.kind == "ident"
            and _nonblank_after(nxt_sj) is None
        )
    if up == "WINDOW":
        # WINDOW w AS (...)
        if nxt is None or nxt.kind != "ident":
            return False
        nxt2 = _nonblank_after(nxt_sj)
        return nxt2 is not None and nxt2.upper == "AS"
    if up == "INTO":
        # INTO OUTFILE '...'
        return nxt is not None and nxt.upper == "OUTFILE"
    # WHERE / HAVING / QUALIFY: reserved enough to always close.
    return True


def _rewrite_truthy_filters(toks: list[Tok]) -> list[Tok]:
    """Wrap every WHERE/HAVING condition in ``boolean(…)``, one wrapper
    per operand of the clause's top-level AND/OR/NOT.

    CH filters are UInt8 expressions — ``WHERE flag``, ``HAVING c % 2``,
    ``WHERE has(a, x) AND x % 2`` are idiomatic; Spark requires
    boolean, operand by operand. The wrapper is a no-op cast on
    already-boolean predicates (Catalyst's SimplifyCasts removes it,
    so plans — including parquet pushdown — are unchanged) and applies
    CH truthiness (nonzero = true) to numeric ones. The AND of
    ``BETWEEN a AND b`` and connectives inside CASE … END stay inside
    their operand. Subquery clauses wrap independently; a clause ends
    at the next same-depth clause keyword or the enclosing ``)``."""
    out: list[Tok] = []
    depth = 0
    # unclosed boolean( wrappers, innermost last: [depth, CASE nesting,
    # BETWEEN awaiting its AND, the wrapper's offset in out]
    open_wraps: list[list] = []

    def open_wrap(d: int) -> None:
        open_wraps.append([d, 0, False, len(out)])
        out.extend((Tok("ident", "boolean"), Tok("op", "(")))

    def close_ge(d: int) -> None:
        while open_wraps and open_wraps[-1][0] >= d:
            open_wraps.pop()
            out.append(Tok("op", ")"))

    sig = _sig(toks)
    sig_index = {i: si for si, i in enumerate(sig)}
    for i, t in enumerate(toks):
        d = depth_delta(t)
        if d:
            for _ in range(-d):
                close_ge(depth)  # clause ran to the enclosing bracket
                depth -= 1
            depth += max(d, 0)
            out.append(t)
            continue
        if t.kind == "ident":
            up = t.text.upper()
            if up in ("WHERE", "HAVING"):
                close_ge(depth)
                out.extend((t, Tok("ws", " ")))
                open_wrap(depth)
                continue
            wrap = open_wraps[-1] if open_wraps and open_wraps[-1][0] == depth else None
            if (
                wrap is not None
                and up in _TRUTHY_CLAUSE_ENDS
                and _truthy_starts_clause(toks, sig, sig_index[i])
            ):
                open_wraps.pop()
                out.extend((Tok("op", ")"), Tok("ws", " ")))
            elif wrap is not None:
                if up == "CASE":
                    wrap[1] += 1
                elif up == "END" and wrap[1]:
                    wrap[1] -= 1
                elif wrap[1]:
                    pass  # inside CASE … END: part of this operand
                elif up == "BETWEEN":
                    wrap[2] = True
                elif up == "AND" and wrap[2]:
                    wrap[2] = False
                elif up in ("AND", "OR"):
                    open_wraps.pop()
                    out.extend((Tok("op", ")"), Tok("ws", " "), t, Tok("ws", " ")))
                    open_wrap(depth)
                    continue
                elif up == "NOT" and not any(x.text.strip() for x in out[wrap[3] + 2:]):
                    # NOT opens the operand: it goes outside the wrapper
                    open_wraps.pop()
                    del out[wrap[3]:wrap[3] + 2]
                    out.extend((t, Tok("ws", " ")))
                    open_wrap(depth)
                    continue
        out.append(t)
    close_ge(0)
    return out


def _rewrite_limit_with_ties(toks: list[Tok]) -> list[Tok]:
    """``ORDER BY o LIMIT n WITH TIES`` → rank-window rewrite.

    WITH TIES extends the first n rows with every row tying the n-th
    on the sort key — exactly ``rank() OVER (ORDER BY o) <= n``:
    ``SELECT * EXCEPT (__ch_wt) FROM (SELECT *, rank() OVER (ORDER BY
    o) AS __ch_wt FROM (core)) WHERE __ch_wt <= n ORDER BY o``.
    """
    sig = _sig(toks)
    depth = 0
    limit_at = order_at = None
    for si, i in enumerate(sig):
        t = toks[i]
        if t.kind == "op":
            depth += depth_delta(t)
        elif depth == 0 and t.kind == "ident":
            up = t.text.upper()
            if up == "ORDER" and si + 1 < len(sig) and toks[sig[si + 1]].text.upper() == "BY":
                order_at = si
            elif up == "LIMIT":
                limit_at = si
    if limit_at is None or order_at is None:
        return toks
    # shape check: LIMIT <n> WITH TIES at the very end
    if limit_at + 3 != len(sig) - 1:
        return toks
    n_tok = toks[sig[limit_at + 1]]
    if (
        n_tok.kind != "number"
        or toks[sig[limit_at + 2]].text.upper() != "WITH"
        or toks[sig[limit_at + 3]].text.upper() != "TIES"
    ):
        return toks
    core = "".join(toks[j].text for j in range(sig[order_at])).strip()
    order_list = "".join(
        toks[j].text for j in range(sig[order_at + 2], sig[limit_at])
    ).strip()
    new_sql = (
        f"SELECT * EXCEPT (__ch_wt) FROM ("
        f"SELECT *, rank() OVER (ORDER BY {order_list}) AS __ch_wt "
        f"FROM ({core}) __wt_in) __wt_out WHERE __ch_wt <= {n_tok.text} "
        f"ORDER BY {order_list}"
    )
    return tokenize(new_sql)


def _rewrite_radix_literals(toks: list[Tok]) -> list[Tok]:
    """CH ``0b101`` / ``0x1F`` integer literals → decimal (Spark parses
    neither; the tokenizer splits them into number '0' + ident)."""
    for k, t in enumerate(toks):
        if (
            t.kind == "number"
            and t.text == "0"
            and k + 1 < len(toks)
            and toks[k + 1].kind == "ident"
        ):
            nxt = toks[k + 1].text
            m = re.fullmatch(r"b([01]+)", nxt)
            if m:
                t.text = str(int(m.group(1), 2))
                toks[k + 1].text = ""
                continue
            m = re.fullmatch(r"[xX]([0-9a-fA-F]+)", nxt)
            if m:
                t.text = str(int(m.group(1), 16))
                toks[k + 1].text = ""
    return toks


def _rewrite_offset_fetch(toks: list[Tok]) -> list[Tok]:
    """ANSI ``OFFSET n ROWS [FETCH FIRST|NEXT m ROWS ONLY]`` and bare
    ``FETCH FIRST m ROWS ONLY`` → Spark's ``LIMIT m OFFSET n``."""
    sig = _sig(toks)

    def up(si: int) -> str:
        return toks[sig[si]].text.upper() if 0 <= si < len(sig) else ""

    for si in range(len(sig)):
        if (
            up(si) == "OFFSET"
            and si + 1 < len(sig)
            and toks[sig[si + 1]].kind == "number"
        ):
            n = toks[sig[si + 1]].text
            j = si + 2
            if up(j) in ("ROW", "ROWS"):
                toks[sig[j]].text = ""
                j += 1
            else:
                continue  # plain OFFSET n — already Spark syntax
            if (
                up(j) == "FETCH"
                and up(j + 1) in ("FIRST", "NEXT")
                and j + 2 < len(sig)
                and toks[sig[j + 2]].kind == "number"
                and up(j + 3) in ("ROW", "ROWS")
                and up(j + 4) == "ONLY"
            ):
                m = toks[sig[j + 2]].text
                toks[sig[si]].text = f"LIMIT {m} OFFSET"
                for k in range(j, j + 5):
                    toks[sig[k]].text = ""
            break
        if (
            up(si) == "FETCH"
            and up(si + 1) in ("FIRST", "NEXT")
            and si + 2 < len(sig)
            and toks[sig[si + 2]].kind == "number"
            and up(si + 3) in ("ROW", "ROWS")
            and up(si + 4) == "ONLY"
        ):
            toks[sig[si]].text = f"LIMIT {toks[sig[si + 2]].text}"
            for k in range(si + 1, si + 5):
                toks[sig[k]].text = ""
            break
    return toks


def _rewrite_limit_comma(toks: list[Tok]) -> list[Tok]:
    """CH ``LIMIT offset, count`` → ``LIMIT count OFFSET offset``."""
    sig = _sig(toks)
    depth = 0
    for si, i in enumerate(sig):
        t = toks[i]
        depth += depth_delta(t)
        if (
            depth == 0
            and t.kind == "ident"
            and t.text.upper() == "LIMIT"
            and si + 3 < len(sig) + 1
            and si + 3 <= len(sig)
            and si + 1 < len(sig)
            and toks[sig[si + 1]].kind == "number"
            and si + 2 < len(sig)
            and toks[sig[si + 2]].text == ","
            and si + 3 < len(sig)
            and toks[sig[si + 3]].kind == "number"
        ):
            off, cnt = toks[sig[si + 1]], toks[sig[si + 3]]
            off.text, cnt.text = cnt.text, f"OFFSET {off.text}"
            toks[sig[si + 2]].text = ""
            break
    return toks


def _rewrite_star_replace(toks: list[Tok]) -> list[Tok]:
    """CH ``* REPLACE (expr AS col, …)`` → ``* EXCEPT (cols), expr AS
    col, …`` (replaced columns move to the end of the projection)."""
    sig = _sig(toks)
    for si, i in enumerate(sig):
        if (
            toks[i].text == "*"
            and si + 2 < len(sig)
            and toks[sig[si + 1]].text.upper() == "REPLACE"
            and toks[sig[si + 2]].text == "("
        ):
            close = find_close(toks, sig[si + 2])
            if close == -1:
                return toks
            items = arg_texts(toks[sig[si + 2] + 1 : close])
            cols = []
            for it in items:
                m = re.search(r"(?is)\s+AS\s+(`[^`]+`|\w+)\s*$", it)
                if not m:
                    return toks  # not the REPLACE shape we understand
                cols.append(m.group(1))
            toks[i].text = (
                f"* EXCEPT ({', '.join(cols)}), {', '.join(items)}"
            )
            for k in range(i + 1, close + 1):
                toks[k].text = ""
            break
    return toks


def _rewrite_group_by_empty(toks: list[Tok]) -> list[Tok]:
    """CH ``GROUP BY ()`` (global aggregate) → drop the clause."""
    sig = _sig(toks)
    for si in range(len(sig) - 3):
        if (
            toks[sig[si]].text.upper() == "GROUP"
            and toks[sig[si + 1]].text.upper() == "BY"
            and toks[sig[si + 2]].text == "("
            and toks[sig[si + 3]].text == ")"
        ):
            for k in range(si, si + 4):
                toks[sig[k]].text = ""
            break
    return toks


_GB_STOP = {
    "HAVING", "ORDER", "LIMIT", "SETTINGS", "UNION", "INTERSECT",
    "EXCEPT", "WINDOW", "WITH", "FORMAT", "QUALIFY", "INTO",
}
_GB_ARITH_OPS = {"+", "-", "*", "/", "%", "(", ")"}


def _rewrite_group_by_fdeps(toks: list[Tok]) -> list[Tok]:
    """Drop functionally-dependent GROUP BY keys.

    ``GROUP BY k, k - 1, k - 2`` groups identically to ``GROUP BY k``:
    a key that is a pure arithmetic expression over columns already
    present as bare keys adds no grouping power, but widens every
    shuffle row (ClickBench Q35 ships 4×8 bytes per row instead of 8).
    Catalyst only removes *exact* duplicate group expressions
    (RemoveRepetitionFromGroupExpressions), not derived ones.

    Scope is deliberately narrow so semantics can't shift: an item is
    dropped only when every token is (a) an identifier that is itself
    a bare GROUP BY key, (b) a numeric literal, or (c) +-*/% or
    grouping parens. No function calls (could be nondeterministic),
    no bare literals/ordinals (``GROUP BY 1`` is positional in CH and
    Spark), no GROUPING SETS/ROLLUP/CUBE clauses.
    """
    sig = _sig(toks)
    for si in range(len(sig) - 2):
        if not (
            toks[sig[si]].upper == "GROUP" and toks[sig[si + 1]].upper == "BY"
        ):
            continue
        first = toks[sig[si + 2]].upper
        if first in ("GROUPING", "ROLLUP", "CUBE", "ALL"):
            continue
        # collect item spans [start_si, end_si) at relative depth 0
        items: list[tuple[int, int]] = []
        start = si + 2
        depth = 0
        end = len(sig)
        k = si + 2
        while k < len(sig):
            t = toks[sig[k]]
            depth += depth_delta(t)
            if depth < 0:  # the enclosing group's closer
                end = k
                break
            if depth == 0 and (t.upper in _GB_STOP or t.text == ";"):
                end = k
                break
            if depth == 0 and t.text == ",":
                items.append((start, k))
                start = k + 1
            k += 1
        if k >= len(sig):
            end = len(sig)
        items.append((start, end))
        if len(items) < 2:
            continue
        # bare keys: single-token identifier items
        bare: set[str] = set()
        for a, b in items:
            if b - a == 1 and toks[sig[a]].kind in ("ident", "bquote"):
                bare.add(toks[sig[a]].text.strip("`"))
        if not bare:
            continue

        def droppable(a: int, b: int) -> bool:
            if b - a < 2:
                return False  # bare keys and single literals stay
            saw_key = False
            for j in range(a, b):
                t = toks[sig[j]]
                if t.kind in ("ident", "bquote"):
                    nxt = toks[sig[j + 1]].text if j + 1 < len(sig) else ""
                    if nxt == "(" or t.text.strip("`") not in bare:
                        return False  # function call / foreign column
                    saw_key = True
                elif t.kind == "number":
                    continue
                elif t.text in _GB_ARITH_OPS:
                    continue
                else:
                    return False
            return saw_key

        changed = False
        for idx, (a, b) in enumerate(items):
            if droppable(a, b):
                for j in range(a, b):
                    toks[sig[j]].text = ""
                # blank the separating comma (prefer the left one)
                comma_si = a - 1 if idx > 0 else b
                if si + 2 < comma_si < end and toks[sig[comma_si]].text == ",":
                    toks[sig[comma_si]].text = ""
                changed = True
        if changed:
            break  # one GROUP BY per pass is enough for our workloads
    return toks


def _rewrite_distinct_on(toks: list[Tok]) -> list[Tok]:
    """CH ``SELECT DISTINCT ON (keys) …`` ≡ ``… LIMIT 1 BY keys``
    (first row per key group under the query's ORDER BY)."""
    sig = _sig(toks)
    if len(sig) < 4:
        return toks
    if not (
        toks[sig[0]].text.upper() == "SELECT"
        and toks[sig[1]].text.upper() == "DISTINCT"
        and toks[sig[2]].text.upper() == "ON"
        and toks[sig[3]].text == "("
    ):
        return toks
    close = find_close(toks, sig[3])  # of the key list
    if close == -1:
        return toks
    keys = "".join(toks[j].text for j in range(sig[3] + 1, close)).strip()
    rest = "".join(toks[j].text for j in range(close + 1, len(toks)))
    # insert LIMIT 1 BY before a final top-level LIMIT, else append
    rest_toks = tokenize(rest)
    rsig = _sig(rest_toks)
    depth = 0
    cut = None
    for si, i in enumerate(rsig):
        t = rest_toks[i]
        depth += depth_delta(t)
        if (
            depth == 0
            and t.kind == "ident"
            and t.text.upper() == "LIMIT"
            and si + 1 < len(rsig)
            and rest_toks[rsig[si + 1]].kind == "number"
            and (si + 2 >= len(rsig) or rest_toks[rsig[si + 2]].text.upper() != "BY")
        ):
            cut = i
            break
    if cut is None:
        new_sql = f"SELECT {rest} LIMIT 1 BY {keys}"
    else:
        head = "".join(x.text for x in rest_toks[:cut])
        tail = "".join(x.text for x in rest_toks[cut:])
        new_sql = f"SELECT {head} LIMIT 1 BY {keys} {tail}"
    return tokenize(new_sql)


_BRACKET_KW = {
    "SELECT", "FROM", "WHERE", "AND", "OR", "NOT", "IN", "AS", "BY",
    "ON", "WHEN", "THEN", "ELSE", "CASE", "END", "HAVING", "LIMIT",
    "DISTINCT", "ALL", "UNION", "INTERSECT", "EXCEPT", "JOIN", "USING",
    "BETWEEN", "LIKE", "ILIKE", "IS", "NULL", "ORDER", "GROUP", "SET",
    "VALUES", "RETURN", "ARRAY",
}


def _subscript_base_start(toks: list[Tok], oi: int) -> int:
    """Index of the first token of the expression being subscripted
    by the ``[`` at *oi* — i.e. where an ``element_at(`` wrapper must
    be inserted. Walks backward over a postfix chain: qualified
    idents (``t.arr``), call/paren groups (``f(x)``), and
    already-rewritten subscripts (whose opener may sit mid-token,
    e.g. ``element_at(arr``)."""

    def prev_sig(j: int) -> int:
        j -= 1
        while j >= 0 and toks[j].kind in ("ws", "comment"):
            j -= 1
        return j

    j = prev_sig(oi)
    start = j
    while j >= 0:
        t = toks[j]
        if t.kind in ("ident", "bquote") and not any(
            c in t.text for c in "()[]"
        ):
            start = j
            p = prev_sig(j)
            if p >= 0 and toks[p].text == ".":
                nj = prev_sig(p)
                if nj >= 0:
                    j = nj
                    continue
            break
        if t.text in (")", "]") or any(c in t.text for c in ")]"):
            # scan backward to the matching opener (it may be embedded
            # mid-token after an earlier rewrite)
            depth = 0
            while j >= 0:
                depth -= depth_delta(toks[j])
                start = j
                if depth <= 0:
                    break
                j = prev_sig(j)
            if j < 0:
                break
            p = prev_sig(j)
            if (
                p >= 0
                and toks[p].kind in ("ident", "bquote")
                and toks[p].text.upper() not in _BRACKET_KW
                and not any(c in toks[p].text for c in "()[]")
            ):
                # function name of the call group — then maybe a
                # qualified prefix before it
                start = p
                q = prev_sig(p)
                if q >= 0 and toks[q].text == ".":
                    nj = prev_sig(q)
                    if nj >= 0:
                        j = nj
                        continue
            break
        start = j
        break
    return max(start, 0)


def _rewrite_brackets(toks: list[Tok]) -> None:
    """CH bracket syntax → Spark: array literals ``[1,2]`` →
    ``array(1,2)``; every subscript ``base[e]`` → ``element_at(base,
    e)``, which is 1-based and supports negative indices — matching
    CH semantics for dynamic (``arr[i]``, ``arr[n+1]``) and negative
    subscripts that a literal-only index shift would silently get
    wrong (ADVICE r1). Map access by string key has identical
    ``element_at`` semantics. In-place."""
    kw = _BRACKET_KW
    prev = None
    stack: list[tuple[int, str]] = []
    for i, t in enumerate(toks):
        if t.kind in ("ws", "comment"):
            continue
        if t.text == "[":
            if prev is not None and (
                (prev.kind in ("ident", "bquote") and prev.text.upper() not in kw)
                or prev.text in (")", "]")
            ):
                stack.append((i, "sub"))
            else:
                stack.append((i, "lit"))
        elif t.text == "]" and stack:
            oi, kind = stack.pop()
            if kind == "lit":
                toks[oi].text = "array("
                t.text = ")"
            else:
                bs = _subscript_base_start(toks, oi)
                toks[bs].text = "element_at(" + toks[bs].text
                toks[oi].text = ","
                t.text = ")"
        prev = t


_CLAUSE_KW = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "SETTINGS", "UNION",
    "INTERSECT", "EXCEPT", "WINDOW", "QUALIFY",
}


def _rewrite_array_join(toks: list[Tok]) -> list[Tok]:
    """CH ``FROM t [LEFT] ARRAY JOIN expr [AS alias]`` (SURVEY §2.3
    J8) → subquery with ``explode``/``explode_outer``.

    - aliased: the array column stays visible (CH semantics) →
      ``FROM (SELECT *, explode(expr) AS alias FROM t) __aj``
    - bare column C: the element REPLACES the column name →
      ``FROM (SELECT * EXCEPT (C), explode(C) AS C FROM t) __aj``

    Single-array form only (CH's zipping multi-ARRAY JOIN passes
    through and fails loudly rather than silently cross-joining).
    """
    sig = _sig(toks)
    depth = 0
    from_at = array_at = None
    for si, i in enumerate(sig):
        t = toks[i]
        depth += depth_delta(t)
        if depth != 0 or t.kind != "ident":
            continue
        up = t.text.upper()
        if up == "FROM" and from_at is None:
            from_at = si
        elif (
            up == "ARRAY"
            and si + 1 < len(sig)
            and toks[sig[si + 1]].text.upper() == "JOIN"
            and from_at is not None
        ):
            array_at = si
            break
    if array_at is None:
        return toks
    left = toks[sig[array_at - 1]].text.upper() == "LEFT"
    table_end = array_at - (2 if left else 1)  # last sig idx of table ref
    # expr extent: after JOIN until AS / clause keyword / end
    j = array_at + 2
    expr_toks = []
    alias = None
    while j < len(sig):
        t = toks[sig[j]]
        up = t.text.upper() if t.kind == "ident" else ""
        if up == "AS" and j + 1 < len(sig):
            alias = toks[sig[j + 1]].text
            j += 2
            break
        if up in _CLAUSE_KW:
            break
        expr_toks.append(t.text)
        j += 1
    expr = "".join(expr_toks).strip()
    if not expr or "," in expr:
        return toks  # multi-array zip form: pass through
    table_ref = "".join(
        toks[k].text for k in range(sig[from_at + 1], sig[table_end] + 1)
    ).strip()
    rest = "".join(toks[k].text for k in range(sig[j], len(toks))) if j < len(sig) else ""
    head = "".join(toks[k].text for k in range(sig[from_at]))
    fn = "explode_outer" if left else "explode"
    if alias:
        sub = f"(SELECT *, {fn}({expr}) AS {alias} FROM {table_ref}) __aj"
    else:
        sub = f"(SELECT * EXCEPT ({expr}), {fn}({expr}) AS {expr} FROM {table_ref}) __aj"
    return tokenize(f"{head} FROM {sub} {rest}")


_JOIN_SIDES = ("LEFT", "RIGHT", "INNER", "FULL", "OUTER", "JOIN")


def _rewrite_join_strictness(toks: list[Tok]) -> list[Tok]:
    """CH join strictness/word-order:

    - ``SEMI LEFT JOIN`` / ``ANTI LEFT JOIN`` → Spark word order
      (``LEFT SEMI`` / ``LEFT ANTI``), same for RIGHT.
    - ``ALL <type> JOIN`` → drop ALL (CH default, Spark default).
    - ``ANY LEFT/INNER JOIN t USING (k)`` → the right side is
      deduplicated to one row per key before joining (CH ANY takes a
      single match). ON-form and ANY RIGHT fall back to dropping ANY
      (approximation: all matches) — documented divergence.
    - ``ASOF JOIN`` in SQL form raises (use the window pattern /
      operators/asof.py; silent alias-misparse would be worse).
    """
    sig = _sig(toks)

    def up(si: int) -> str:
        return toks[sig[si]].text.upper() if 0 <= si < len(sig) else ""

    for si in range(len(sig)):
        t = toks[sig[si]]
        if t.kind != "ident":
            continue
        w = t.text.upper()
        if w in ("SEMI", "ANTI") and up(si + 1) in ("LEFT", "RIGHT"):
            side = toks[sig[si + 1]]
            t.text, side.text = side.text, t.text
        elif w == "ALL" and up(si + 1) in _JOIN_SIDES and up(si - 1) != "UNION":
            t.text = ""
        elif w == "ASOF" and up(si + 1) in _JOIN_SIDES:
            raise ValueError(
                "ASOF JOIN (SQL form) is not supported; use the as-of window "
                "pattern (SURVEY §2.3 J6) or cowsdb_spark.operators.asof"
            )
        elif w == "ANY" and up(si + 1) in _JOIN_SIDES:
            if not _any_join_dedup(toks, sig, si):
                t.text = ""  # approximation: keep all matches
    return toks


def _any_join_dedup(toks: list[Tok], sig: list[int], si: int) -> bool:
    """Rewrite ``ANY <type> JOIN ref [alias] USING (cols)`` in place.
    Returns False if the shape doesn't match (caller drops ANY)."""
    j = si + 1
    side = toks[sig[j]].text.upper() if j < len(sig) else ""
    if side == "RIGHT":
        return False  # CH ANY RIGHT dedups the LEFT side; approximate
    while j < len(sig) and toks[sig[j]].text.upper() in _JOIN_SIDES:
        consumed_join = toks[sig[j]].text.upper() == "JOIN"
        j += 1
        if consumed_join:
            break
    else:
        return False
    # table ref: ident/bquote possibly db.tbl; subqueries not handled
    if j >= len(sig) or toks[sig[j]].kind not in ("ident", "bquote"):
        return False
    ref_idx = [sig[j]]
    j += 1
    while j + 1 < len(sig) and toks[sig[j]].text == ".":
        ref_idx += [sig[j], sig[j + 1]]
        j += 2
    alias = None
    alias_idx: list[int] = []
    if j < len(sig) and toks[sig[j]].text.upper() == "AS":
        alias_idx.append(sig[j])
        j += 1
        if j < len(sig):
            alias = toks[sig[j]].text
            alias_idx.append(sig[j])
            j += 1
    elif j < len(sig) and toks[sig[j]].kind in ("ident", "bquote") and toks[
        sig[j]
    ].text.upper() not in ("USING", "ON"):
        alias = toks[sig[j]].text
        alias_idx.append(sig[j])
        j += 1
    if j >= len(sig) or toks[sig[j]].text.upper() != "USING":
        return False
    if j + 1 >= len(sig) or toks[sig[j + 1]].text != "(":
        return False
    close = find_close(toks, sig[j + 1])
    cols = ", ".join(arg_texts(toks[sig[j + 1] + 1 : close])) if close != -1 else ""
    if not cols:
        return False
    ref_text = "".join(toks[i].text for i in ref_idx)
    if alias is None:
        alias = toks[ref_idx[-1]].text  # bare table name keeps refs valid
    dedup = (
        f"(SELECT * EXCEPT (__ch_aj) FROM (SELECT *, row_number() OVER ("
        f"PARTITION BY {cols} ORDER BY {cols}) AS __ch_aj FROM {ref_text}"
        f") __ch_aj_in WHERE __ch_aj = 1) AS {alias}"
    )
    toks[sig[si]].text = ""  # ANY
    toks[ref_idx[0]].text = dedup
    for i in ref_idx[1:] + alias_idx:
        toks[i].text = ""
    return True


def _rewrite_ch_modifiers(toks: list[Tok]) -> list[Tok]:
    """Cheap CH-only SELECT modifiers:

    - ``PREWHERE c1 [WHERE c2]`` → ``WHERE (c1) AND (c2)``. In CH
      PREWHERE is a physical hint (filter before reading remaining
      columns); Catalyst's pushdown already does this, so semantic
      merge into WHERE is exact.
    - ``FROM t FINAL`` → pass through (engine resolves with catalog
      metadata: ReplacingMergeTree keep-latest dedup, else dropped).
    - ``GLOBAL IN/JOIN`` → drop GLOBAL (Spark distributes natively,
      SURVEY §2.3 J7).
    """
    sig = _sig(toks)
    depth = 0
    pre_at = where_at = None
    for si, i in enumerate(sig):
        t = toks[i]
        depth += depth_delta(t)
        if depth != 0 or t.kind != "ident":
            continue
        up = t.text.upper()
        if up == "PREWHERE" and pre_at is None:
            pre_at = si
        elif up == "WHERE" and pre_at is not None and where_at is None:
            where_at = si
        # ``FROM t FINAL`` passes through: the engine resolves it with
        # catalog metadata (ReplacingMergeTree keep-latest dedup, else
        # dropped — translate has no table properties).
        elif up == "GLOBAL" and si + 1 < len(sig) and toks[sig[si + 1]].text.upper() in (
            "IN", "JOIN", "ANY", "ALL", "NOT", "LEFT", "RIGHT", "INNER", "FULL", "CROSS",
        ):
            t.text = ""
    if pre_at is None:
        return toks
    if where_at is None:
        toks[sig[pre_at]].text = "WHERE"
        return toks
    # WHERE-clause end: next top-level clause keyword after where_at
    end = len(toks)
    depth = 0
    for si in range(where_at + 1, len(sig)):
        t = toks[sig[si]]
        depth += depth_delta(t)
        if depth == 0 and t.kind == "ident" and t.text.upper() in _CLAUSE_KW:
            end = sig[si]
            break
    toks[sig[pre_at]].text = "WHERE ("
    toks[sig[where_at]].text = ") AND ("
    closing = ") "
    out = "".join(t.text for t in toks[:end]) + closing + "".join(
        t.text for t in toks[end:]
    )
    return tokenize(out)


def _rewrite_scalar_with(toks: list[Tok]) -> list[Tok]:
    """CH scalar WITH: ``WITH <expr> AS <name>, … SELECT …`` binds
    constants, not subqueries. Spark only knows the CTE form, so the
    bindings are inlined as parenthesized expressions. Standard CTEs
    (``WITH name AS (SELECT …)``) pass through untouched; a mix of
    both forms also passes through (rare, and failing loudly beats
    guessing).
    """
    sig = _sig(toks)
    if not sig or toks[sig[0]].text.upper() != "WITH":
        return toks
    # split items on top-level commas until top-level SELECT
    depth = 0
    items: list[list[int]] = [[]]
    select_at = None
    for si in range(1, len(sig)):
        t = toks[sig[si]]
        if depth == 0 and t.kind == "ident" and t.text.upper() == "SELECT":
            select_at = si
            break
        depth += depth_delta(t)
        if depth == 0 and t.text == ",":
            items.append([])
        else:
            items[-1].append(si)
    if select_at is None:
        return toks
    bindings: dict[str, str] = {}
    for item in items:
        # scalar form: ... AS <name> (name LAST); CTE form: <name> AS (
        if len(item) < 3:
            return toks
        second_last, last = toks[sig[item[-2]]], toks[sig[item[-1]]]
        if second_last.kind == "ident" and second_last.text.upper() == "AS" and last.kind in ("ident", "bquote"):
            expr = "".join(
                toks[j].text
                for j in range(sig[item[0]], sig[item[-2]])
            ).strip()
            bindings[last.text.strip("`")] = expr
        else:
            return toks  # CTE (or unrecognized) → untouched
    body = "".join(t.text for t in toks[sig[select_at]:])
    out_toks = tokenize(body)
    for t in out_toks:
        if t.kind == "ident" and t.text in bindings:
            t.text = f"({bindings[t.text]})"
    return out_toks


def _rewrite_with_fill(toks: list[Tok]) -> tuple[list[Tok], Optional[dict]]:
    """Strip ``ORDER BY col [ASC|DESC] WITH FILL [FROM a] [TO b]
    [STEP s]`` and return the fill spec; the engine materializes the
    axis and left-joins the result (CH fills missing rows, defaulting
    the non-fill columns). Single fill column supported."""
    sig = _sig(toks)
    depth = 0
    fill_at = None
    col = None
    for si, i in enumerate(sig):
        t = toks[i]
        depth += depth_delta(t)
        if (
            depth == 0
            and t.kind == "ident"
            and t.text.upper() == "WITH"
            and si + 1 < len(sig)
            and toks[sig[si + 1]].text.upper() == "FILL"
        ):
            fill_at = si
            # fill column: walk back over ASC/DESC to the ORDER expr
            k = si - 1
            while k > 0 and toks[sig[k]].text.upper() in ("ASC", "DESC"):
                k -= 1
            col = toks[sig[k]].text.strip("`")
            break
    if fill_at is None:
        return toks, None
    spec: dict = {"col": col, "from": None, "to": None, "step": None, "interpolate": None}
    j = fill_at + 2
    end = j
    while j < len(sig):
        up = toks[sig[j]].text.upper()
        if up in ("FROM", "TO", "STEP") and j + 1 < len(sig):
            spec[up.lower()] = toks[sig[j + 1]].text
            j += 2
            end = j
        else:
            break
    # INTERPOLATE (col [AS expr], ...) — filled rows compute these
    # columns from the previous row's value instead of defaulting
    if j < len(sig) and toks[sig[j]].text.upper() == "INTERPOLATE":
        # collect raw text between the parens (all tokens, not just
        # signal ones, so expressions keep their spacing)
        k = sig[j] + 1
        while k < len(toks) and toks[k].text != "(":
            k += 1
        k2 = find_close(toks, k)
        if k2 == -1:
            k2 = len(toks) - 1
        items = []
        for part in arg_texts(toks[k + 1 : k2]):
            m2 = re.match(r"^(`[^`]+`|\w+)\s+AS\s+(.+)$", part, re.IGNORECASE | re.DOTALL)
            if m2:
                items.append((m2.group(1).strip("`"), m2.group(2).strip()))
            elif part:
                items.append((part.strip("`"), None))
        spec["interpolate"] = items or None
        for k3 in range(sig[j], k2 + 1):
            toks[k3].text = ""
        end = j  # already blanked through k2
    for k in range(fill_at, end):
        toks[sig[k]].text = ""
    return toks, spec


def _rewrite_with_totals(toks: list[Tok]) -> tuple[list[Tok], bool]:
    """CH ``GROUP BY e1, e2 WITH TOTALS`` → ``GROUP BY GROUPING SETS
    ((e1, e2), ())`` plus a hidden ``grouping_id() AS __ch_gid``
    select-list column. The engine splits the gid!=0 row off as the
    totals row (formats emit it as CH does). Positional GROUP BY
    numbers are not supported with TOTALS (GROUPING SETS treats them
    as literals)."""
    sig = _sig(toks)
    depth = 0
    group_at = by_at = with_at = None
    for si, i in enumerate(sig):
        t = toks[i]
        depth += depth_delta(t)
        if depth != 0 or t.kind != "ident":
            continue
        up = t.text.upper()
        if up == "GROUP" and group_at is None:
            group_at = si
            by_at = si + 1
        elif (
            up == "WITH"
            and group_at is not None
            and si + 1 < len(sig)
            and toks[sig[si + 1]].text.upper() == "TOTALS"
        ):
            with_at = si
            break
    if with_at is None:
        return toks, False
    exprs = "".join(
        toks[j].text for j in range(sig[by_at + 1], sig[with_at])
    ).strip()
    # select-list end: the top-level FROM before GROUP
    from_i = None
    depth = 0
    for si, i in enumerate(sig[:group_at]):
        t = toks[i]
        depth += depth_delta(t)
        if depth == 0 and t.kind == "ident" and t.text.upper() == "FROM":
            from_i = i
    if from_i is None:
        return toks, False
    head = "".join(t.text for t in toks[: from_i])
    mid = "".join(toks[j].text for j in range(from_i, sig[group_at]))
    tail = (
        "".join(toks[j].text for j in range(sig[with_at + 2], len(toks)))
        if with_at + 2 < len(sig)
        else ""
    )
    new_sql = (
        f"{head.rstrip()}, grouping_id() AS __ch_gid {mid} "
        f"GROUP BY GROUPING SETS (({exprs}), ()) {tail}"
    )
    return tokenize(new_sql), True


def _rewrite_tuple_dot(toks: list[Tok]) -> list[Tok]:
    """CH positional tuple access ``expr.1`` → Spark ``.col1``.

    The tokenizer lexes ``.1`` after an expression as a number token
    (Spark would parse it as a decimal literal and fail); when the
    preceding significant token can end a tuple-valued expression
    (``)`` or an identifier), rebrand it as the struct field Spark
    gives unnamed ``struct()`` members."""
    sig = _sig(toks)
    for k in range(1, len(sig)):
        t = toks[sig[k]]
        if t.kind == "number" and t.text.startswith(".") and t.text[1:].isdigit():
            prev = toks[sig[k - 1]]
            if prev.kind in ("ident", "bquote") or prev.text == ")":
                t.text = ".col" + t.text[1:]
                t.kind = "op"  # no longer a number: keep the Float64
                # literal pass from suffixing it with D
    return toks


def _rewrite_cast_types(toks: list[Tok]) -> list[Tok]:
    """CH type names inside ``CAST(expr AS <CHType>)`` → Spark types.

    ``CAST(NULL AS Nullable(Int32))`` must parse even though Spark has
    no Nullable() wrapper; the DDL type map (dialect/types.py) already
    knows every CH spelling, so reuse it for the query-side cast.
    Types it can't parse (including Spark-native spellings wrapped in
    generics) are left untouched."""
    from .types import ch_type_to_spark

    sig = _sig(toks)
    for i in range(len(sig) - 1):
        if not (
            toks[sig[i]].kind == "ident"
            and toks[sig[i]].upper == "CAST"
            and toks[sig[i + 1]].text == "("
        ):
            continue
        depth = 0
        as_at = close = None
        for k in range(i + 1, len(sig)):
            tx = toks[sig[k]].text
            # depth_delta counts composite tokens too — earlier
            # rewrites emit tokens like "array(" (bracket literals)
            if (
                depth == 1
                and toks[sig[k]].kind == "ident"
                and toks[sig[k]].upper == "AS"
            ):
                as_at = k
                continue
            depth += depth_delta(toks[sig[k]])
            if depth == 0 and ")" in tx:
                close = k
                break
        if as_at is None or close is None or as_at + 1 >= close:
            continue
        type_txt = "".join(
            toks[j].text for j in range(sig[as_at + 1], sig[close])
        ).strip()
        try:
            spark_t = ch_type_to_spark(type_txt).simpleString()
        except Exception:  # noqa: BLE001 — unknown spelling: leave as written
            continue
        for j in range(sig[as_at + 1], sig[close]):
            toks[j].text = ""
        toks[sig[as_at + 1]].text = spark_t
    return toks


def _rewrite_map_literals(toks: list[Tok]) -> list[Tok]:
    """CH map literal ``{'a': 1, 'b': 2}`` → ``map('a', 1, 'b', 2)``.

    Only braces whose first significant member is a string/number
    literal qualify — ``{name:Type}`` query parameters (ident first)
    are someone else's job (engine.bind_query_params), and JSON text
    lives inside string tokens the tokenizer already protects."""
    sig = _sig(toks)
    for k in range(len(sig)):
        if toks[sig[k]].text != "{":
            continue
        if k + 1 >= len(sig) or toks[sig[k + 1]].kind not in ("string", "number"):
            continue
        depth = 0
        for j in range(sig[k], len(toks)):
            t = toks[j]
            depth += depth_delta(t)
            if depth == 0:
                if t.text == "}":
                    toks[sig[k]].text = "map("
                    t.text = ")"
                break
            if depth == 1 and t.kind == "op" and t.text == ":":
                t.text = ","
    return toks


_TUPLE_CTX_KW = frozenset(
    "SELECT WHERE AND OR NOT ON WHEN THEN ELSE BY HAVING PREWHERE "
    "DISTINCT ALL CASE".split()
)


def _structify_group(toks: list[Tok], sig: list[int], start: int) -> None:
    """Turn the paren group opening at sig[start] into
    ``struct(m1 AS __t1, m2 AS __t2, …)`` — explicit member aliases,
    because Spark's struct() derives field names from the expressions
    and IN/= on structs is field-NAME-sensitive.  No-op unless the
    group has a top-level comma (i.e. actually is a tuple)."""
    open_i = sig[start]
    close = find_close(toks, open_i)
    if close == -1:
        return
    commas: list[int] = []
    depth = 0
    for j in range(open_i + 1, close):
        if depth == 0 and toks[j].kind == "op" and toks[j].text == ",":
            commas.append(j)
        depth += depth_delta(toks[j])
    if not commas:
        return
    for n, j in enumerate(commas, 1):
        toks[j].text = f" AS __t{n},"
    toks[close].text = f" AS __t{len(commas) + 1})"
    toks[open_i].text = "struct("


def _rewrite_tuple_in(toks: list[Tok]) -> list[Tok]:
    """``(a, b) IN ((1, 1), (2, 2))`` → aliased struct() on both sides.

    Spark parses a bare parenthesized tuple as named_struct with field
    names derived from the member expressions, so the left side's
    names (e.g. ``number``) never match the literal side's ``col1`` —
    DATA_DIFF_TYPES.  Both sides are rebuilt as struct(… AS __tN, …)
    so the names agree.  A group counts as a tuple when it has a
    top-level comma and the previous significant token cannot start a
    function call."""
    sig = _sig(toks)
    # find "IN (" at any depth; handle the groups around it
    for k in range(len(sig) - 1):
        if not (toks[sig[k]].upper == "IN" and toks[sig[k + 1]].text == "("):
            continue
        # (a, b) IN (SELECT …): Spark's native multi-column IN-subquery
        # handles the naming itself — leave untouched
        if k + 2 < len(sig) and toks[sig[k + 2]].upper == "SELECT":
            continue
        # left side: walk back over one balanced group ending at sig[k-1]
        if k >= 1 and toks[sig[k - 1]].text == ")":
            depth = 0
            start = None
            has_comma = False
            for j in range(k - 1, -1, -1):
                t = toks[sig[j]]
                if depth == 1 and t.text == ",":
                    has_comma = True
                depth -= depth_delta(t)
                if depth == 0:
                    start = j
                    break
            if start is not None and has_comma:
                prev = toks[sig[start - 1]] if start > 0 else None
                # an identifier directly before "(" is a function call —
                # unless it's a keyword that can precede an expression
                if (
                    prev is None
                    or prev.kind not in ("ident", "bquote")
                    or prev.upper in _TUPLE_CTX_KW
                ):
                    # right side: collect each top-level tuple start in
                    # the IN list on the unmodified text, then rewrite
                    depth = 0
                    tuple_starts = []
                    for j in range(k + 1, len(sig)):
                        t = toks[sig[j]]
                        depth += depth_delta(t)
                        if depth == 0:
                            break
                        if (
                            depth == 2
                            and t.text == "("
                            and toks[sig[j - 1]].kind not in ("ident", "bquote")
                        ):
                            tuple_starts.append(j)
                    for j in tuple_starts:
                        _structify_group(toks, sig, j)
                    _structify_group(toks, sig, start)
    return toks


# quantified comparison → aggregate-over-subquery (Spark has no
# ALL/ANY); empty-set semantics shift from vacuous-true to NULL-false,
# an edge CH workloads don't rely on (CH docs mark them rarely used)
_QUANT_AGG = {
    (">", "ALL"): "MAX", (">=", "ALL"): "MAX",
    ("<", "ALL"): "MIN", ("<=", "ALL"): "MIN",
    (">", "ANY"): "MIN", (">=", "ANY"): "MIN",
    ("<", "ANY"): "MAX", ("<=", "ANY"): "MAX",
}


def _rewrite_quantified(toks: list[Tok]) -> list[Tok]:
    """``x > ALL (SELECT …)`` → ``x > (SELECT MAX(__v) FROM (…) …)``;
    ``= ANY`` → IN, ``!= ALL`` → NOT IN."""
    sig = _sig(toks)
    for k in range(1, len(sig) - 1):
        t = toks[sig[k]]
        if t.kind != "ident" or t.upper not in ("ALL", "ANY"):
            continue
        if toks[sig[k + 1]].text != "(" or toks[sig[k + 2]].upper != "SELECT":
            continue
        op = toks[sig[k - 1]].text
        quant = t.upper
        if (op, quant) in _QUANT_AGG:
            agg = _QUANT_AGG[(op, quant)]
            close = find_close(toks, sig[k + 1])  # of the subquery
            if close == -1:
                continue
            t.text = ""  # drop the quantifier keyword
            toks[sig[k + 1]].text = f"(SELECT {agg}(__chq.__v) FROM ("
            toks[close].text = ") AS __chq(__v))"
        elif op in ("=", "==") and quant == "ANY":
            toks[sig[k - 1]].text = "IN"
            t.text = ""
        elif op in ("!=", "<>") and quant == "ALL":
            toks[sig[k - 1]].text = "NOT IN"
            t.text = ""
    return toks


def translate_select(sql: str) -> Statement:
    toks = tokenize(sql)
    toks = _rewrite_scalar_with(toks)
    toks, fmt = _strip_trailing_format(toks)
    toks, outfile, outfile_mode, outfile_stdout = _strip_trailing_outfile(toks)
    toks, settings = _strip_trailing_settings(toks)
    _rewrite_sample(toks)  # before double-literals: SAMPLE 0.5 is a fraction
    toks = _rewrite_tuple_dot(toks)  # before double-literals: expr.1 is access
    _rewrite_double_literals(toks)
    explain_graph = _rewrite_explain(toks)
    toks = _rewrite_map_literals(toks)  # before brackets: {m}[k] subscripts
    _rewrite_brackets(toks)
    toks = _rewrite_cast_types(toks)
    toks = _rewrite_tuple_in(toks)
    toks = _rewrite_quantified(toks)
    toks = _rewrite_ch_modifiers(toks)
    toks = _rewrite_join_strictness(toks)
    toks = _rewrite_array_join(toks)
    toks = _rewrite_star_replace(toks)
    toks = _rewrite_qualify(toks)
    toks = _rewrite_where_alias(toks)
    toks = _rewrite_group_by_empty(toks)
    toks = _rewrite_group_by_fdeps(toks)
    toks = _rewrite_distinct_on(toks)
    toks = _rewrite_limit_by(toks)
    toks = _rewrite_limit_with_ties(toks)
    toks = _rewrite_limit_comma(toks)
    toks = _rewrite_offset_fetch(toks)
    toks = _rewrite_truthy_filters(toks)
    toks = _rewrite_radix_literals(toks)
    toks, with_fill = _rewrite_with_fill(toks)
    toks, with_totals = _rewrite_with_totals(toks)
    body = "".join(t.text for t in toks).strip()
    body = _rewrite_in_frame(body)
    body = _rewrite_ternary(body)
    body = _rewrite_functions(body)
    body = _rewrite_nested_explode(body)
    return Statement(
        kind="select", spark_sql=body, format=fmt, settings=settings, original=sql,
        with_totals=with_totals, explain_graph=explain_graph, with_fill=with_fill,
        outfile=outfile, outfile_mode=outfile_mode, outfile_and_stdout=outfile_stdout,
    )


_IN_FRAME_RE = re.compile(r"\b(lag|lead)InFrame\s*\(", re.IGNORECASE)
_FRAME_CLAUSE_RE = re.compile(
    r"\s+(ROWS|RANGE|GROUPS)\s+(BETWEEN\s+.+|UNBOUNDED\s+PRECEDING|CURRENT\s+ROW|\d+\s+PRECEDING)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _rewrite_in_frame(body: str) -> str:
    """``lagInFrame/leadInFrame(args) OVER (spec ROWS BETWEEN …)`` →
    ``lag/lead(args) OVER (spec)``.  CH *requires* an explicit frame on
    these; Spark *forbids* frames on lag/lead.  With the canonical
    full frame the results are identical; a partial frame would differ
    (CH limits the lookup to the frame) — the common spelling is the
    full frame, so the frame is dropped rather than rejected."""
    out = body
    while True:
        m = _IN_FRAME_RE.search(out)
        if m is None:
            return out
        base = m.group(1).lower()
        # find the matching close paren of the arg list
        depth, j = 1, m.end()
        while j < len(out) and depth:
            depth += (out[j] == "(") - (out[j] == ")")
            j += 1
        head = out[: m.start()] + base + "(" + out[m.end():j]
        rest = out[j:]
        over = re.match(r"(\s+OVER\s*\()", rest, re.IGNORECASE)
        if over:
            depth, k = 1, over.end()
            while k < len(rest) and depth:
                depth += (rest[k] == "(") - (rest[k] == ")")
                k += 1
            spec = rest[over.end(): k - 1]
            spec = _FRAME_CLAUSE_RE.sub("", spec)
            rest = over.group(1) + spec + rest[k - 1:]
        out = head + rest


def _rewrite_nested_explode(body: str) -> str:
    """CH allows ``arrayJoin(e)`` anywhere in an expression; Spark's
    explode() must be a top-level generator. Hoist nested explode
    calls into LATERAL VIEWs: every textually-identical call shares
    one alias (matching CH: identical arrayJoin expressions expand
    together), distinct calls chain LATERAL VIEWs (cross product,
    also CH's behavior). Conservative scope: only single-SELECT
    statements; a bare top-level ``SELECT explode(e)`` item is left
    for Spark's native generator support."""
    low = body.lower()
    if "explode(" not in low:
        return body
    toks = tokenize(body)
    sig = [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]
    # SUBQUERY depth at each signal token (parens that open a SELECT;
    # plain function-call parens do not change scope). Call extents
    # live in the OUTER query only — subquery explodes are their own
    # scope and are left alone.
    depth_at = {}
    d = 0
    stack = []  # True per open paren: is it a subquery paren?
    for si, i in enumerate(sig):
        depth_at[i] = d
        for ch in toks[i].text:
            if ch == "(":
                nxt = toks[sig[si + 1]].text.upper() if si + 1 < len(sig) else ""
                is_sub = nxt == "SELECT" and toks[i].text.endswith("(")
                stack.append(is_sub)
                if is_sub:
                    d += 1
            elif ch == ")" and stack:
                if stack.pop():
                    d -= 1
    # find nested explode call extents: ident "explode" + "(" ... ")"
    calls = []  # (start_tok, end_tok, args_text)
    for si, i in enumerate(sig):
        t = toks[i]
        if t.kind != "ident" or t.text.lower() != "explode":
            continue
        if depth_at[i] != 0:
            continue
        if si + 1 >= len(sig) or not toks[sig[si + 1]].text.startswith("("):
            continue
        depth = 0
        j = sig[si + 1]
        end = None
        for k in range(j, len(toks)):
            depth += depth_delta(toks[k])
            if depth == 0:
                end = k
                break
        if end is None:
            return body
        args = "".join(toks[k].text for k in range(j, end + 1))[1:-1]
        calls.append((i, end, args))
    if not calls:
        return body
    # nested iff the call is not the entire select item: check the
    # token before (must be SELECT or ',') AND after (',' or clause)
    def _is_top_level_item(start, end):
        pi = [k for k in sig if k < start and depth_at[k] == 0]
        nxt = [k for k in sig if k > end and depth_at.get(k, 1) == 0]
        prev_t = toks[pi[-1]].text.upper() if pi else ""
        nxt_t = toks[nxt[0]].text.upper() if nxt else ""
        return prev_t in ("SELECT", ",", "DISTINCT") and (
            nxt_t in (",", "FROM", "") or nxt_t == "AS"
        )

    nested = [c for c in calls if not _is_top_level_item(c[0], c[1])]
    if not nested:
        return body
    # one alias per distinct args text, in first-appearance order
    aliases: dict[str, str] = {}
    for _, _, args in nested:
        if args not in aliases:
            aliases[args] = f"__ch_aj{len(aliases) + 1}"
    # replace every explode(args) occurrence (nested or not, same
    # args) with its alias, back-to-front to keep indices valid
    for start, end, args in sorted(calls, key=lambda c: -c[0]):
        if args not in aliases:
            continue
        for k in range(start, end + 1):
            toks[k].text = ""
        toks[start].text = aliases[args]
    out = "".join(t.text for t in toks)
    lateral = "".join(
        f" LATERAL VIEW explode({args}) __ch_ajv_{al} AS {al}"
        for args, al in aliases.items()
    )
    # insert after the FROM source, before the next top-level clause
    toks2 = tokenize(out)
    sig2 = [i for i, t in enumerate(toks2) if t.kind not in ("ws", "comment")]
    from_at = None
    depth = 0
    for i in sig2:
        t = toks2[i]
        depth += depth_delta(t)
        if depth == 0 and t.kind == "ident" and t.text.upper() == "FROM":
            from_at = i
            break
    if from_at is None:
        # no FROM: synthesize a one-row source
        m = re.search(r"(?is)WHERE|GROUP|ORDER|LIMIT|$", out)
        pos = m.start()
        return out[:pos] + f" FROM (SELECT 1 AS __ch_one){lateral} " + out[pos:]
    depth = 0
    ins = len(toks2)
    seen_source = False
    for i in sig2:
        if i <= from_at:
            continue
        t = toks2[i]
        depth += depth_delta(t)
        if depth < 0:
            ins = i
            break
        if depth == 0 and seen_source and t.kind == "ident" and t.text.upper() in (
            "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET", "UNION",
            "INTERSECT", "EXCEPT", "QUALIFY", "WINDOW",
        ):
            ins = i
            break
        if t.kind in ("ident", "bquote") or t.text == ")":
            seen_source = True
    prefix = "".join(t.text for t in toks2[:ins])
    suffix = "".join(t.text for t in toks2[ins:])
    return f"{prefix}{lateral} {suffix}"


def translate(sql: str) -> list[Statement]:
    """Translate a (possibly multi-statement) CH query string."""
    out: list[Statement] = []
    for stmt in split_statements(sql):
        toks = tokenize(stmt)
        sig = _sig(toks)
        if not sig:
            continue
        first = toks[sig[0]].text.upper()
        if first == "USE" and len(sig) >= 2:
            db = toks[sig[1]].text.strip("`")
            out.append(Statement(kind="use", database=db, original=stmt))
        elif first in ("CREATE", "DROP", "ALTER", "TRUNCATE", "RENAME", "EXCHANGE", "OPTIMIZE", "DELETE", "ATTACH", "DETACH") or (
            first == "REPLACE"
            and len(sig) > 1
            and toks[sig[1]].text.upper() == "TABLE"
        ):
            out.append(Statement(kind="ddl", spark_sql=stmt, original=stmt))
        elif first == "EXISTS":
            # EXISTS [TABLE] [db.]name → one row, column `result` UInt8
            j = 1
            if len(sig) > 1 and toks[sig[1]].text.upper() == "TABLE":
                j = 2
            ref = "".join(toks[k].text for k in sig[j:]).strip()
            out.append(Statement(kind="exists", spark_sql=ref, original=stmt))
        elif first == "CHECK":
            # CHECK TABLE [db.]name → one row, `result` UInt8
            j = 1
            if len(sig) > 1 and toks[sig[1]].text.upper() == "TABLE":
                j = 2
            ref = "".join(toks[k].text for k in sig[j:]).strip()
            out.append(Statement(kind="check", spark_sql=ref, original=stmt))
        elif first == "KILL":
            out.append(Statement(kind="kill", original=stmt))
        elif first == "SYSTEM":
            # SYSTEM FLUSH LOGS / RELOAD ... — stateless engine, no-op
            # (surfaced on the warning channel)
            out.append(Statement(kind="system", original=stmt))
        elif first == "INSERT":
            s = translate_select(stmt)
            s.kind = "insert"
            out.append(s)
        elif first == "SET":
            out.append(Statement(kind="set", original=stmt))
        elif first in ("SELECT", "WITH", "SHOW", "DESCRIBE", "DESC", "EXPLAIN", "VALUES"):
            out.append(translate_select(stmt))
        else:
            out.append(Statement(kind="other", spark_sql=stmt, original=stmt))
    return out
