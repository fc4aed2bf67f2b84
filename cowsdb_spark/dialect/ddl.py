"""ClickHouse DDL parsing → structured form for the engine.

Handles the shapes the reference exercises (SURVEY §2.1 S6):
``CREATE DATABASE [IF NOT EXISTS] db``, ``DROP
DATABASE/TABLE/VIEW/DICTIONARY [IF EXISTS]``, and ``CREATE TABLE
[IF NOT EXISTS] [db.]name (cols) ENGINE = X(...) [PARTITION BY e]
[ORDER BY e] [SAMPLE BY e] [SETTINGS ...]`` (the ClickBench MergeTree
DDL, test.yml:49).

Engine clauses map per SURVEY §1.1: Memory and MergeTree both
become parquet-backed managed tables; PARTITION BY / ORDER BY are
captured so the write path can partition and sort-within-partitions
(min/max row-group pruning ≈ CH sparse primary index);
``index_granularity`` etc. are accepted and ignored.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from .tokenizer import Tok, depth_delta, find_close, split_args, tokenize
from .types import ch_type_to_spark
from pyspark.sql import types as T


@dataclass
class ColumnDef:
    name: str
    ch_type: str
    spark_type: T.DataType
    nullable: bool
    # DEFAULT/MATERIALIZED/ALIAS expr (CH text); kind records which
    default_kind: Optional[str] = None
    default_expr: Optional[str] = None


@dataclass
class CreateTable:
    database: Optional[str]
    table: str
    if_not_exists: bool
    columns: list[ColumnDef]
    engine: str = "MergeTree"
    engine_args: str = ""  # e.g. the ver column of ReplacingMergeTree(ver)
    temporary: bool = False  # CREATE TEMPORARY TABLE (session-scoped)
    partition_by: Optional[str] = None
    order_by: Optional[str] = None
    sample_by: Optional[str] = None
    settings: dict[str, str] = field(default_factory=dict)
    as_select: Optional[str] = None  # CTAS: CH-dialect SELECT text
    or_replace: bool = False  # CREATE OR REPLACE / REPLACE TABLE

    @property
    def spark_schema(self) -> T.StructType:
        return T.StructType(
            [T.StructField(c.name, c.spark_type, c.nullable) for c in self.columns]
        )


@dataclass
class CreateDatabase:
    database: str
    if_not_exists: bool


@dataclass
class DropObject:
    what: str  # "TABLE" | "VIEW" | "DATABASE" | "DICTIONARY"
    database: Optional[str]
    name: str
    if_exists: bool


@dataclass
class TruncateTable:
    database: Optional[str]
    name: str
    if_exists: bool


@dataclass
class RenameTables:
    # (db_from, from_name, db_to, to_name) per comma-separated pair
    pairs: list[tuple[Optional[str], str, Optional[str], str]]


@dataclass
class AlterMutation:
    """CH mutation: ``ALTER TABLE t DELETE WHERE c`` / ``ALTER TABLE t
    UPDATE a=e[,…] WHERE c`` / lightweight ``DELETE FROM t WHERE c``.
    Expressions are CH-dialect text (engine translates spellings)."""

    database: Optional[str]
    name: str
    action: str  # "delete" | "update"
    where: str
    assignments: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class AlterColumn:
    database: Optional[str]
    name: str
    action: str  # "add" | "drop" | "modify" | "rename" | "comment" | "clear"
    column: str
    ch_type: Optional[str] = None  # add/modify
    default: Optional[str] = None  # add only, CH expr text
    if_clause: bool = False  # IF NOT EXISTS (add) / IF EXISTS (drop)
    new_name: Optional[str] = None  # rename only
    comment: Optional[str] = None  # comment only


@dataclass
class NoopDDL:
    """Accepted-and-ignored DDL: data-skipping indexes and TTL have no
    parquet analog (min/max row-group stats already provide the minmax
    index behavior) — CH returns OK for these, so does the engine."""

    reason: str


@dataclass
class AttachDetach:
    action: str  # "attach" | "detach"
    database: Optional[str]
    name: str
    if_exists: bool = False


@dataclass
class OptimizeTable:
    database: Optional[str]
    name: str
    final: bool = False


@dataclass
class CreateView:
    """``CREATE [OR REPLACE] [MATERIALIZED] VIEW [IF NOT EXISTS]
    [db.]name [TO [db.]tbl] [ENGINE…] [POPULATE] AS <select>``.
    ``select_sql`` is the CH-dialect text after AS (engine
    translates + remaps it)."""

    database: Optional[str]
    name: str
    select_sql: str
    if_not_exists: bool = False
    or_replace: bool = False
    materialized: bool = False
    to_database: Optional[str] = None
    to_table: Optional[str] = None
    populate: bool = False


def _sig_toks(sql: str) -> list[Tok]:
    return [t for t in tokenize(sql) if t.kind not in ("ws", "comment")]


def _ident(t: Tok) -> str:
    if t.kind == "bquote":
        return t.text[1:-1].replace("``", "`")
    if t.kind == "dquote":
        return t.text[1:-1]
    return t.text


_IF_NOT_EXISTS = re.compile(r"\bIF\s+NOT\s+EXISTS\b", re.IGNORECASE)


def parse_ddl(sql: str):
    """Parse one DDL statement; returns a dataclass or None if the
    statement should pass through to Spark SQL untouched."""
    toks = _sig_toks(sql)
    if not toks:
        return None
    head = toks[0].text.upper()
    if head == "CREATE" and len(toks) >= 2 and toks[1].text.upper() == "DATABASE":
        ine = bool(_IF_NOT_EXISTS.search(sql))
        return CreateDatabase(database=_ident(toks[-1]), if_not_exists=ine)
    if head == "CREATE":
        j = 1
        or_replace = False
        if (
            j + 1 < len(toks)
            and toks[j].text.upper() == "OR"
            and toks[j + 1].text.upper() == "REPLACE"
        ):
            or_replace = True
            j += 2
        mat = False
        if j < len(toks) and toks[j].text.upper() == "MATERIALIZED":
            mat = True
            j += 1
        if j < len(toks) and toks[j].text.upper() == "VIEW":
            return _parse_create_view(toks, j + 1, or_replace, mat)
    if head == "DROP" and len(toks) >= 2 and toks[1].upper in ("DATABASE", "TABLE", "VIEW", "DICTIONARY"):
        what = toks[1].upper
        ie = len(toks) >= 4 and toks[2].upper == "IF" and toks[3].upper == "EXISTS"
        name_tok = toks[-1]
        name = _ident(name_tok)
        db = None
        if len(toks) >= 3 and toks[-2].text == "." :
            db = _ident(toks[-3])
        return DropObject(what=what, database=db, name=name, if_exists=ie)
    if head == "CREATE" and len(toks) >= 2 and toks[1].text.upper() == "TABLE":
        return _parse_create_table(sql, toks)
    if (
        head == "CREATE"
        and len(toks) >= 4
        and toks[1].text.upper() == "OR"
        and toks[2].text.upper() == "REPLACE"
        and toks[3].text.upper() == "TABLE"
    ):
        ct = _parse_create_table(sql, [toks[0]] + toks[3:])
        if ct is not None:
            ct.or_replace = True
        return ct
    if head == "REPLACE" and len(toks) >= 2 and toks[1].text.upper() == "TABLE":
        ct = _parse_create_table(sql, toks)
        if ct is not None:
            ct.or_replace = True
        return ct
    if (
        head == "CREATE"
        and len(toks) >= 3
        and toks[1].text.upper() == "TEMPORARY"
        and toks[2].text.upper() == "TABLE"
    ):
        ct = _parse_create_table(sql, [toks[0]] + toks[2:])
        if ct is not None:
            ct.temporary = True
        return ct
    if head in ("ATTACH", "DETACH") and len(toks) >= 2 and toks[1].text.upper() == "TABLE":
        i = 2
        ie = False
        if i + 1 < len(toks) and toks[i].text.upper() == "IF" and toks[i + 1].text.upper() == "EXISTS":
            ie = True
            i += 2
        db, name, _ = _parse_qualname(toks, i)
        return AttachDetach(action=head.lower(), database=db, name=name, if_exists=ie)
    if head == "TRUNCATE":
        i = 1
        if i < len(toks) and toks[i].text.upper() == "TABLE":
            i += 1
        ie = False
        if i + 1 < len(toks) and toks[i].text.upper() == "IF" and toks[i + 1].text.upper() == "EXISTS":
            ie = True
            i += 2
        db, name, _ = _parse_qualname(toks, i)
        return TruncateTable(database=db, name=name, if_exists=ie)
    if head == "RENAME" and len(toks) >= 2 and toks[1].text.upper() == "TABLE":
        pairs = []
        i = 2
        while i < len(toks):
            db_f, n_f, i = _parse_qualname(toks, i)
            if i < len(toks) and toks[i].text.upper() == "TO":
                i += 1
            db_t, n_t, i = _parse_qualname(toks, i)
            pairs.append((db_f, n_f, db_t, n_t))
            if i < len(toks) and toks[i].text == ",":
                i += 1
            else:
                break
        return RenameTables(pairs=pairs) if pairs else None
    if head == "EXCHANGE" and len(toks) >= 2 and toks[1].text.upper() == "TABLES":
        # EXCHANGE TABLES a AND b → three renames through a temp name
        # (CH's is atomic; ours is best-effort sequential, documented)
        db_a, n_a, i = _parse_qualname(toks, 2)
        if i < len(toks) and toks[i].text.upper() == "AND":
            i += 1
        db_b, n_b, i = _parse_qualname(toks, i)
        if (db_a, n_a) == (db_b, n_b):
            # self-exchange is a no-op — the rename chain would strand
            # the table under the temp name when step 2 finds it gone
            return RenameTables(pairs=[])
        tmp = f"__xchg_{n_a}__{n_b}"
        return RenameTables(
            pairs=[
                (db_a, n_a, db_a, tmp),
                (db_b, n_b, db_a, n_a),
                (db_a, tmp, db_b, n_b),
            ]
        )
    if head == "OPTIMIZE" and len(toks) >= 2 and toks[1].text.upper() == "TABLE":
        db, name, i = _parse_qualname(toks, 2)
        final = any(t.text.upper() == "FINAL" for t in toks[i:])
        return OptimizeTable(database=db, name=name, final=final)
    if head == "DELETE":  # lightweight delete: DELETE FROM t WHERE c
        i = 1
        if i < len(toks) and toks[i].text.upper() == "FROM":
            i += 1
        db, name, i = _parse_qualname(toks, i)
        if i < len(toks) and toks[i].text.upper() == "WHERE":
            where = _expr_text(toks[i + 1 :])
            return AlterMutation(database=db, name=name, action="delete", where=where)
        return None
    if head == "ALTER" and len(toks) >= 2 and toks[1].text.upper() == "TABLE":
        return _parse_alter(toks)
    return None


def _parse_qualname(toks: list[Tok], i: int) -> tuple[Optional[str], str, int]:
    name = _ident(toks[i])
    db = None
    i += 1
    if i + 1 < len(toks) and toks[i].text == ".":
        db = name
        name = _ident(toks[i + 1])
        i += 2
    return db, name, i


def _expr_text(toks: list[Tok]) -> str:
    return " ".join(t.text for t in toks).strip()


def _parse_alter(toks: list[Tok]):
    """ALTER TABLE [db.]t DELETE/UPDATE/ADD COLUMN/DROP COLUMN forms.
    Returns None for anything else (pass through to Spark SQL)."""
    db, name, i = _parse_qualname(toks, 2)
    if i >= len(toks):
        return None
    verb = toks[i].text.upper()
    if verb == "DELETE" and i + 1 < len(toks) and toks[i + 1].text.upper() == "WHERE":
        return AlterMutation(
            database=db, name=name, action="delete", where=_expr_text(toks[i + 2 :])
        )
    if verb == "UPDATE":
        # assignments up to top-level WHERE
        j = i + 1
        depth = 0
        wh = None
        for k in range(j, len(toks)):
            depth += depth_delta(toks[k])
            if depth == 0 and toks[k].kind == "ident" and toks[k].text.upper() == "WHERE":
                wh = k
                break
        if wh is None:
            return None
        assigns = []
        for grp in split_args(toks[j:wh]):
            if len(grp) >= 3 and grp[1].text == "=":
                assigns.append((_ident(grp[0]), _expr_text(grp[2:])))
        return AlterMutation(
            database=db,
            name=name,
            action="update",
            where=_expr_text(toks[wh + 1 :]),
            assignments=assigns,
        )
    if verb == "MODIFY" and i + 1 < len(toks) and toks[i + 1].text.upper() == "COLUMN":
        j = i + 2
        if j + 2 < len(toks) and toks[j].text.upper() == "IF":
            j += 2  # IF EXISTS
        if j >= len(toks):
            return None
        col = _ident(toks[j])
        ch_type = "".join(t.text for t in toks[j + 1 :]).strip()
        return AlterColumn(
            database=db, name=name, action="modify", column=col,
            ch_type=ch_type or None,
        )
    if verb == "RENAME" and i + 1 < len(toks) and toks[i + 1].text.upper() == "COLUMN":
        j = i + 2
        if j + 2 < len(toks) and toks[j].text.upper() == "IF":
            j += 2  # IF EXISTS
        if j + 2 >= len(toks) or toks[j + 1].text.upper() != "TO":
            return None
        return AlterColumn(
            database=db, name=name, action="rename",
            column=_ident(toks[j]), new_name=_ident(toks[j + 2]),
        )
    if verb in ("ADD", "DROP") and i + 1 < len(toks) and toks[i + 1].text.upper() in (
        "COLUMN",
        "COLUMNS",
    ):
        j = i + 2
        if_clause = False
        if verb == "ADD" and j + 2 < len(toks) and toks[j].text.upper() == "IF":
            if_clause = True
            j += 3  # IF NOT EXISTS
        elif verb == "DROP" and j + 1 < len(toks) and toks[j].text.upper() == "IF":
            if_clause = True
            j += 2  # IF EXISTS
        if j >= len(toks):
            return None
        col = _ident(toks[j])
        j += 1
        if verb == "DROP":
            return AlterColumn(
                database=db, name=name, action="drop", column=col, if_clause=if_clause
            )
        # type tokens up to DEFAULT / end
        type_toks, default = [], None
        k = j
        while k < len(toks):
            if toks[k].kind == "ident" and toks[k].text.upper() == "DEFAULT":
                default = _expr_text(toks[k + 1 :])
                break
            type_toks.append(toks[k].text)
            k += 1
        ch_type = "".join(type_toks).strip() or "String"
        return AlterColumn(
            database=db,
            name=name,
            action="add",
            column=col,
            ch_type=ch_type,
            default=default,
            if_clause=if_clause,
        )
    if verb == "COMMENT" and i + 2 < len(toks) and toks[i + 1].text.upper() == "COLUMN":
        j = i + 2
        if j + 2 < len(toks) and toks[j].text.upper() == "IF":
            j += 2  # IF EXISTS
        if j + 1 >= len(toks):
            return None
        txt = toks[j + 1].text
        if len(txt) >= 2 and txt[0] in "'\"":
            txt = txt[1:-1]
        return AlterColumn(
            database=db, name=name, action="comment",
            column=_ident(toks[j]), comment=txt,
        )
    if verb == "CLEAR" and i + 1 < len(toks) and toks[i + 1].text.upper() == "COLUMN":
        j = i + 2
        if j + 2 < len(toks) and toks[j].text.upper() == "IF":
            j += 2  # IF EXISTS
        if j >= len(toks):
            return None
        return AlterColumn(
            database=db, name=name, action="clear", column=_ident(toks[j]),
        )
    if verb in ("ADD", "DROP", "MATERIALIZE", "CLEAR") and i + 1 < len(
        toks
    ) and toks[i + 1].text.upper() == "INDEX":
        return NoopDDL(reason=f"{verb} INDEX")
    if verb in ("MODIFY", "REMOVE") and i + 1 < len(toks) and toks[
        i + 1
    ].text.upper() == "TTL":
        return NoopDDL(reason=f"{verb} TTL")
    return None


def _parse_create_view(
    toks: list[Tok], i: int, or_replace: bool, materialized: bool
) -> Optional[CreateView]:
    ine = False
    if (
        i + 2 < len(toks)
        and toks[i].text.upper() == "IF"
        and toks[i + 1].text.upper() == "NOT"
        and toks[i + 2].text.upper() == "EXISTS"
    ):
        ine = True
        i += 3
    if i >= len(toks):
        return None
    db, name, i = _parse_qualname(toks, i)
    to_db, to_tbl = None, None
    if i < len(toks) and toks[i].text.upper() == "TO":
        to_db, to_tbl, i = _parse_qualname(toks, i + 1)
    # skip ENGINE/ORDER BY/PARTITION BY/SETTINGS up to POPULATE / AS
    populate = False
    depth = 0
    while i < len(toks):
        t = toks[i]
        depth += depth_delta(t)
        if depth == 0 and t.kind == "ident":
            up = t.text.upper()
            if up == "POPULATE":
                populate = True
            elif up == "AS":
                body = _expr_text(toks[i + 1 :])
                return CreateView(
                    database=db,
                    name=name,
                    select_sql=body,
                    if_not_exists=ine,
                    or_replace=or_replace,
                    materialized=materialized,
                    to_database=to_db,
                    to_table=to_tbl,
                    populate=populate,
                )
        i += 1
    return None


def _parse_create_table(sql: str, toks: list[Tok]) -> Optional[CreateTable]:
    i = 2
    ine = False
    if (
        i + 2 < len(toks)
        and toks[i].text.upper() == "IF"
        and toks[i + 1].text.upper() == "NOT"
        and toks[i + 2].text.upper() == "EXISTS"
    ):
        ine = True
        i += 3
    # [db.]name
    if i >= len(toks):
        return None
    name = _ident(toks[i])
    db = None
    i += 1
    if i < len(toks) and toks[i].text == "." and i + 1 < len(toks):
        db = name
        name = _ident(toks[i + 1])
        i += 2
    # optional column list (absent for the CTAS / clone forms)
    cols: list[ColumnDef] = []
    if i < len(toks) and toks[i].text == "(":
        end = find_close(toks, i)
        if end == -1:
            return None
        cols = _parse_columns(toks[i + 1 : end])
        rest = toks[end + 1 :]
    else:
        rest = toks[i:]
    # top-level AS splits the clause section from a CTAS select /
    # schema-clone source (``CREATE TABLE t [clauses] AS SELECT …`` or
    # ``CREATE TABLE t AS other_table``)
    as_select = None
    depth = 0
    for j, t in enumerate(rest):
        depth += depth_delta(t)
        if depth == 0 and t.kind == "ident" and t.text.upper() == "AS":
            tail = rest[j + 1 :]
            if not tail:
                break
            head = tail[0].text.upper()
            if head in ("SELECT", "WITH") or tail[0].text == "(":
                as_select = _expr_text(tail)
            else:
                # clone form: empty table with the source's schema
                src = _expr_text(tail)
                as_select = f"SELECT * FROM {src} WHERE 1 = 0"
            rest = rest[:j]
            break
    if not cols and as_select is None:
        return None
    ct = CreateTable(
        database=db, table=name, if_not_exists=ine, columns=cols,
        as_select=as_select,
    )
    _parse_table_clauses(rest, ct)
    return ct


def _parse_columns(toks: list[Tok]) -> list[ColumnDef]:
    cols: list[ColumnDef] = []
    for g in split_args(toks):
        if not g:
            continue
        cname = _ident(g[0])
        # type = tokens up to DEFAULT/MATERIALIZED/ALIAS/CODEC/COMMENT/TTL
        type_toks = []
        dkind = dexpr = None
        it = iter(range(1, len(g)))
        i2 = 1
        while i2 < len(g):
            t = g[i2]
            if t.kind == "ident" and t.text.upper() in (
                "DEFAULT",
                "MATERIALIZED",
                "ALIAS",
                "CODEC",
                "COMMENT",
                "TTL",
            ):
                kw = t.text.upper()
                if kw in ("DEFAULT", "MATERIALIZED", "ALIAS"):
                    dkind = kw
                    # expr = tokens up to the next attribute keyword
                    j2 = i2 + 1
                    expr_toks = []
                    while j2 < len(g):
                        t2 = g[j2]
                        if t2.kind == "ident" and t2.text.upper() in (
                            "CODEC", "COMMENT", "TTL",
                        ):
                            break
                        expr_toks.append(t2.text)
                        j2 += 1
                    dexpr = "".join(expr_toks).strip()
                break
            type_toks.append(t.text)
            i2 += 1
        ch_type = " ".join(type_toks).replace(" ( ", "(").replace(" )", ")").replace("( ", "(")
        ch_type = ch_type.replace(" (", "(").replace(" ,", ",").strip()
        nullable = "NULLABLE(" in ch_type.upper()
        if not ch_type and dkind:
            # CH allows `c DEFAULT expr` with the type inferred; keep
            # a permissive fallback type
            ch_type = "String" if dkind == "DEFAULT" else "Float64"
        cols.append(
            ColumnDef(
                name=cname,
                ch_type=ch_type,
                spark_type=ch_type_to_spark(ch_type),
                nullable=nullable,
                default_kind=dkind,
                default_expr=dexpr,
            )
        )
    return cols


_CLAUSE_KW = ("ENGINE", "PARTITION", "ORDER", "PRIMARY", "SAMPLE", "SETTINGS", "TTL")


def _parse_table_clauses(toks: list[Tok], ct: CreateTable) -> None:
    i = 0
    n = len(toks)

    def until_next_clause(j: int) -> tuple[str, int]:
        parts = []
        depth = 0
        while j < n:
            t = toks[j]
            depth += depth_delta(t)
            if (
                depth == 0
                and t.kind == "ident"
                and t.text.upper() in _CLAUSE_KW
            ):
                break
            parts.append(t.text)
            j += 1
        return " ".join(parts).strip(), j

    while i < n:
        t = toks[i]
        kw = t.text.upper() if t.kind == "ident" else ""
        if kw == "ENGINE":
            i += 1
            if i < n and toks[i].text == "=":
                i += 1
            if i < n:
                ct.engine = toks[i].text
                i += 1
                if i < n and toks[i].text == "(":
                    close = find_close(toks, i)
                    if close == -1:
                        close = n
                    ct.engine_args = "".join(t.text for t in toks[i + 1 : close]).strip()
                    i = close + 1
        elif kw in ("PARTITION", "ORDER", "PRIMARY", "SAMPLE") and i + 1 < n and toks[
            i + 1
        ].text.upper() == "BY":
            expr, j = until_next_clause(i + 2)
            if kw == "PARTITION":
                ct.partition_by = expr
            elif kw == "ORDER":
                ct.order_by = expr
            elif kw == "SAMPLE":
                ct.sample_by = expr
            i = j
        elif kw == "SETTINGS":
            expr, j = until_next_clause(i + 1)
            for pair in expr.split(","):
                if "=" in pair:
                    k, v = pair.split("=", 1)
                    ct.settings[k.strip()] = v.strip()
            i = j
        else:
            i += 1
