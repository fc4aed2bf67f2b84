"""The INSERT grammar the engine needs: the header
``INSERT INTO [TABLE] [db.]t [(c1, c2, …)]`` and the rows of a
``VALUES`` body.

Every INSERT form (SQL ``… SELECT``/``… VALUES``, inline ``FORMAT``
data, native-protocol blocks) reads its target through
``parse_insert``; the engine reads every other table reference it is
handed as text (DESCRIBE, SHOW CREATE, CHECK, EXISTS) through
``split_ref``. The header is read token by token and reading
stops where the body starts, so a bulk payload after it is never
scanned.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from .tokenizer import (
    Tok,
    arg_texts,
    depth_delta,
    find_close,
    iter_tokens,
    significant,
    split_args,
    tokenize,
)

_NAME = ("ident", "bquote")
# words that can follow INSERT INTO where no table name stands
_NOT_A_TABLE = frozenset(("SELECT", "VALUES", "WITH", "FORMAT", "FUNCTION"))


@dataclass
class InsertHeader:
    ref: str  # the target as written: t, db.t, `d`.`t`
    columns: list[str]  # the column list, unquoted; empty when absent
    body_at: int  # offset in the statement where the body starts


def parse_insert(sql: str) -> Optional[InsertHeader]:
    """The header of ``INSERT INTO [TABLE] [db.]t [(cols)] …``, or None
    when ``sql`` does not start that way."""
    toks = _significant_with_end(sql)
    done = (None, len(sql))
    words = [next(toks, done)[0] for _ in range(2)]
    if [t.upper if t else None for t in words] != ["INSERT", "INTO"]:
        return None
    t, end = next(toks, done)
    if t is not None and t.upper == "TABLE":
        t, end = next(toks, done)
    if t is None or t.kind not in _NAME or t.upper in _NOT_A_TABLE:
        return None
    start, body_at = end - len(t.text), end
    t, end = next(toks, done)
    if t is not None and t.text == ".":
        t, end = next(toks, done)
        if t is None or t.kind not in _NAME:
            return None
        body_at = end
        t, end = next(toks, done)
    ref = sql[start:body_at]
    columns: list[str] = []
    if t is not None and t.text == "(":
        inner: list[Tok] = []
        depth = 1
        for t, end in toks:
            depth += depth_delta(t)
            if depth == 0:
                break
            inner.append(t)
        else:
            return None
        columns = [c.strip("`") for c in arg_texts(inner)]
        body_at = end
    return InsertHeader(ref, columns, body_at)


def _significant_with_end(sql: str):
    """Significant tokens of ``sql``, each with the offset just past it."""
    end = 0
    for t in iter_tokens(sql):
        end += len(t.text)
        if t.kind not in ("ws", "comment"):
            yield t, end


def split_ref(ref: str) -> tuple[Optional[str], str]:
    """``t`` or ``db.t``, either part optionally back-quoted →
    (db or None, t)."""
    parts = [t.text.strip("`") for t in tokenize(ref) if t.kind in _NAME]
    if len(parts) == 2:
        return parts[0], parts[1]
    return None, parts[0] if parts else ""


def values_query(body: str, defaults: list[str]) -> str:
    """A ``VALUES (…), (…)`` INSERT body as a query Spark runs on its
    own, outside an INSERT.

    - A bare ``DEFAULT`` in column i becomes ``defaults[i]``: Spark
      resolves the keyword only inside its own INSERT.
    - CH tuple literals become ``struct(…)``. ``VALUES ((1, 'x'))``
      must give a Tuple column, but Spark expands a struct coming from
      a VALUES row into its fields, while ``SELECT struct(…)`` keeps
      it. A tuple is a ``(`` inside a row whose previous significant
      token is not an identifier (so not a function call) and whose
      group has a top-level comma. When any rewrite fires, every row
      ``(…)`` becomes ``SELECT …`` chained with UNION ALL."""
    toks = tokenize(body)
    sig = significant(toks)
    if not sig or toks[sig[0]].upper != "VALUES":
        return body
    structs = False
    depth = 0
    col = 0
    row_opens: list[int] = []  # token index of each row's '('
    row_closes: list[int] = []
    row_commas: list[int] = []  # commas BETWEEN rows
    for k in range(1, len(sig)):
        i = sig[k]
        t = toks[i]
        d = depth_delta(t)
        if t.text == "(":
            if depth == 0:
                row_opens.append(i)
                col = 0
            elif toks[sig[k - 1]].kind not in _NAME:
                close = find_close(toks, i)
                if close != -1 and len(split_args(toks[i + 1 : close])) > 1:
                    # kind "op" so a directly-following nested
                    # tuple's prev check doesn't see a call
                    toks[i] = Tok("op", "struct(")
                    structs = True
        elif depth == 1 and t.text == ",":
            col += 1
        elif (
            depth == 1
            and t.upper == "DEFAULT"
            and col < len(defaults)
            and toks[sig[k - 1]].text in ("(", ",")
            and k + 1 < len(sig)
            and toks[sig[k + 1]].text in (")", ",")
        ):
            toks[i] = Tok("op", f"({defaults[col]})")
        depth += d
        if d < 0 and depth == 0:
            row_closes.append(i)
        elif d == 0 and depth == 0 and t.text == ",":
            row_commas.append(i)
    if structs and row_opens:
        # VALUES (r1), (r2) → SELECT r1 UNION ALL SELECT r2
        toks[sig[0]] = Tok("ident", "")
        for n, i in enumerate(row_opens):
            toks[i] = Tok("op", "SELECT " if n == 0 else " SELECT ")
        for i in row_closes:
            toks[i] = Tok("op", "")
        for i in row_commas:
            toks[i] = Tok("op", " UNION ALL")
    return "".join(t.text for t in toks)
