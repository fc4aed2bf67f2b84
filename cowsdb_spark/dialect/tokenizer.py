"""Minimal SQL tokenizer — enough structure for token-aware rewrites.

The reference corrupts queries containing the word FORMAT inside a
string literal (``"FORMAT" in query.upper()``, main.py:534) and
flattens multi-line bodies through string surgery (main.py:884-889).
Tokenizing first avoids that class of bug: string literals, quoted
identifiers and comments are opaque single tokens.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<string>'(?:[^'\\]|\\.|'')*')
  | (?P<bquote>`(?:[^`]|``)*`)
  | (?P<dquote>"(?:[^"\\]|\\.)*")
  | (?P<number>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+(?:[eE][+-]?\d+)?)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op><=|>=|!=|<>|==|\|\||->|::|[%()\[\]{},;:.+\-*/<>=?!@#&|~^])
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class Tok:
    kind: str  # ws|comment|string|bquote|dquote|number|ident|op
    text: str

    @property
    def upper(self) -> str:
        return self.text.upper() if self.kind == "ident" else self.text


def iter_tokens(sql: str):
    """The tokens of ``sql`` one at a time, so a reader that needs
    only a statement's head never scans the rest. Tokens cover the
    text without gaps: their lengths sum to an offset."""
    pos = 0
    while pos < len(sql):
        m = TOKEN_RE.match(sql, pos)
        if not m:
            # Unknown byte: keep it as an opaque op token rather than fail.
            yield Tok("op", sql[pos])
            pos += 1
            continue
        pos = m.end()
        yield Tok(m.lastgroup or "op", m.group(0))


def tokenize(sql: str) -> list[Tok]:
    return list(iter_tokens(sql))


def render(toks: list[Tok]) -> str:
    return "".join(t.text for t in toks)


def significant(toks: list[Tok]) -> list[int]:
    """Indices of non-whitespace, non-comment tokens."""
    return [i for i, t in enumerate(toks) if t.kind not in ("ws", "comment")]


_DELTA = {"(": 1, "[": 1, "{": 1, ")": -1, "]": -1, "}": -1}
_NO_NESTING = frozenset(("ws", "string", "bquote", "dquote", "comment"))


def depth_delta(t: Tok) -> int:
    """Net openers ``(``/``[``/``{`` minus closers ``)``/``]``/``}`` a
    token adds to the nesting depth: the one nesting rule every scan
    shares. Text an earlier rewrite put into one token ("array(",
    "element_at(x") counts; quoted text and comments never do."""
    if t.kind in _NO_NESTING:
        return 0
    s = t.text
    if len(s) == 1:
        return _DELTA.get(s, 0)
    if s.isidentifier():
        return 0
    if "'" in s or '"' in s or "`" in s:
        return sum(depth_delta(x) for x in tokenize(s))
    return (
        s.count("(") + s.count("[") + s.count("{")
        - s.count(")") - s.count("]") - s.count("}")
    )


def find_close(toks: list[Tok], open_idx: int) -> int:
    """Index of the token that closes the bracket ``toks[open_idx]``
    opens, or -1."""
    depth = 0
    for i in range(open_idx, len(toks)):
        depth += depth_delta(toks[i])
        if depth <= 0:
            return i if i > open_idx else -1
    return -1


def split_args(toks: list[Tok]) -> list[list[Tok]]:
    """Split a token range on commas at nesting depth 0: one token list
    per argument. Literals are single tokens, so commas and brackets
    inside quotes never split. A blank last argument (empty range,
    trailing comma) is dropped."""
    args: list[list[Tok]] = [[]]
    depth = 0
    for t in toks:
        if depth == 0 and t.kind == "op" and t.text == ",":
            args.append([])
            continue
        depth += depth_delta(t)
        args[-1].append(t)
    if not render(args[-1]).strip():
        args.pop()
    return args


def arg_texts(toks: list[Tok]) -> list[str]:
    """``split_args`` rendered: one stripped string per argument."""
    return [render(a).strip() for a in split_args(toks)]


def split_text(s: str) -> list[str]:
    """``arg_texts`` for callers holding a string: a type's parameters,
    a key list, an attribute list."""
    return arg_texts(tokenize(s))
