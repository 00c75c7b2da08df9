"""SQL lexer: the one place that knows where string literals, quoted
identifiers and comments begin and end.

The grammar is the one model files are written in (DuckDB's):

- ``'…'`` is a string literal; ``"…"`` and ```…``` are quoted
  identifiers. Inside each, a doubled delimiter is an escaped
  delimiter. An unterminated literal or identifier runs to the end of
  the text.
- ``--`` starts a comment that runs to the end of the line (the
  newline is not part of it). ``/*`` starts a comment that closes at
  the first ``*/`` (no nesting), or runs to the end of the text.

Everything else is code. Scanners never track quote state themselves:
they scan :func:`mask`, which keeps every offset, so an index into the
mask is an index into the text. Literals and identifiers keep their
delimiters in the mask (a scanner still sees that a value or a name
sits there); comments are blanked whole, as the whitespace they are to
a SQL parser. The depth-aware helpers below count ``(``/``[`` against
``)``/``]`` over the mask.
"""

from __future__ import annotations

import re

CODE, STRING, IDENT, COMMENT = "code", "string", "ident", "comment"

_TOKEN = re.compile(
    r"""'[^']*(?:''[^']*)*'?
      | "[^"]*(?:""[^"]*)*"?
      | `[^`]*(?:``[^`]*)*`?
      | --[^\n]*
      | /\*.*?(?:\*/|\Z)""",
    re.S | re.X,
)
_KIND = {"'": STRING, '"': IDENT, "`": IDENT, "-": COMMENT, "/": COMMENT}
_BRACKET = re.compile(r"[(\[)\]]")
_PAREN = re.compile(r"[()]")
#: a whole literal, identifier or comment, or one bracket of code
_TOKEN_OR_BRACKET = re.compile(_TOKEN.pattern + r"| [(\[)\]]", re.S | re.X)
#: a word of code: a letter or ``_``, then word characters
WORD = re.compile(r"[^\W\d]\w*")
#: what :func:`find_top_level` steps over: a word or one punctuation
#: character
_PIECE = re.compile(WORD.pattern + r"|[^\w\s]")


def tokens(sql: str) -> list[tuple[str, int, int]]:
    """``(kind, start, end)`` pieces that tile ``sql`` in order; kind
    is :data:`CODE`, :data:`STRING`, :data:`IDENT` or :data:`COMMENT`."""
    out: list[tuple[str, int, int]] = []
    pos = 0
    for m in _TOKEN.finditer(sql):
        if m.start() > pos:
            out.append((CODE, pos, m.start()))
        out.append((_KIND[sql[m.start()]], m.start(), m.end()))
        pos = m.end()
    if pos < len(sql):
        out.append((CODE, pos, len(sql)))
    return out


def literal_spans(sql: str) -> list[tuple[int, int]]:
    """``(start, end)`` of each literal and quoted identifier of
    ``sql``."""
    return [(s, e) for kind, s, e in tokens(sql) if kind in (STRING, IDENT)]


def _blank(m: re.Match) -> str:
    text = m.group()
    q = text[0]
    if q in "-/":
        return " " * len(text)
    # a literal or identifier holds only doubled delimiters, so an even
    # count means the closing one is there
    closed = len(text) > 1 and text.count(q) % 2 == 0
    return q + " " * (len(text) - 1 - closed) + q * closed


def mask(sql: str) -> str:
    """``sql`` with the inside of every literal and quoted identifier
    blanked (delimiters kept) and every comment blanked whole; same
    length, same code."""
    return _TOKEN.sub(_blank, sql)


def sub(pattern: re.Pattern, repl, sql: str) -> str:
    """``pattern.sub(repl, sql)`` over code only: ``pattern`` runs on
    :func:`mask`, so it never matches inside a literal, identifier or
    comment. ``repl`` gets that match (its groups read the mask, which
    equals ``sql`` on code) and its result replaces the same span of
    ``sql``."""
    out: list[str] = []
    pos = 0
    for m in pattern.finditer(mask(sql)):
        out.append(sql[pos : m.start()])
        out.append(repl(m))
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def strip_comments(sql: str) -> str:
    """``sql`` without its comments; a ``--`` comment's newline stays.
    (The reference, node.rs:68-77, strips whole ``--`` lines only, so a
    trailing ``-- join x`` would leak into dependency extraction.)"""
    return "".join(sql[s:e] for kind, s, e in tokens(sql) if kind != COMMENT)


def split_statements(sql: str) -> list[str]:
    """The trimmed, non-empty statements of ``sql``, split at every
    ``;`` outside a literal or quoted identifier (the reference's naive
    split, node.rs:127-131, breaks on a ``;`` inside a string). A ``;``
    inside a comment splits too, and a quote inside one opens nothing:
    callers strip comments first."""
    stmts, last = [], 0
    for kind, start, end in tokens(sql):
        if kind in (STRING, IDENT):
            continue
        i = sql.find(";", start, end)
        while i >= 0:
            stmts.append(sql[last:i].strip())
            last = i + 1
            i = sql.find(";", last, end)
    stmts.append(sql[last:].strip())
    return [s for s in stmts if s]


def _nesting(pattern: re.Pattern, text: str, pos: int = 0):
    """``(match, depth)`` for each match of ``pattern`` in ``text``
    from ``pos``, ``depth`` being the bracket depth just after the
    match: ``(``/``[`` open a level, ``)``/``]`` close one, and every
    other match leaves it. The one place brackets are counted."""
    depth = 0
    for m in pattern.finditer(text, pos):
        t = m.group()
        if t in ("(", "["):
            depth += 1
        elif t in (")", "]"):
            depth -= 1
        yield m, depth


def find_top_level(sql: str, words, start: int = 0) -> tuple[int, str | None]:
    """``(index, word)`` of the first of ``words`` (lowercase; a word
    or one punctuation character) in the code of ``sql`` at bracket
    depth 0, scanning from ``start``, whole-word and case-insensitive;
    ``(-1, None)`` when there is none."""
    for m, depth in _nesting(_PIECE, mask(sql), start):
        t = m.group().lower()
        if depth == 0 and t in words:
            return m.start(), t
    return -1, None


def split_top_level(sql: str, sep: str = ",") -> list[str]:
    """``sql`` split on the ``sep`` of code at bracket depth 0; a
    trailing empty piece is dropped, so ``""`` splits to ``[]``."""
    parts: list[str] = []
    last = 0
    pattern = re.compile(_BRACKET.pattern + "|" + re.escape(sep))
    for m, depth in _nesting(pattern, mask(sql)):
        if depth == 0 and m.group() == sep:
            parts.append(sql[last : m.start()])
            last = m.end()
    if last < len(sql):
        parts.append(sql[last:])
    return parts


def group_end(sql: str, i: int) -> int | None:
    """Index just past the bracket that closes the ``(`` or ``[`` at
    ``sql[i]``, or None when it never closes. Lexes from ``i`` only,
    so finding a call's arguments costs their length, not the
    statement's."""
    for m, depth in _nesting(_TOKEN_OR_BRACKET, sql, i):
        if depth == 0 and m.group() in (")", "]"):
            return m.end()
    return None


def paren_groups(sql: str) -> list[tuple[int, int]]:
    """``(open, close)`` indices of the parens of code in ``sql`` that
    pair up, inner pairs first."""
    opens: dict[int, int] = {}
    pairs: list[tuple[int, int]] = []
    for m, depth in _nesting(_PAREN, mask(sql)):
        if m.group() == "(":
            opens[depth] = m.start()
        elif depth + 1 in opens:
            pairs.append((opens.pop(depth + 1), m.start()))
    return pairs


def balanced(sql: str) -> bool:
    """Whether the brackets of code in ``sql`` pair up."""
    depth = 0
    for _m, depth in _nesting(_BRACKET, mask(sql)):
        if depth < 0:
            return False
    return depth == 0


def strip_outer_parens(sql: str) -> str:
    """``sql`` without one pair of outer parens, only when the opening
    paren's match is the last character: ``(A) UNION ALL (B)`` is kept
    whole."""
    if sql.startswith("(") and sql.endswith(")") and group_end(sql, 0) == len(sql):
        return sql[1:-1]
    return sql
