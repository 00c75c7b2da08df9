"""SQL dependency extraction (reference: src/node.rs:211-272).

The reference parses each model with ``sqlparser`` (DuckDB dialect) and
collects table names from top-level FROM/JOIN clauses, one level of
derived subqueries, and CTE bodies — then intersects the result with the
set of known model ids (reference: node.rs:94-98). That final intersect
is the safety net that makes a sloppy extractor safe: anything that is
not a model id (CTE names, aliases, functions, real tables) simply drops
out.

Without sqlglot in the environment we use a conservative scanner with
the same contract: over-collect candidate relation identifiers after
FROM/JOIN keywords (including comma-joined FROM lists and identifiers
inside subqueries/CTE bodies, which are found by their own inner FROMs),
plus the relation a DuckDB ``DESCRIBE``/``SUMMARIZE`` inspects, and rely
on the known-models intersection. The scanner reads the
``lexer.mask`` of the SQL, so keywords and names inside string
literals, quoted identifiers and comments are never seen; a quoted
identifier in relation position (``FROM "my tbl"``) is read back from
the SQL itself. The reference's two unit tests (node.rs:280-294) pass
against this extractor.
"""

from __future__ import annotations

import re

from arnab_spark import lexer

_QUOTED = r'"[^"]+"|`[^`]+`'
#: a relation name on the mask: a qualifier chain whose parts are bare
#: words or quoted identifiers (``main."my tbl"``)
_IDENT_RE = re.compile(
    rf"(?:[A-Za-z_][A-Za-z0-9_$]*|{_QUOTED})(?:\.(?:[A-Za-z0-9_$]+|{_QUOTED}))*"
)
_PART_RE = re.compile(rf"[A-Za-z0-9_$]+|{_QUOTED}")
_FROM_OR_JOIN = re.compile(r"\b(from|join)\b", re.IGNORECASE)
#: DuckDB's inspection statements name a relation too, as a statement
#: (``SUMMARIZE t``) or as a table expression (``FROM (DESCRIBE t)``).
#: Only at a statement or subquery head: elsewhere ``DESC`` is a sort
#: direction.
_INSPECT = re.compile(
    r"(?:^|[(;])\s*(?:describe|desc|summarize)\s+(?:table\s+)?", re.IGNORECASE
)
_CLAUSE_KEYWORDS = {
    "select",
    "where",
    "group",
    "order",
    "limit",
    "offset",
    "having",
    "window",
    "union",
    "intersect",
    "except",
    "on",
    "using",
    "join",
    "inner",
    "left",
    "right",
    "full",
    "cross",
    "natural",
    "lateral",
    "qualify",
    "values",
    "unnest",
    "with",
    "as",
    "asof",
    "semi",
    "anti",
}


def _name(sql: str, m: re.Match) -> str:
    """The identifier ``m`` matched on the mask, read from ``sql``
    with each quoted part unquoted."""
    parts = []
    for p in _PART_RE.finditer(m.string, m.start(), m.end()):
        text = sql[p.start() : p.end()]
        q = text[0]
        parts.append(text[1:-1].replace(q + q, q) if q in "\"`" else text)
    return ".".join(parts)


# Words that cannot BE a relation name in relation position (right after
# FROM/JOIN/comma). Deliberately much smaller than _CLAUSE_KEYWORDS: a
# model named `order` or `window` is legal and must be collected
# (`FROM order` — clause keywords can't legally follow FROM directly),
# while the full set still guards the alias scan below.
_NOT_A_RELATION = {"select", "lateral", "values", "unnest", "with"}


def _read_relation_item(
    sql: str, s: str, i: int, refs: set[str], allow_comma: bool
) -> int:
    """Parse one from-list item at s[i:], ``s`` being ``sql``'s mask:
    either a parenthesized subquery (skipped — its inner FROMs are
    scanned separately) or a relation identifier (collected). Follows
    comma-separated continuations when ``allow_comma`` (FROM lists,
    reference: node.rs:286-294 test)."""
    n = len(s)
    while True:
        while i < n and s[i].isspace():
            i += 1
        if i >= n:
            return i
        if s[i] == "(":
            i = lexer.group_end(sql, i) or n
        else:
            m = _IDENT_RE.match(s, i)
            if not m:
                return i
            name = _name(sql, m)
            if name.lower() in _NOT_A_RELATION:
                return i
            refs.add(name)
            i = m.end()
        # skip an optional alias: [AS] ident (but stop on clause keywords)
        while True:
            save = i
            while i < n and s[i].isspace():
                i += 1
            m = _IDENT_RE.match(s, i)
            if not m:
                i = save
                break
            word = _name(sql, m).lower()
            if word == "as":
                i = m.end()
                continue
            if word in _CLAUSE_KEYWORDS:
                i = save
                return i
            # alias identifier — consume and stop alias scan
            i = m.end()
            break
        # continuation?
        save = i
        while i < n and s[i].isspace():
            i += 1
        if allow_comma and i < n and s[i] == ",":
            i += 1
            continue
        return save


def get_sql_references(sql: str) -> set[str]:
    """All candidate relation names referenced by ``sql``
    (reference: node.rs:211-232 ``get_sql_references``). Over-approximates
    by design; callers intersect with known model ids (node.rs:94-98)."""
    masked = lexer.mask(sql)
    refs: set[str] = set()
    for m in _FROM_OR_JOIN.finditer(masked):
        allow_comma = m.group(1).lower() == "from"
        _read_relation_item(sql, masked, m.end(), refs, allow_comma)
    for m in _INSPECT.finditer(masked):
        _read_relation_item(sql, masked, m.end(), refs, False)
    return refs
