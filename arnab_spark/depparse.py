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
on the known-models intersection. The reference's two unit
tests (node.rs:280-294) pass against this extractor.
"""

from __future__ import annotations

import re

_IDENT_RE = re.compile(r'[A-Za-z_][A-Za-z0-9_.$]*|"[^"]+"')
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


def _strip_strings(sql: str) -> str:
    """Blank out single-quoted string literals (offset-preserving) so
    identifiers inside them are ignored."""
    out = list(sql)
    i, n = 0, len(sql)
    in_str = False
    while i < n:
        if in_str:
            if sql[i] == "'" and i + 1 < n and sql[i + 1] == "'":
                out[i] = out[i + 1] = " "
                i += 2
                continue
            if sql[i] == "'":
                in_str = False
            else:
                out[i] = " "
        elif sql[i] == "'":
            in_str = True
        i += 1
    return "".join(out)


def _skip_parens(s: str, i: int) -> int:
    """Given s[i] == '(', return index just past the matching ')'."""
    depth = 0
    while i < len(s):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return i


# Words that cannot BE a relation name in relation position (right after
# FROM/JOIN/comma). Deliberately much smaller than _CLAUSE_KEYWORDS: a
# model named `order` or `window` is legal and must be collected
# (`FROM order` — clause keywords can't legally follow FROM directly),
# while the full set still guards the alias scan below.
_NOT_A_RELATION = {"select", "lateral", "values", "unnest", "with"}


def _read_relation_item(s: str, i: int, refs: set[str], allow_comma: bool) -> int:
    """Parse one from-list item at s[i:]: either a parenthesized subquery
    (skipped — its inner FROMs are scanned separately) or a relation
    identifier (collected). Follows comma-separated continuations when
    ``allow_comma`` (FROM lists, reference: node.rs:286-294 test)."""
    n = len(s)
    while True:
        while i < n and s[i].isspace():
            i += 1
        if i >= n:
            return i
        if s[i] == "(":
            i = _skip_parens(s, i)
        else:
            m = _IDENT_RE.match(s, i)
            if not m:
                return i
            name = m.group(0).strip('"')
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
            word = m.group(0).strip('"').lower()
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
    cleaned = _strip_strings(sql)
    refs: set[str] = set()
    for m in _FROM_OR_JOIN.finditer(cleaned):
        allow_comma = m.group(1).lower() == "from"
        _read_relation_item(cleaned, m.end(), refs, allow_comma)
    for m in _INSPECT.finditer(cleaned):
        _read_relation_item(cleaned, m.end(), refs, False)
    return refs
