"""C-style datetime translation + constant folding, split out of
:mod:`arnab_spark.dialect` (round 12, maintainability split): the
strftime/strptime directive maps and expression compilers (literal
Java-pattern translation where an exact twin exists, SQL-expression
compilation for the directives with none — %U/%W/%V/%G/%u/%w/…), the
conservative constant-expression evaluator (``_FoldEval``) that folds
CASE/concat-built format strings the way DuckDB's binder does, and the
call builders :func:`_strf_rewrite` and :func:`_strp_rewrite`, which
:mod:`arnab_spark.dialect` lists in its ``_ARG_CALL_REWRITES`` table.
"""

from __future__ import annotations

import re

from arnab_spark import lexer
from arnab_spark._dialect_base import _lit_match

#: C-style (strftime) directive → Spark/Java datetime pattern. Only
#: directives with an exact Java twin are mapped; any other % code makes
#: the whole call pass through untouched → loud UNRESOLVED_ROUTINE.
_STRF_MAP = {
    "Y": "yyyy",
    "y": "yy",
    "m": "MM",
    "d": "dd",
    "H": "HH",
    "I": "hh",
    "M": "mm",
    "S": "ss",
    "f": "SSSSSS",
    "g": "SSS",
    "p": "a",
    "j": "DDD",
    "a": "EEE",
    "A": "EEEE",
    "b": "MMM",
    "B": "MMMM",
    # %-X no-padding variants: Java's single pattern letter means
    # minimum-width (no zero pad) — verified equal output
    "-d": "d",
    "-m": "M",
    "-H": "H",
    "-I": "h",
    "-M": "m",
    "-S": "s",
    "-j": "D",
    # composite ISO directives (round 9, probed on the pinned DuckDB:
    # %c = ISO datetime, %x = ISO date, %X = ISO time — fixed layouts,
    # so they are plain multi-letter Java patterns)
    "c": "yyyy-MM-dd HH:mm:ss",
    "x": "yyyy-MM-dd",
    "X": "HH:mm:ss",
}

#: Directives with NO Java pattern twin, compiled to plain Spark SQL
#: expressions instead (round 9 — closes the unmapped-literal-directive
#: gap; every formula differentially verified against the pinned DuckDB
#: incl. the ISO year/week boundaries 2000-01-02, 2018-12-31,
#: 2021-01-01). DuckDB zero-pads %V/%U/%W to 2 and %G to 4.
_STRF_EXPR = {
    # ISO week number — Spark's weekofyear IS ISO 8601
    "V": lambda e: f"lpad(CAST(weekofyear({e}) AS STRING), 2, '0')",
    # ISO week-numbering year
    "G": lambda e: f"lpad(CAST(extract(YEAROFWEEK FROM {e}) AS STRING), 4, '0')",
    # weekday numbers spelled through DOW_ISO (Mon=1..Sun=7) — the same
    # rescan-immune spelling the dayofweek/weekday call rewrites use
    # (a plain dayofweek()/weekday() here would be re-matched by those
    # DuckDB-semantics rewrites and double-shifted)
    "w": lambda e: f"CAST(extract(DOW_ISO FROM {e}) % 7 AS STRING)",
    "u": lambda e: f"CAST(extract(DOW_ISO FROM {e}) AS STRING)",
    # week of year, first Sunday starts week 01, days before it week 00
    "U": lambda e: (
        f"lpad(CAST(CAST(floor((dayofyear({e}) - 1 + 7 - "
        f"(extract(DOW_ISO FROM {e}) % 7)) / 7) AS INT) AS STRING), 2, '0')"
    ),
    # week of year, Monday-based
    "W": lambda e: (
        f"lpad(CAST(CAST(floor((dayofyear({e}) - 1 + 7 - "
        f"(extract(DOW_ISO FROM {e}) - 1)) / 7) AS INT) AS STRING), 2, '0')"
    ),
    # 2-digit year WITHOUT zero padding (no Java twin: 'y' pads to the
    # full year, 'yy' zero-pads to 2)
    "-y": lambda e: f"CAST(year({e}) % 100 AS STRING)",
    # nanoseconds: timestamps are µs-precision, so the last 3 digits
    # are always 0 (probed: DuckDB prints 123456000)
    "n": lambda e: f"concat(date_format({e}, 'SSSSSS'), '000')",
}


def _c_format_to_sql_expr(fmt: str, arg: str) -> str | None:
    """Compile a C-style strftime format whose directives do NOT all
    have Java twins into a pure-JVM Spark SQL expression: contiguous
    Java-mappable runs become ``date_format`` chunks, the special
    directives above become scalar expressions, and the chunks
    ``concat`` together. Literal text rides inside the date_format
    chunks, so a NULL input propagates to a NULL result exactly like
    DuckDB (concat/date_format are both NULL-strict). Returns None when
    any directive maps to neither table (loud)."""
    segments: list[tuple[str, str]] = []
    buf: list[str] = []
    i, n = 0, len(fmt)
    while i < n:
        key = None
        if fmt[i] == "%" and i + 1 < n:
            if fmt[i + 1] == "-" and i + 2 < n and "-" + fmt[i + 2] in _STRF_EXPR:
                key, step = "-" + fmt[i + 2], 3
            elif fmt[i + 1] in _STRF_EXPR:
                key, step = fmt[i + 1], 2
        if key is not None:
            if buf:
                segments.append(("fmt", "".join(buf)))
                buf = []
            segments.append(("expr", _STRF_EXPR[key](arg)))
            i += step
            continue
        if fmt[i] == "%" and i + 1 < n:
            # copy the whole directive so a later '-x' never splits
            take = 3 if fmt[i + 1] == "-" and i + 2 < n else 2
            buf.append(fmt[i:i + take])
            i += take
            continue
        buf.append(fmt[i])
        i += 1
    if buf:
        segments.append(("fmt", "".join(buf)))
    if not any(kind == "expr" for kind, _ in segments):
        return None  # nothing special: the single-pattern path owns it
    parts: list[str] = []
    for kind, text in segments:
        if kind == "expr":
            parts.append(text)
            continue
        java = _c_format_to_java(text)
        if java is None:
            return None
        if java == "":
            continue
        parts.append(
            f"date_format({arg}, '{java.replace(chr(39), chr(39) * 2)}')"
        )
    if len(parts) == 1:
        return parts[0]
    return f"concat({', '.join(parts)})"


def _c_format_to_java(fmt: str) -> str | None:
    """Translate a C-style strftime format to a Java datetime pattern,
    quoting literal runs (Java treats bare letters as pattern chars).
    Returns None when any directive has no exact Java equivalent."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if lit:
            run = "".join(lit)
            if any(c.isalpha() or c == "'" for c in run):
                out.append("'" + run.replace("'", "''") + "'")
            else:
                out.append(run)
            lit.clear()

    i, n = 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= n:
                return None
            code = fmt[i + 1]
            if code == "-" and i + 2 < n and ("-" + fmt[i + 2]) in _STRF_MAP:
                flush()
                out.append(_STRF_MAP["-" + fmt[i + 2]])
                i += 3
                continue
            if code == "%":
                lit.append("%")
            elif code in _STRF_MAP:
                flush()
                out.append(_STRF_MAP[code])
            else:
                return None
            i += 2
            continue
        lit.append(ch)
        i += 1
    flush()
    return "".join(out)


def _fold_literal_concat(s: str) -> str | None:
    """Constant-fold a ``'a' || 'b' || …`` chain of plain string
    literals into one literal value (round 9). DuckDB binds strftime/
    strptime formats as CONSTANTS — any constant-foldable expression
    works there (probed: ``strftime(ts, '%Y' || '/%m')`` runs; a
    column-sourced format is an InvalidInputException in DuckDB itself,
    so staying loud on those IS parity). Folding literal chains (the
    shape macro composition produces) closes the gap the shim can
    prove; general constant expressions stay loud. Returns the folded
    string value or None."""
    parts = lexer.split_top_level(s, "||")
    if len(parts) < 2:
        return None
    out: list[str] = []
    for p in parts:
        m = _lit_match(p)
        if not m:
            return None
        out.append(m.group(1))
    return "".join(out)


class _ConstNull:
    """Sentinel: a format expression that folds to SQL NULL (distinct
    from 'not foldable')."""


_CONST_NULL = _ConstNull()


class _NotConst(Exception):
    """Raised when the mini-evaluator meets anything outside the
    literal-only grammar — the caller then stays loud, which is parity
    for column-sourced formats (DuckDB errors on those itself)."""


_FOLD_TOKEN = re.compile(
    r"\s*(?:('(?:[^']|'')*')"            # string literal w/ '' escape
    r"|(\d+(?:\.\d+)?(?![\w.]))"          # numeric literal
    r"|([A-Za-z_]\w*)"                    # word (keyword or identifier)
    r"|(\|\||<>|!=|<=|>=|==|[=<>()])"     # operator / paren
    r")"
)

_FOLD_KEYWORDS = frozenset(
    {"case", "when", "then", "else", "end", "and", "or", "not",
     "null", "true", "false", "is"}
)


def _fold_tokenize(s: str) -> list[tuple[str, object]]:
    toks: list[tuple[str, object]] = []
    i, n = 0, len(s)
    while i < n:
        m = _FOLD_TOKEN.match(s, i)
        if not m or m.end() == i:
            if s[i:].strip():
                raise _NotConst()
            break
        i = m.end()
        if m.group(1) is not None:
            toks.append(("str", m.group(1)[1:-1].replace("''", "'")))
        elif m.group(2) is not None:
            t = m.group(2)
            toks.append(("num", float(t) if "." in t else int(t)))
        elif m.group(3) is not None:
            w = m.group(3).lower()
            if w not in _FOLD_KEYWORDS:
                raise _NotConst()  # identifier / function name: loud
            toks.append(("kw", w))
        else:
            toks.append(("op", m.group(4)))
    return toks


class _FoldEval:
    """Recursive-descent evaluator for CONSTANT scalar expressions built
    from string/numeric/bool/NULL literals, ``||``, comparisons,
    NOT/AND/OR, parens and CASE (searched and operand forms) — the
    shape templating/macro expansion produces for strftime/strptime
    formats. DuckDB's binder constant-folds ANY constant expression
    there (probed: ``upper('%y')`` and ``length('ab') = 2`` conditions
    fold); this evaluator deliberately excludes function calls — those
    stay loud (documented residue) rather than risk replicating DuckDB
    function semantics blind. Three-valued logic mirrors SQL exactly
    (probed: ``1 = NULL`` → NULL, ``NULL AND false`` → false,
    ``NULL OR true`` → true, ``'a' || NULL`` → NULL, a NULL CASE
    condition is not-matched)."""

    def __init__(self, toks: list[tuple[str, object]]):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def take(self):
        t = self.peek()
        self.i += 1
        return t

    def expect_kw(self, w: str):
        k, v = self.take()
        if k != "kw" or v != w:
            raise _NotConst()

    def parse(self):
        v = self.expr()
        if self.i != len(self.toks):
            raise _NotConst()
        return v

    @staticmethod
    def _boolish(x):
        if x is not None and not isinstance(x, bool):
            raise _NotConst()  # non-bool AND/OR/NOT operand: DuckDB casts
        return x

    def expr(self):
        v = self.and_expr()
        while self.peek() == ("kw", "or"):
            self.take()
            v, r = self._boolish(v), self._boolish(self.and_expr())
            if v is True or r is True:
                v = True
            elif v is None or r is None:
                v = None
            else:
                v = v or r
        return v

    def and_expr(self):
        v = self.not_expr()
        while self.peek() == ("kw", "and"):
            self.take()
            v, r = self._boolish(v), self._boolish(self.not_expr())
            if v is False or r is False:
                v = False
            elif v is None or r is None:
                v = None
            else:
                v = v and r
        return v

    def not_expr(self):
        if self.peek() == ("kw", "not"):
            self.take()
            v = self._boolish(self.not_expr())
            return None if v is None else not v
        return self.cmp()

    def cmp(self):
        v = self.concat()
        k, op = self.peek()
        if k == "op" and op in ("=", "==", "<>", "!=", "<", ">", "<=", ">="):
            self.take()
            r = self.concat()
            if v is None or r is None:
                return None
            if isinstance(v, bool) != isinstance(r, bool) or (
                isinstance(v, str) != isinstance(r, str)
            ):
                raise _NotConst()  # mixed-type compare: DuckDB casts
            if op in ("=", "=="):
                return v == r
            if op in ("<>", "!="):
                return v != r
            return {"<": v < r, ">": v > r, "<=": v <= r, ">=": v >= r}[op]
        if k == "kw" and op == "is":
            self.take()
            neg = False
            if self.peek() == ("kw", "not"):
                self.take()
                neg = True
            self.expect_kw("null")
            return (v is not None) if neg else (v is None)
        return v

    def concat(self):
        v = self.primary()
        while self.peek() == ("op", "||"):
            self.take()
            r = self.primary()
            if v is None or r is None:
                v = None
            elif isinstance(v, str) and isinstance(r, str):
                v = v + r
            else:
                raise _NotConst()  # non-string ||: DuckDB casts; loud
        return v

    def primary(self):
        k, v = self.take()
        if k == "str" or k == "num":
            return v
        if k == "op" and v == "(":
            inner = self.expr()
            if self.take() != ("op", ")"):
                raise _NotConst()
            return inner
        if k == "kw":
            if v == "null":
                return None
            if v == "true":
                return True
            if v == "false":
                return False
            if v == "case":
                return self.case_expr()
        raise _NotConst()

    def case_expr(self):
        operand = _NOT_SET = object()
        if self.peek() != ("kw", "when"):
            operand = self.expr()
        result = None
        matched = False
        while self.peek() == ("kw", "when"):
            self.take()
            cond = self.expr()
            self.expect_kw("then")
            val = self.expr()
            if not matched:
                if operand is not _NOT_SET:
                    if (
                        operand is not None
                        and cond is not None
                        and (
                            isinstance(operand, bool) != isinstance(cond, bool)
                            or isinstance(operand, str) != isinstance(cond, str)
                        )
                    ):
                        raise _NotConst()  # mixed-type operand compare
                    hit = (
                        operand is not None
                        and cond is not None
                        and operand == cond
                    )
                else:
                    hit = self._boolish(cond) is True
                if hit:
                    result, matched = val, True
        if self.peek() == ("kw", "else"):
            self.take()
            val = self.expr()
            if not matched:
                result, matched = val, True
        self.expect_kw("end")
        return result


def _fold_const_expr(arg: str):
    """Fold an all-literal scalar expression to its string value,
    :data:`_CONST_NULL` when it folds to SQL NULL, or ``None`` when it
    is not a foldable constant (identifiers, function calls, mixed-type
    casts — loud IS parity for column-sourced formats; function calls
    are the documented residue)."""
    try:
        v = _FoldEval(_fold_tokenize(arg)).parse()
    except _NotConst:
        return None
    if v is None:
        return _CONST_NULL
    return v if isinstance(v, str) else None


def _strf_rewrite(spark_fn: str):
    """strftime with a CONSTANT format: plain string literals and
    folded literal ``||`` chains rewrite; every directive must map to a
    Java pattern or to the pure-SQL expression table
    (``_c_format_to_sql_expr``). Column-sourced formats are an
    InvalidInputException in DuckDB itself ("strftime format must be a
    constant", probed) — leaving them loud IS parity."""

    def build(a: list[str]) -> str | None:
        fmt = _const_format(a[1])
        if fmt is None:
            return None
        if fmt is _CONST_NULL:
            # probed: DuckDB strftime(ts, NULL) is NULL VARCHAR
            return "CAST(NULL AS STRING)"
        java = _c_format_to_java(fmt)
        if java is not None:
            # the Java pattern may contain single quotes (literal-run
            # escaping) — double them for the SQL string literal
            return f"{spark_fn}({a[0]}, '{java.replace(chr(39), chr(39) * 2)}')"
        if spark_fn == "date_format":
            return _c_format_to_sql_expr(fmt, a[0])
        return None

    return build


def _const_format(arg: str):
    """Extract a constant C-format string from an argument expression:
    a plain literal, a foldable literal ``||`` chain, or (round 11) any
    all-literal scalar expression — CASE-built formats, boolean-guarded
    chains — folded by :class:`_FoldEval` exactly as DuckDB's binder
    constant-folds them. Returns the string, :data:`_CONST_NULL` when
    the constant folds to SQL NULL, or None when not a constant
    (column-sourced formats error in DuckDB itself — loud IS parity)."""
    m = _lit_match(arg)
    if m:
        return m.group(1)
    folded = _fold_literal_concat(arg)
    if folded is not None:
        return folded
    return _fold_const_expr(arg)


# ---------------------------------------------------------------------
# strptime PARSE-side compiler (round 10). The format side (strftime)
# maps to Java patterns / JVM expressions above; the parse side CANNOT
# share that path safely: DuckDB's strptime accepts 1-2 digit numeric
# fields where Java's paired pattern letters demand zero-padding
# ('2021-3-5' parses in DuckDB, fails Java 'yyyy-MM-dd'), defaults the
# missing date to 1900-01-01 where Java defaults to 1970, parses %g as
# integer MILLIseconds where Java 'SSS' is a fraction, and IGNORES %j
# order-dependently (probed: '%j %Y' uses the day-of-year, '%Y %j'
# drops it). So every constant-format strptime/try_strptime compiles
# here to a pure-JVM expression: ONE anchored regex derived from the
# format extracts each directive's digits (regexp_extract), range
# checks mirror DuckDB's field validation, and the date is rebuilt
# arithmetically — including the ISO (%G/%V/%u), Sunday-week (%U/%w)
# and Monday-week (%W/%w) systems that have no Java parse twin at all.
# Every branch of the semantics below was probed on the pinned DuckDB
# (reference delegates strptime through node.rs:176):
#   * leading/trailing input whitespace tolerated; format whitespace
#     matches one-or-more input whitespace chars
#   * %-X no-padding variants parse exactly like %X (both are \d{1,2})
#   * a month/day field present => week-number fields are validated
#     but IGNORED ('%Y %U %d' uses the day, month defaults to 1)
#   * %V pairs with %G only ('%Y %V' validates-and-ignores %V); bare
#     '%V %u' is ISO with the default year 1900
#   * %u is used in ISO mode only, %w in %U/%W modes only; each is
#     range-validated even where ignored
#   * %U with %W, or %G with %U/%W/%Y: DuckDB errors — stays loud here
#   * duplicate same-role directives: LAST wins ('%Y %y' = the %y)
#   * %I without %p is the hour as written (12 stays 12); with %p,
#     12am=0 / 12pm=12; %p without %I errors in DuckDB — loud
#   * fractions: %f = integer microseconds (1-6 digits), %g = integer
#     milliseconds (1-3), %n = integer nanoseconds (1-9, rounded
#     half-up to micros); DuckDB defaults everything missing to
#     1900-01-01 00:00:00
#   * %j (round 11): DuckDB applies it POSITION-dependently — recorded
#     only when no numeric %Y/%y/%m/%d parsed yet, cleared by a later
#     %m/%d, kept across a later year (converted leap-aware with the
#     final year), conflicting with a second %j at runtime, ignoring
#     month NAMES in either order, range-validated even where skipped,
#     erroring beside any week-system field (stays loud there) — all
#     probed, compiled in the token loop below
#   * %z (round 15, r14 verdict ask #5 — every rule probed): matches
#     EXACTLY sign + HH / HHMM / HH:MM ('+5', '+053', '+05301', a
#     missing sign: parse errors); NO range validation — minutes >= 60
#     roll over (+0560 ≡ +06:00) and +9999 is 99h99m; the instant is
#     the parsed wall time MINUS the offset, composing with every date
#     system (%j, %G/%V/%u, %U/%W, %I/%p, fractions — all probed);
#     duplicate %z does NOT error, LAST wins ('+0100 +0200' applies
#     -2h). DuckDB's result TYPE is TIMESTAMP WITH TIME ZONE; both
#     engines run UTC-pinned sessions here, where a TIMESTAMPTZ and a
#     TIMESTAMP holding the UTC instant render and compare
#     identically — the compiled expression yields the latter
#     (documented divergence: downstream typeof()).
#   * %Z stays loud: probed — DuckDB resolves ICU zone NAMES
#     ('America/New_York' DST-aware, 'PST' via ICU's abbreviation
#     table) but SILENTLY IGNORES unknown tokens ('XYZ' and '+0530'
#     parse as offset 0). The JVM's zone table differs from ICU's on
#     abbreviations, and "unknown -> ignored" needs the resolver at
#     runtime over data-dependent names — not faithfully expressible,
#     so abbreviation ambiguity stays loud.
# Failure parity: strptime raises on a non-matching or out-of-range
# input (raise_error), try_strptime yields NULL; a NULL input is NULL
# through both. Invalid calendar dates (Feb 30) are rejected by an
# explicit last-day check so the try_ variant stays NULL-not-error.

_STRP_NUM = {
    # directive -> (regex snippet [1 capture], role, lo, hi)
    "j": (r"(\d{1,3})", "yearday", 1, 366),
    "Y": (r"(\d{1,4})", "year", None, None),
    "y": (r"(\d{1,2})", "year2", None, None),
    "m": (r"(\d{1,2})", "month", 1, 12),
    "d": (r"(\d{1,2})", "day", 1, 31),
    "H": (r"(\d{1,2})", "hour24", 0, 23),
    "I": (r"(\d{1,2})", "hour12", 1, 12),
    "M": (r"(\d{1,2})", "minute", 0, 59),
    "S": (r"(\d{1,2})", "second", 0, 59),
    "f": (r"(\d{1,6})", "micros", None, None),
    "g": (r"(\d{1,3})", "millis", None, None),
    "n": (r"(\d{1,9})", "nanos", None, None),
    "G": (r"(\d{1,4})", "isoyear", None, None),
    "V": (r"(\d{1,2})", "isoweek", 1, 53),
    "U": (r"(\d{1,2})", "sunweek", 0, 53),
    "W": (r"(\d{1,2})", "monweek", 0, 53),
    "u": (r"(\d)", "isodow", 1, 7),
    "w": (r"(\d)", "sundow", 0, 6),
}
_STRP_MONTHS = "jan feb mar apr may jun jul aug sep oct nov dec".split()
_STRP_MONTHS_FULL = (
    "january february march april may june july august september "
    "october november december"
).split()
_STRP_DAYS = "mon tue wed thu fri sat sun".split()
_STRP_DAYS_FULL = (
    "monday tuesday wednesday thursday friday saturday sunday"
).split()
_STRP_NAME = {
    # directive -> (regex snippet [1 capture, case-insensitive], role)
    # abbreviated vs full names DON'T cross-match (probed: 'Jan' fails
    # %B, 'Mon' fails %A) — each alternation lists only its own forms
    "p": (r"((?i:[ap]m))", "ampm"),
    "b": (r"((?i:%s))" % "|".join(_STRP_MONTHS), "month_name"),
    "B": (r"((?i:%s))" % "|".join(_STRP_MONTHS_FULL), "month_name_full"),
    "a": (r"((?i:%s))" % "|".join(_STRP_DAYS), "dayname"),
    "A": (r"((?i:%s))" % "|".join(_STRP_DAYS_FULL), "dayname"),
}
#: composite directives expand to their probed fixed sub-formats
_STRP_COMPOSITE = {"c": "%Y-%m-%d %H:%M:%S", "x": "%Y-%m-%d", "X": "%H:%M:%S"}


def _strp_tokens(fmt: str) -> list[tuple] | None:
    """Tokenize a C parse format: ('lit', text) / ('ws',) /
    ('num'|'name', directive-key). None on any unsupported directive."""
    toks: list[tuple] = []
    i, n = 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= n:
                return None
            code = fmt[i + 1]
            if code == "%":
                toks.append(("lit", "%"))
                i += 2
                continue
            if code == "-" and i + 2 < n and fmt[i + 2] in "dmHIMSyj":
                # no-padding variants parse like the padded ones — only
                # DuckDB's documented set (probed: %-V / %-Y are BIND
                # errors there, so other '-' combos must stay loud)
                code, i = fmt[i + 2], i + 1
            if code in _STRP_COMPOSITE:
                sub = _strp_tokens(_STRP_COMPOSITE[code])
                if sub is None:
                    return None
                toks.extend(sub)
            elif code in _STRP_NUM:
                toks.append(("num", code))
            elif code in _STRP_NAME:
                toks.append(("name", code))
            elif code == "z":
                toks.append(("tz",))
            else:
                return None  # %Z / unknown: loud (see %Z probe note)
            i += 2
            continue
        if ch in " \t\n\r\f\v":
            if not toks or toks[-1] != ("ws",):
                toks.append(("ws",))
            i += 1
            continue
        if toks and toks[-1][0] == "lit":
            toks[-1] = ("lit", toks[-1][1] + ch)
        else:
            toks.append(("lit", ch))
        i += 1
    return toks


def _sql_str(s: str) -> str:
    """Render a Python string as a Spark SQL string literal (the session
    keeps escapedStringLiterals at its default, so backslashes must be
    doubled alongside quote-doubling)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _strp_name_pos(names: list[str], val: str) -> str:
    """1-based month number from a lowercased captured name."""
    arr = ", ".join(f"'{m}'" for m in names)
    return f"CAST(array_position(array({arr}), {val}) AS INT)"


def _c_parse_to_sql_expr(fmt: str, arg: str, fail_sql: str) -> str | None:
    """Compile ``strptime(arg, '<fmt>')`` to a Spark SQL expression per
    the probed DuckDB semantics documented above. ``fail_sql`` is the
    expression for a non-matching / out-of-range input (raise_error for
    strptime, a typed NULL for try_strptime). Returns None when the
    format contains a directive or combination with no proven mapping
    (the call then stays loud)."""
    toks = _strp_tokens(fmt)
    if toks is None or not toks:
        return None  # empty format errors in DuckDB's binder: loud
    if "__RX__" in fmt or "__RX__" in arg:
        return None  # would collide with the regex splice marker
    arg = f"({arg})"
    rx_parts: list[str] = [r"^\s*"]
    conds: list[str] = []  # ordered: each becomes its own WHEN branch
    vals: dict[str, str] = {}  # role -> value SQL (LAST occurrence wins)
    roles_seen: set[str] = set()
    gi = 0
    # %j is POSITION-dependent in DuckDB (every rule probed on the
    # embedded engine): it records a pending day-of-year ONLY when no
    # numeric %Y/%y/%m/%d has been parsed yet; a numeric year AFTER it
    # keeps the pending value (converted leap-aware with the FINAL
    # year — '060 2020','%j %Y' = 2020-02-29), a %m or %d AFTER it
    # CLEARS it and applies normally ('%j %m %Y' uses the month), and
    # a second %j while one is pending is a runtime parse error even
    # on matching input ('%j %j' errors, '%Y %j %j' does not — both
    # skipped). Month NAMES (%b/%B) neither block nor clear: a pending
    # %j wins over them in either order ('100 Feb 2020','%j %b %Y' =
    # 2020-04-09). Skipped occurrences are still range-validated
    # ('2021 000','%Y %j' errors; try_ yields NULL).
    yearday_pending = False
    ymd_seen = False  # numeric year/month/day parsed so far
    always_fail = False  # pending-%j conflict: every matching input fails

    def ex_int(idx: int) -> str:
        return (
            f"CAST(regexp_extract({arg}, __RX__, {idx}) AS INT)"
        )

    def ex_str(idx: int) -> str:
        return f"lower(regexp_extract({arg}, __RX__, {idx}))"

    for tok in toks:
        if tok[0] == "lit":
            rx_parts.append(re.escape(tok[1]))
            continue
        if tok[0] == "ws":
            rx_parts.append(r"\s+")
            continue
        if tok[0] == "tz":
            # %z: sign + HH / HHMM / HH:MM exactly (probed shapes
            # above); NO range check — minutes roll over; duplicates
            # last-win via plain vals overwrite. Offset in seconds,
            # applied to the final instant below.
            gi += 1
            rx_parts.append(r"([+-]\d{2}(?::?\d{2})?)")
            s = f"regexp_extract({arg}, __RX__, {gi})"
            hh = f"CAST(substring({s}, 2, 2) AS BIGINT)"
            mm = (
                f"CAST(coalesce(nullif(replace(substring({s}, 4), "
                f"':', ''), ''), '0') AS BIGINT)"
            )
            sign = f"(CASE WHEN substring({s}, 1, 1) = '-' THEN -1 ELSE 1 END)"
            vals["tzoff"] = f"({sign} * ({hh} * 3600 + {mm} * 60))"
            roles_seen.add("tzoff")
            continue
        kind, code = tok
        gi += 1
        if kind == "num":
            rx, role, lo, hi = _STRP_NUM[code]
            rx_parts.append(rx)
            v = ex_int(gi)
            if lo is not None:
                conds.append(f"{v} BETWEEN {lo} AND {hi}")
            if code == "j":
                # see the position-dependence comment above the loop
                if yearday_pending:
                    always_fail = True
                elif not ymd_seen:
                    yearday_pending = True
                    roles_seen.add(role)
                    vals[role] = v
                continue  # skipped %j: range-validated only
            if code in ("Y", "y"):
                ymd_seen = True
            elif code in ("m", "d"):
                ymd_seen = True
                yearday_pending = False
                roles_seen.discard("yearday")
                vals.pop("yearday", None)
            roles_seen.add(role)
            vals[role] = v
        else:
            rx, role = _STRP_NAME[code]
            rx_parts.append(rx)
            roles_seen.add(role)
            if role == "month_name":
                vals[role] = _strp_name_pos(_STRP_MONTHS, ex_str(gi))
            elif role == "month_name_full":
                vals[role] = _strp_name_pos(_STRP_MONTHS_FULL, ex_str(gi))
            elif role == "ampm":
                vals[role] = ex_str(gi)
            # dayname: validated by the regex alternation, never used
    rx_parts.append(r"\s*$")
    rx_lit = _sql_str("".join(rx_parts))

    # ---- role reconciliation (all combination rules probed) ----
    has_j = any(t == ("num", "j") for t in toks)
    if has_j and roles_seen & {
        "isoyear", "isoweek", "sunweek", "monweek", "isodow", "sundow",
    }:
        return None  # %j beside ANY week-system field errors in DuckDB
    if always_fail:
        conds.append("1 = 0")  # pending-%j conflict: matching input fails
    if {"sunweek", "monweek"} <= roles_seen:
        return None  # DuckDB errors on %U+%W
    if "isoyear" in roles_seen and roles_seen & {
        "sunweek", "monweek", "year", "year2",
    }:
        return None  # %G beside %U/%W errors; %G beside %Y unprobed
    if "ampm" in roles_seen and "hour12" not in roles_seen:
        return None  # %p needs %I (DuckDB errors on %H %p)
    if len(roles_seen & {"micros", "millis", "nanos"}) > 1:
        return None  # stacked fraction fields: unprobed
    if len(roles_seen & {"month", "month_name", "month_name_full"}) > 1:
        return None  # %m beside %b/%B: positional last-wins unprobed

    year = vals.get("year")
    if "year2" in roles_seen and (
        "year" not in roles_seen or _strp_last_year_role(toks) == "year2"
    ):
        y2 = vals["year2"]
        year = f"(CASE WHEN {y2} < 69 THEN 2000 + {y2} ELSE 1900 + {y2} END)"
    year = year or "1900"
    month = vals.get("month") or vals.get("month_name") or vals.get(
        "month_name_full"
    )
    has_md = bool(month) or "day" in roles_seen

    if "yearday" in roles_seen:
        # pending day-of-year wins: Jan 1 of the FINAL year + (j - 1),
        # leap-aware and overflowing into the next year exactly like
        # DuckDB ('366 2021' = 2022-01-01); a %b/%B name may be present
        # but is validated-and-ignored (probed)
        date_sql = f"date_add(make_date({year}, 1, 1), {vals['yearday']} - 1)"
    elif has_md:
        m_sql = month or "1"
        d_sql = vals.get("day", "1")
        if "day" in roles_seen:
            # explicit last-day check instead of letting make_date blow
            # up under ANSI: keeps try_strptime NULL-not-error on Feb 30
            conds.append(
                f"{d_sql} <= extract(DAY FROM "
                f"last_day(make_date({year}, {m_sql}, 1)))"
            )
        date_sql = f"make_date({year}, {m_sql}, {d_sql})"
    elif "isoyear" in roles_seen or (
        "isoweek" in roles_seen and not roles_seen & {"year", "year2"}
    ):
        g = vals.get("isoyear", "1900")
        v = vals.get("isoweek", "1")
        u = vals.get("isodow", "1")
        anchor = f"make_date({g}, 1, 4)"  # Jan 4 is always in ISO week 1
        wk1 = f"date_sub({anchor}, extract(DOW_ISO FROM {anchor}) - 1)"
        date_sql = f"date_add({wk1}, ({v} - 1) * 7 + ({u} - 1))"
    elif "sunweek" in roles_seen or "monweek" in roles_seen:
        jan1 = f"make_date({year}, 1, 1)"
        if "sunweek" in roles_seen:
            wk = vals["sunweek"]
            off = vals.get("sundow", "0")
            wk1 = f"date_add({jan1}, (7 - extract(DOW_ISO FROM {jan1})) % 7)"
        else:
            wk = vals["monweek"]
            w = vals.get("sundow")
            off = f"(({w} + 6) % 7)" if w else "0"
            wk1 = f"date_add({jan1}, (8 - extract(DOW_ISO FROM {jan1})) % 7)"
        date_sql = f"date_add({wk1}, ({wk} - 1) * 7 + {off})"
    else:
        date_sql = f"make_date({year}, 1, 1)"

    # ---- time of day ----
    if "hour12" in roles_seen:
        h = vals["hour12"]
        if "ampm" in roles_seen:
            hour = (
                f"(({h}) % 12 + CASE WHEN {vals['ampm']} = 'pm' "
                f"THEN 12 ELSE 0 END)"
            )
        else:
            hour = h  # probed: %I without %p keeps the hour as written
    else:
        hour = vals.get("hour24", "0")
    minute = vals.get("minute", "0")
    second = vals.get("second", "0")
    if "micros" in roles_seen:
        frac = vals["micros"]
    elif "millis" in roles_seen:
        frac = f"({vals['millis']} * 1000)"
    elif "nanos" in roles_seen:
        # DuckDB rounds nanoseconds half-up to the µs (probed both sides
        # of the .5 boundary)
        frac = f"CAST(floor(({vals['nanos']} + 500) / 1000) AS INT)"
    else:
        frac = None

    ts = f"CAST({date_sql} AS TIMESTAMP)"
    time_terms = []
    if hour != "0":
        time_terms.append(f"CAST({hour} AS BIGINT) * 3600000000")
    if minute != "0":
        time_terms.append(f"CAST({minute} AS BIGINT) * 60000000")
    if second != "0":
        time_terms.append(f"CAST({second} AS BIGINT) * 1000000")
    if frac is not None:
        time_terms.append(f"CAST({frac} AS BIGINT)")
    if time_terms:
        ts = f"timestampadd(MICROSECOND, {' + '.join(time_terms)}, {ts})"
    if "tzoff" in roles_seen:
        # instant = wall time minus the offset (probed: '+0530 10:00'
        # -> 04:30 UTC); composes after every date-system branch
        ts = f"timestampadd(SECOND, -({vals['tzoff']}), {ts})"

    branches = [
        f"WHEN {arg} IS NULL THEN CAST(NULL AS TIMESTAMP)",
        f"WHEN NOT ({arg} RLIKE __RX__) THEN {fail_sql}",
    ]
    # each range/validity check is its OWN branch: within a single AND
    # Spark may evaluate the calendar check before the month-range one
    # and error inside make_date instead of failing cleanly
    branches += [f"WHEN NOT ({c}) THEN {fail_sql}" for c in conds]
    branches.append(f"ELSE {ts} END")
    out = "CASE " + " ".join(branches)
    return out.replace("__RX__", rx_lit)


def _strp_last_year_role(toks: list[tuple]) -> str:
    """Which of %Y/%y appears LAST in the format (duplicates last-win,
    probed: strptime('2021 22', '%Y %y') = 2022)."""
    last = "year"
    for kind, code in ((t[0], t[1]) for t in toks if len(t) == 2):
        if kind == "num" and code == "Y":
            last = "year"
        elif kind == "num" and code == "y":
            last = "year2"
    return last


def _strp_rewrite(try_variant: bool):
    def build(a: list[str]) -> str | None:
        fmt = _const_format(a[1])
        if fmt is None:
            return None
        if fmt is _CONST_NULL:
            # probed: strptime AND try_strptime with NULL format are
            # NULL TIMESTAMP in DuckDB (no error)
            return "CAST(NULL AS TIMESTAMP)"
        fail = (
            "CAST(NULL AS TIMESTAMP)"
            if try_variant
            else "raise_error("
            + _sql_str(
                f"strptime: input does not match format {fmt!r} "
                "(arnab-spark parse-compiled; DuckDB raises here too)"
            )
            + ")"
        )
        return _c_parse_to_sql_expr(fmt, a[0], fail)

    return build
