"""DuckDB → Spark SQL dialect shim.

The reference passes model SQL verbatim to DuckDB (reference:
node.rs:176), so reference-style models are written in DuckDB's dialect.
Spark SQL covers almost all of it natively (SURVEY.md §2.B); this module
rewrites the purely syntactic gaps so those models run unchanged:

- zero-arg ``count()`` → ``count(*)``
- ``read_parquet('p')`` & friends → Spark file-query syntax
- bare-string tables ``FROM 'x.parquet'`` → Spark file-query syntax
- ``SELECT * EXCLUDE (a, b)`` → Spark's ``* EXCEPT (a, b)``
- top-level ``QUALIFY <pred>`` → subquery + filter
- top-level ``SELECT DISTINCT ON (keys) …`` → row_number window +
  filter
- single ``ASOF [LEFT] JOIN … ON …`` → lateral correlated subquery
  (all common DuckDB idioms a reference-style model would reach for)

- ``SELECT * REPLACE (expr AS col) FROM <one relation>`` → expanded
  column list (needs a live session to resolve the relation's schema)
- ``<q1> UNION [ALL] BY NAME <q2>`` → name-aligned positional union
  (needs a live session to resolve each side's schema)
- ``COPY (…) TO 'path' (FORMAT …)`` → ``INSERT OVERWRITE DIRECTORY``
  (distributed multi-file export; DuckDB reads it back via ``dir/*``)
- DML — ``INSERT INTO`` (positional / column-list / BY NAME),
  ``DELETE FROM``, ``UPDATE … SET``, ``TRUNCATE`` — lifted to
  read-transform-persist over this engine's parquet-backed tables
  (staged swap for warehouse tables, checkpoint re-register for temp
  views); native catalog tables keep Spark's own INSERT/TRUNCATE
- ``CREATE [OR REPLACE] [TEMP] TABLE`` (CTAS and schema-only) and
  ``DROP TABLE`` — DuckDB-shaped table DDL Spark's v1 catalog lacks;
  session tables when no warehouse is open, catalogued parquet dirs
  when one is; DML/DROP against views raises (DuckDB parity)
- statement-form ``PIVOT … ON … USING …`` → Spark relation-suffix
  PIVOT (dynamic IN-list enumerated through the live session)
- statement-form ``UNPIVOT … ON … INTO NAME … VALUE …`` → Spark
  relation-suffix UNPIVOT
- ``USING SAMPLE n% / n ROWS [(method, seed)]`` → ``TABLESAMPLE``
- ``CREATE [OR REPLACE] [TEMP] MACRO`` (scalar and TABLE) → registered
  per session and expanded inline at call sites (DuckDB's own bind-time
  behavior); the CREATE statement itself transpiles to ``""``
- ``ATTACH '<warehouse-dir | file.duckdb>' AS alias`` / ``DETACH`` →
  warehouse models (or a real DuckDB file's tables+views, exported once
  to a local parquet cache) register as ``alias__model`` views and
  ``alias.model`` references rewrite to them; unreadable paths stay
  loud
- ``SUMMARIZE <rel>`` → generated per-column stats in DuckDB's layout
- ``a ^ b`` / ``a ** b`` (DuckDB POWER; Spark ``^`` is XOR — silent
  wrong numbers on passthrough) → ``power(a, b)``; ``a ^@ b`` →
  ``startswith(a, b)``; ``xor(a, b)`` → Spark's ``^``
- ``a // b`` → ``a DIV b`` (truncating int division on both)
- list comprehensions ``[expr FOR x IN src IF cond]`` →
  ``transform(filter(src, x -> cond), x -> expr)``

Each rewrite is conservative: it either applies cleanly or leaves the
text alone so Spark raises a clear parse error — a wrong silent
rewrite is worse than a clear error.
"""

from __future__ import annotations

import re
import threading

from arnab_spark import lexer
from arnab_spark._dialect_base import (
    _BARE_PATH,
    _READ_FUNC,
    _file_relation,
    _is_set_op_at,
    _lit_match,
    _resolve_path,
    _rewrite_distinct_on,
    _rewrite_qualify,
    _rewrite_string_split,
    _rewrite_using_sample,
)
from arnab_spark._dialect_datetime import _strf_rewrite, _strp_rewrite
from arnab_spark._dialect_dml import (
    _rewrite_alter_table,
    _rewrite_copy_from,
    _rewrite_create_table,
    _rewrite_dml,
    _rewrite_drop_table,
    _rewrite_export_import_db,
)
from arnab_spark._dialect_statements import (
    _CLAUSE_AFTER_ON,
    _JOIN_WORDS,
    _expand_macros,
    _reject_positional_join,
    _reject_sequences,
    _rewrite_asof_join,
    _rewrite_attach,
    _rewrite_attached_refs,
    _rewrite_create_macro,
    _rewrite_describe,
    _rewrite_describe_subqueries,
    _rewrite_detach,
    _rewrite_drop_macro,
    _rewrite_drop_view,
    _rewrite_extensions,
    _rewrite_perm_view,
    _rewrite_pragmas,
    _rewrite_read_file_lists,
    _rewrite_set,
    _rewrite_show_all_tables,
    _rewrite_show_tables,
    _rewrite_summarize,
    _rewrite_temp_view,
    _rewrite_txn,
    _rewrite_use,
)
from arnab_spark._dialect_unnest import (
    _FALSE_SPELLINGS,
    _IDENT,
    _TRUE_SPELLINGS,
    _UNNEST_CALL,
    _UNNEST_FLAG,
    _UNNEST_TAIL_BLOCKERS,
    _call_args,
    _flatten_wrap,
    _probe_expr_type,
    _probe_schema,
    _rewrite_multi_unnest,
    _rewrite_set_op_arms,
    _rewrite_single_unnest,
    _rewrite_unnest_set_ops,
)
from arnab_spark.errors import ArnabError

# DuckDB allows zero-argument count() (used by the reference's example
# model, reference: examples/basic/orders_per_product.sql:2).
_COUNT_ZERO_ARG = re.compile(r"\bcount\s*\(\s*\)", re.IGNORECASE)


def _rewrite_count_zero_arg(sql: str, spark=None) -> str:
    """``count()`` → ``count(*)`` in code: ``'count()'`` is a value and
    ``"count()"`` a name."""
    return lexer.sub(_COUNT_ZERO_ARG, lambda m: "count(*)", sql)


# `* EXCLUDE (a, b)` directly after a star is unambiguous; Spark spells
# the same projection `* EXCEPT (a, b)`.
_STAR_EXCLUDE = re.compile(r"(\*\s+)EXCLUDE(\s*\()", re.IGNORECASE)


def _rewrite_star_exclude(sql: str, spark=None) -> str:
    return _STAR_EXCLUDE.sub(r"\1EXCEPT\2", sql)


#: tokens after which a ``[`` opens a DuckDB LIST LITERAL rather than a
#: subscript: operators/punctuation, or one of these SQL keywords. After
#: an identifier, a string literal, ``)`` or ``]`` it is a subscript and
#: must be left alone (Spark shares that syntax).
_BEFORE_LIST_LITERAL_CHARS = frozenset("([,=<>+-*/%|&:{")
#: a significant token of the mask: a run of word characters or one
#: other non-space character
_SIGNIFICANT = re.compile(r"\w+|\S")
_BEFORE_LIST_LITERAL_WORDS = frozenset(
    "select where and or not in when then else by distinct all having "
    "case between is like ilike union intersect except on values return "
    "returning".split()
)


def _rewrite_list_literals(sql: str, spark=None) -> str:
    """DuckDB list literals ``[1, 2]`` / ``ARRAY[1, 2]`` → Spark's
    ``array(1, 2)``. Token-aware: a ``[`` directly after an identifier,
    string, ``)`` or ``]`` is a SUBSCRIPT (both dialects spell it the
    same) and is preserved; struct literals ``{...}`` are not rewritten
    (Spark rejects them loudly — no silent divergence).

    The ``ARRAY`` keyword binds even across whitespace (DuckDB parses
    ``array [1, 2]`` as the constructor — a column actually *named*
    array must be double-quoted to be referenced at all, and quoted
    identifiers are skipped here), EXCEPT after a ``.`` qualifier:
    ``x.array[2]`` is member access + subscript in DuckDB and is left
    for the subscript pass."""
    masked = lexer.mask(sql)
    out: list[str] = []
    stack: list[str] = []  # expected closer for each open ( or [
    prev = ""  # last significant token ("" = statement start)
    prev2 = ""  # significant token before `prev`
    last = 0
    # a literal's or identifier's delimiters are tokens of the mask, so
    # `'abc'[1]` reads as a subscript; comments are blank there
    for m in _SIGNIFICANT.finditer(masked):
        if m.start() > last:
            out.append(sql[last : m.start()])
        last = m.end()
        tok = m.group()
        if tok == "[":
            if prev.lower() == "array" and prev2 != ".":
                # ARRAY[...] / ARRAY [...] constructor: keep the word
                # (dropping any whitespace before the bracket), swap
                # brackets for parens
                while out and out[-1].isspace():
                    out.pop()
                out.append("(")
                stack.append(")")
            elif (
                prev == ""
                or prev in _BEFORE_LIST_LITERAL_CHARS
                or prev.lower() in _BEFORE_LIST_LITERAL_WORDS
            ):
                out.append("array(")
                stack.append(")")
            else:
                out.append("[")
                stack.append("]")
        elif tok == "]":
            out.append(stack.pop() if stack else "]")
        else:
            out.append(tok)
            if tok == "(":
                stack.append(")")
            elif tok == ")" and stack:
                stack.pop()
        prev2, prev = prev, tok
    out.append(sql[last:])
    return "".join(out)


#: DuckDB list_* names whose Spark twin has IDENTICAL argument order
#: and null semantics — every row here is pinned by a differential
#: test against DuckDB's native answer (incl. NULL/missing cases).
#: Round 2 excluded list_sort/list_position on older-docs semantics;
#: round-4 probes showed the pinned DuckDB resolves them exactly like
#: Spark (list_sort: ASC NULLS LAST since DuckDB 0.8 ≡ array_sort;
#: list_position: 1-based, 0 when missing, NULL on NULL needle ≡
#: array_position), so they map cleanly. Multi-arg list_sort('DESC')
#: hits array_sort's lambda signature → loud analysis error, never a
#: silent wrong order.
_LIST_FN_MAP = {
    "list_value": "array",
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "list_distinct": "array_distinct",
    "list_append": "array_append",
    "list_prepend": "array_prepend",
    "list_concat": "concat",
    "list_cat": "concat",
    "list_transform": "transform",
    "list_filter": "filter",
    "list_sort": "array_sort",
    "list_position": "array_position",
    "list_indexof": "array_position",
    "list_reverse": "reverse",
    "array_length": "size",
    # scalar names verified argument- and null-identical (same regex
    # caveat as everywhere: patterns are the Java∩RE2 common subset)
    "strpos": "instr",
    "regexp_matches": "regexp_like",
    # ISO week number in both engines (edge 2018-12-31 -> 1 verified)
    "week": "weekofyear",
    # string length; DuckDB's len() also covers lists, where Spark's
    # length() rejects arrays loudly — never a silent divergence
    "strlen": "length",
    "len": "length",
}
_LIST_FN = re.compile(
    r"\b(" + "|".join(_LIST_FN_MAP) + r")(\s*\()", re.IGNORECASE
)


def _rewrite_list_functions(sql: str, spark=None) -> str:
    # Code only: function-looking text inside string literals or quoted
    # identifiers must pass through untouched (common words like
    # len/left/week appear in data all the time).
    return lexer.sub(
        _LIST_FN, lambda m: _LIST_FN_MAP[m.group(1).lower()] + m.group(2), sql
    )


# ---------------------------------------------------------------------
# range() / generate_series() (round 10). Semantics probed on the
# pinned DuckDB and on Spark:
#   * TABLE range(…) emits IDENTICAL values to Spark's range TVF for
#     every arg form incl. negative steps — but DuckDB names the column
#     ``range`` where Spark names it ``id``: a bare
#     ``SELECT * FROM range(5)`` was a SILENT schema divergence. Table
#     sites now wrap-rename: ``(SELECT id AS range FROM range(…))``
#     (trailing aliases keep working — the wrap replaces only the call).
#   * TABLE generate_series is INCLUSIVE of the end (and 1-arg starts
#     at 0: generate_series(3) → 0..3) and doesn't exist in Spark —
#     rewritten to an exploded guarded sequence (below).
#   * SCALAR generate_series(a, b) with a > b is EMPTY in DuckDB while
#     Spark's sequence auto-descends — so the translation guards the
#     direction: ``CASE WHEN a <= b THEN sequence(a, b) ELSE
#     slice(sequence(a, a), 1, 0) END`` (the slice builds a typed empty
#     array). With a step the guard matches the step's sign; step 0
#     errors in BOTH engines (sequence raises too — loud parity).
#   * SCALAR range(…) is EXCLUSIVE of the end: same translation with
#     the bound pulled in by sign(step) (sequence's inclusive end ≤
#     hi-1 admits exactly the values < hi for any positive step, and
#     symmetrically for negative).
# Args must look INTEGER-ARITHMETIC (digits/+-*/%()/whitespace): DuckDB
# returns TIMESTAMP[] for date series where Spark's sequence yields
# DATE[] — a typed divergence — so temporal/complex args stay loud.
# Position classification walks backwards to the nearest significant
# token: from/join/lateral → table site; any operator, expression
# keyword, or enclosing function call → scalar site.

_SERIES_CALL = re.compile(r"(?is)\b(range|generate_series)\s*\(")
_SERIES_ARG_OK = re.compile(r"^[\d\s+\-*/%()]+$")
_SERIES_TABLE_WORDS = frozenset({"from", "join", "lateral"})
_SERIES_SKIP_WORDS = frozenset(
    {"as", "cross", "inner", "left", "right", "full", "outer",
     "natural", "anti", "semi"}
)


def _series_is_table_position(sql: str, start: int) -> bool:
    """True when the call at ``start`` of the mask ``sql`` sits in
    relation position. A literal or identifier directly before it ends
    the walk on its delimiter, as an operator does: scalar-ish."""
    i = start - 1
    depth = 0
    while i >= 0:
        ch = sql[i]
        if ch.isspace():
            i -= 1
            continue
        if ch == ")":
            depth += 1
            i -= 1
            continue
        if ch == "(":
            if depth > 0:
                depth -= 1
                i -= 1
                continue
            j = i - 1
            while j >= 0 and sql[j].isspace():
                j -= 1
            if j >= 0 and (sql[j].isalnum() or sql[j] in "_`"):
                return False  # enclosing function call: scalar args
            i = j
            continue
        if depth > 0:
            i -= 1
            continue
        if ch == ",":
            i -= 1
            continue
        if ch.isalnum() or ch == "_":
            j = i
            while j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
                j -= 1
            word = sql[j + 1: i + 1].lower()
            if word in _SERIES_TABLE_WORDS:
                return True
            if word in _SERIES_SKIP_WORDS or not word.isalpha() or (
                word not in _CLAUSE_WORDS_FOR_SERIES
            ):
                # relation names / aliases in a FROM list: keep walking
                i = j
                continue
            return False  # select/where/on/… : expression position
        return False  # any operator char: expression position
    return False


_CLAUSE_WORDS_FOR_SERIES = frozenset(
    {"select", "where", "when", "then", "else", "on", "and", "or", "in",
     "by", "having", "limit", "offset", "set", "values", "case", "not",
     "like", "ilike", "between", "exists", "all", "any", "some",
     "distinct", "union", "intersect", "except", "return", "returning"}
)


def _series_sequence_sql(
    args: list[str], exclusive: bool, zero_step_raises: bool
) -> str | None:
    """Guarded Spark ``sequence`` reproducing DuckDB's series contract
    (see the pass comment); None when the arg shape is unsupported.
    Step 0 is EMPTY for the scalar forms but a Binder Error for the
    table forms (both probed) — ``zero_step_raises`` picks the side.
    The empty branch drops the step (sequence(lo, lo) is total), so the
    sign guards alone decide emptiness."""
    if not 1 <= len(args) <= 3 or not all(
        a.strip() and _SERIES_ARG_OK.match(a) for a in args
    ):
        return None
    if len(args) == 1:
        lo, hi, step = "0", args[0].strip(), None
    else:
        lo, hi = args[0].strip(), args[1].strip()
        step = args[2].strip() if len(args) == 3 else None
    s = step if step is not None else "1"
    # Every bound is pinned to BIGINT: DuckDB's integer series contract
    # is BIGINT[] (scalar) / a BIGINT column (table form) regardless of
    # the argument widths, while Spark's sequence() over INT literals
    # yields array<int> — a silent dtype divergence (round-10 advice).
    lo_c = f"CAST(({lo}) AS BIGINT)"
    hi_c = f"CAST(({hi}) AS BIGINT)"
    s_c = f"CAST(({s}) AS BIGINT)"
    hi_adj = f"({hi_c} - CAST(sign(({s})) AS BIGINT))" if exclusive else hi_c
    seq_args = f"{lo_c}, {hi_adj}" + (f", {s_c}" if step is not None else "")
    lt, le = ("<", ">") if exclusive else ("<=", ">=")
    cond = (
        f"((({s}) > 0 AND ({lo}) {lt} ({hi})) OR "
        f"(({s}) < 0 AND ({lo}) {le} ({hi})))"
    )
    branches = ""
    if step is not None and zero_step_raises:
        branches = (
            f"WHEN ({s}) = 0 THEN raise_error('generate_series/range: "
            "interval cannot be 0 (DuckDB raises a Binder Error here "
            "too)') "
        )
    return (
        f"CASE {branches}WHEN {cond} THEN sequence({seq_args}) "
        f"ELSE slice(sequence({lo_c}, {lo_c}), 1, 0) END"
    )


def _rewrite_series_functions(sql: str, spark=None) -> str:
    """Rewrite range()/generate_series() sites per the pass comment.
    One sweep back-to-front — the emitted text contains an inner
    ``range(`` that must not be reprocessed."""
    sites = []
    for m in _SERIES_CALL.finditer(lexer.mask(sql)):
        got = _call_args(sql, m.end() - 1)
        if got is None:
            continue
        args, end = got
        sites.append((m.start(), end, m.group(1).lower(), args))
    out = sql
    for start, end, name, args in sorted(sites, reverse=True):
        table_pos = _series_is_table_position(lexer.mask(out), start)
        if name == "range" and table_pos:
            # values identical on Spark's range TVF; only rename the col
            inner = out[start:end]
            repl = f"(SELECT id AS range FROM {inner})"
        else:
            seq = _series_sequence_sql(
                args,
                exclusive=(name == "range"),
                zero_step_raises=table_pos,
            )
            if seq is None:
                continue  # temporal/complex args: stay loud
            if table_pos:  # table generate_series
                repl = f"(SELECT explode({seq}) AS generate_series)"
            else:  # scalar range / generate_series
                repl = seq
        out = out[:start] + repl + out[end:]
    return out


# ---------------------------------------------------------------------
# COLUMNS() star expression (round 10). DuckDB's multi-column idiom —
# ``SELECT min(COLUMNS('l_.*')) FROM t`` — expands ONE select item into
# one item per matching column at BIND time. The shim mirrors that
# textually against the statement's ANALYZED star schema (same probe
# infrastructure as the len/unnest passes). Every semantic probed on
# the pinned DuckDB:
#   * output columns keep the SOURCE column names even when the site is
#     wrapped in any expression (min(COLUMNS('a.')) names aa/ab, never
#     min(aa)) — so every expanded item gets an explicit alias
#   * the regex is a PARTIAL, case-sensitive search ('a.' matches ad)
#   * zero matches is a Binder Error — mirrored with a targeted raise
#   * a plain alias repeats verbatim on every expansion; a double-
#     quoted alias may hold \N backrefs filled from the regex's capture
#     groups against each column name ('m_\1' with 'a(.)' names m_a …)
#   * multiple COLUMNS sites in ONE item zip pairwise when their
#     argument is identical (COLUMNS(*) = COLUMNS(*)); differing
#     arguments stay loud (unprobed)
#   * COLUMNS(* EXCLUDE (c)) subtracts; the star-EXCLUDE pre-pass has
#     already respelled it EXCEPT by the time this pass runs
#   * (round 11) the LAMBDA form — COLUMNS(c -> c LIKE 'a%') — binds
#     each column NAME as a VARCHAR and keeps names where the predicate
#     is true. DuckDB's own binder lowers it to
#     ``list_filter([names…], lambda)`` (its zero-match Binder Error
#     prints exactly that lowering), so the shim evaluates the SAME
#     list_filter on the embedded DuckDB at rewrite time — the name
#     set is bind-time metadata, never data — giving exact parity for
#     every scalar function DuckDB allows in the body (LIKE/SIMILAR
#     TO/starts_with/contains/regexp_matches/CASE…, all probed) with
#     zero blind re-implementation. A body DuckDB rejects raises with
#     DuckDB's own message (loud IS parity: DuckDB errors on the
#     statement too).
#   * a quoted alias's ``\0`` backref is the FULL column name in BOTH
#     forms (probed: '(.)b' on abc aliases m_abc, not m_ab — NOT the
#     regex match); ``\N`` (N ≥ 1) is regex-form-only (probed Binder
#     Error: "Only the backslash escape code \0 can be used when no
#     regex is supplied")
#   * (round 11) WHERE and ORDER BY positions lift too — see
#     :func:`_rewrite_columns_clauses` for the probed expansion rules
#     (AND-conjunct duplication / per-key expansion with modifiers)
# Still loud, all probed-or-documented: sites inside sub-selects
# (different FROM scope than the probe), DISTINCT ON beside COLUMNS,
# and GROUP BY / HAVING / QUALIFY / WINDOW positions (Binder Errors in
# DuckDB itself — "STAR expression is not supported here", probed).

_COLUMNS_CALL = re.compile(r"(?is)\bCOLUMNS\s*\(")

_COLUMNS_LAMBDA = re.compile(r"(?s)^([A-Za-z_]\w*)\s*->\s*(.+)$")


_LAMBDA_EVAL_CON = None
#: one DuckDB connection serves every thread, one statement at a time
_LAMBDA_EVAL_LOCK = threading.Lock()


def _lambda_eval_con():
    """Cached in-memory DuckDB connection for COLUMNS-lambda
    evaluation, preloaded with macros for the Spark spellings the
    earlier rename passes may have written into the lambda body by the
    time this pass runs (each a semantics-identical twin — that is the
    rename table's own invariant)."""
    global _LAMBDA_EVAL_CON
    if _LAMBDA_EVAL_CON is None:
        import duckdb

        con = duckdb.connect(":memory:")
        for compat in (
            "CREATE MACRO regexp_like(s, p) AS regexp_matches(s, p)",
            "CREATE MACRO instr(s, sub) AS strpos(s, sub)",
        ):
            try:
                con.execute(compat)
            except Exception:
                pass  # name already native in this DuckDB: use it
        _LAMBDA_EVAL_CON = con
    return _LAMBDA_EVAL_CON


def _columns_lambda_filter(var: str, body: str, cols: list[str]) -> list[str]:
    """Evaluate a COLUMNS lambda over the column-name list on the
    embedded DuckDB — the exact ``list_filter`` lowering DuckDB's own
    binder performs (its zero-match Binder Error prints
    ``COLUMNS(list_filter([names…], (c -> …)))``). The name set is
    bind-time metadata (a handful of strings), never table data, so
    this is a constant-fold, not a query. Raises ArnabError carrying
    DuckDB's message when DuckDB itself rejects the lambda body —
    the statement errors on DuckDB too, so loud IS parity."""
    names = ", ".join("'" + c.replace("'", "''") + "'" for c in cols)
    try:
        with _LAMBDA_EVAL_LOCK:
            got = _lambda_eval_con().execute(
                f"SELECT list_filter([{names}], ({var} -> ({body})))"
            ).fetchone()[0]
    except Exception as exc:  # noqa: BLE001 — re-raised targeted
        raise ArnabError(
            f"COLUMNS({var} -> …): DuckDB rejects this lambda body "
            f"too: {str(exc).splitlines()[0]}"
        ) from exc
    keep = set(got)
    return [c for c in cols if c in keep]


def _columns_match(raw: str, cols: list[str]) -> list[str] | None:
    """Columns selected by a COLUMNS(...) argument, or None when the
    argument shape has no proven mapping."""
    raw = raw.strip()
    if raw == "*":
        return list(cols)
    em = re.match(r"(?is)^\*\s*(?:EXCLUDE|EXCEPT)\s*\((.*)\)\s*$", raw)
    if em:
        drop = {
            c.strip().strip('"').lower()
            for c in lexer.split_top_level(em.group(1))
        }
        missing = drop - {c.lower() for c in cols}
        if missing:
            # probed: DuckDB raises 'Binder Error: Column "x" in
            # EXCLUDE list not found in FROM clause' — silently
            # ignoring the name would diverge (round-11 fixture probe)
            raise ArnabError(
                f"COLUMNS(* EXCLUDE ...): column(s) {sorted(missing)} "
                "not found in FROM clause — DuckDB raises a Binder "
                "Error on this statement too"
            )
        return [c for c in cols if c.lower() not in drop]
    lm = _lit_match(raw)
    if lm:
        try:
            rx = re.compile(lm.group(1))
        except re.error:
            return None
        return [c for c in cols if rx.search(c)]
    lam = _COLUMNS_LAMBDA.match(raw)
    if lam:
        return _columns_lambda_filter(lam.group(1), lam.group(2), cols)
    return None


def _strip_trailing_alias(item: str) -> tuple[str, str | None]:
    """Split a select item into (body, alias) when it ends in a
    top-level ``AS <ident | "quoted">``; (item, None) otherwise."""
    pos, last = 0, -1
    while True:
        idx, _w = lexer.find_top_level(item, ("as",), pos)
        if idx < 0:
            break
        last = idx
        pos = idx + 2
    if last < 0:
        return item, None
    alias = item[last + 2:].strip()
    if re.match(r"^[A-Za-z_]\w*$", alias) or re.match(
        r'^"(?:[^"]|"")*"$', alias
    ):
        return item[:last], alias
    return item, None


def _columns_alias_name(alias: str, pattern: str | None, col: str) -> str | None:
    """Output name for one expanded column under an explicit alias:
    plain aliases repeat; quoted aliases may carry backrefs — ``\\0``
    is the FULL column name in both forms (probed: '(.)b' on abc
    aliases m_abc, never the m_ab regex match), ``\\N`` (N ≥ 1) fills
    from the regex's capture groups and is regex-form-only (probed
    Binder Error on the lambda form)."""
    text = alias[1:-1].replace('""', '"') if alias.startswith('"') else alias
    if re.search(r"\\\d", text):
        if re.search(r"\\[1-9]", text):
            if pattern is None:
                return None
            mm = re.search(pattern, col)
            if mm is None:
                return None
        else:
            mm = None  # \0-only alias: no regex needed (lambda form ok)
        try:
            return re.sub(
                r"\\(\d)",
                lambda g: (
                    col
                    if g.group(1) == "0"
                    else (mm.group(int(g.group(1))) or "")
                ),
                text,
            )
        except (re.error, IndexError):
            return None
    return text


def _parse_columns_sites(
    text: str, cols: list[str]
) -> tuple[list[tuple[int, int, str]], str, list[str]] | None:
    """Shared core for every COLUMNS expansion position: locate the
    sites in ``text``, enforce the zip rules, resolve the matched
    columns. Returns (parsed sites, raw argument, matched columns) or
    None when the shape has no proven mapping. Raises the Binder-parity
    errors (zero match, multi-site lambda) exactly like DuckDB."""
    sites = list(_COLUMNS_CALL.finditer(lexer.mask(text)))
    if not sites:
        return None
    if re.search(r"(?is)\(\s*select\b", text):
        return None  # sub-select inside the item: different FROM scope
    parsed: list[tuple[int, int, str]] = []
    for m in sites:
        got = _call_args(text, m.end() - 1)
        if got is None:
            return None
        _args, end = got
        parsed.append((m.start(), end, text[m.end(): end - 1].strip()))
    if len({p[2] for p in parsed}) != 1:
        return None  # differing zip arguments: unprobed
    raw = parsed[0][2]
    if len(parsed) > 1 and _COLUMNS_LAMBDA.match(raw):
        # probed: identical regex/star sites zip pairwise, but two
        # lambda sites — even textually identical — are "Multiple
        # different STAR/COLUMNS" to DuckDB's binder (lambda
        # expressions never compare equal); mirrored loud
        raise ArnabError(
            "COLUMNS: multiple lambda-form sites in one expression — "
            "DuckDB raises a Binder Error on this statement too"
        )
    matched = _columns_match(raw, cols)
    if matched is None:
        return None
    if not matched:
        raise ArnabError(
            f"COLUMNS: no columns match {raw!r} — DuckDB raises a "
            "Binder Error on this statement too"
        )
    return parsed, raw, matched


def _substitute_columns_sites(
    body: str, parsed: list[tuple[int, int, str]], col: str
) -> str:
    """Replace every COLUMNS site in ``body`` with one quoted column."""
    col_sql = "`" + col.replace("`", "``") + "`"
    for s, e, _r in sorted(parsed, reverse=True):
        body = body[:s] + col_sql + body[e:]
    return body.strip()


def _expand_columns_item(item: str, cols: list[str]) -> list[str] | None:
    """Expand one select item holding COLUMNS(...) sites into one item
    per matched column; None when the shape has no proven mapping."""
    core = _parse_columns_sites(item, cols)
    if core is None:
        return None
    parsed, raw, matched = core
    body, alias = _strip_trailing_alias(item)
    if any(e > len(body) for _s, e, _r in parsed):
        return None  # a site overlaps the alias text: malformed
    lm = _lit_match(raw)
    pattern = lm.group(1) if lm else None
    out: list[str] = []
    for col in matched:
        b = _substitute_columns_sites(body, parsed, col)
        name = (
            col
            if alias is None
            else _columns_alias_name(alias, pattern, col)
        )
        if name is None:
            return None
        out.append(f"{b} AS `" + name.replace("`", "``") + "`")
    return out


def _expand_columns_bare(expr: str, cols: list[str]) -> list[str] | None:
    """Expand one alias-free expression (a WHERE conjunct or an ORDER
    BY key) into one copy per matched column; None when unproven."""
    core = _parse_columns_sites(expr, cols)
    if core is None:
        return None
    parsed, _raw, matched = core
    return [_substitute_columns_sites(expr, parsed, col) for col in matched]


_CTE_DEF = re.compile(
    r"(?is)\s*([A-Za-z_]\w*)\s*(\([^()]*\))?\s+AS\s+"
    r"(?:NOT\s+MATERIALIZED\s+|MATERIALIZED\s+)?\("
)


def _rewrite_columns_in_ctes(sql: str, spark) -> str:
    """Expand COLUMNS() inside NON-RECURSIVE CTE bodies, each against
    its OWN FROM scope: the probe prefix for CTE k is the (already
    rewritten) WITH header holding CTEs 1..k-1 — so a later CTE's
    probe sees its predecessors resolvable. Processed left-to-right;
    RECURSIVE statements stay untouched (the body references itself,
    which no probe can analyze)."""
    m = re.match(r"(?is)^\s*WITH\s+", sql)
    if not m or re.match(r"(?is)^\s*WITH\s+RECURSIVE\b", sql):
        return sql
    out = sql
    i = m.end()
    while True:
        dm = _CTE_DEF.match(out, i)
        if not dm:
            break
        open_idx = dm.end() - 1
        j = lexer.group_end(out, open_idx)
        if j is None:
            return out  # unbalanced: leave whole
        body = out[open_idx + 1: j - 1]
        if _COLUMNS_CALL.search(body):
            # prefix = WITH header up to THIS def, comma-stripped
            head = out[: dm.start()].rstrip()
            if head.rstrip().endswith(","):
                head = head.rstrip()[:-1]
            prefix = (head + " ") if head.strip().lower() != "with" else ""
            new_body = _rewrite_columns_expr(body, spark, probe_prefix=prefix)
            if new_body != body:
                out = out[: open_idx + 1] + new_body + out[j - 1:]
                j += len(new_body) - len(body)
        # step past this def; a comma continues the WITH list
        k = j
        while k < len(out) and out[k].isspace():
            k += 1
        if k < len(out) and out[k] == ",":
            i = k + 1
            continue
        break
    return out


def _rewrite_columns_expr(sql: str, spark, probe_prefix: str = "") -> str:
    """Expand select-list COLUMNS() sites against the analyzed star
    schema of the statement's own FROM context (see the pass comment
    above). Unprovable shapes leave the statement WHOLE — partial
    expansion would half-transpile; whole statements fail loud."""
    if spark is None or not _has_bare_columns_site(sql):
        return sql  # no COLUMNS( in code
    if re.match(r"(?is)^\s*WITH\b", sql) and not probe_prefix:
        sql = _rewrite_columns_in_ctes(sql, spark)
        sel_idx, _ = lexer.find_top_level(sql, ("select",))
        if sel_idx <= 0:
            return sql
        body = _rewrite_columns_expr(
            sql[sel_idx:], spark, probe_prefix=sql[:sel_idx]
        )
        return sql[:sel_idx] + body
    # set-op arms expand independently, each against its own FROM
    scan = 0
    while True:
        idx, w = lexer.find_top_level(sql, ("union", "intersect", "except"), scan)
        if idx < 0:
            break
        if _is_set_op_at(sql, idx, w):
            nxt, _kw = lexer.find_top_level(sql, ("select",), idx)
            if nxt < 0:
                return sql  # parenthesized arm: stay whole, loud
            left = _rewrite_columns_expr(sql[:idx], spark, probe_prefix)
            right = _rewrite_columns_expr(sql[nxt:], spark, probe_prefix)
            return left + sql[idx:nxt] + right
        scan = idx + len(w)
    m = re.match(r"(?is)^(\s*SELECT\s+)(DISTINCT\s+)?", sql)
    if not m or re.match(r"(?is)^\s*ON\b", sql[m.end():]):
        return sql  # not a SELECT head, or DISTINCT ON: loud
    items_start = m.end()
    from_idx, _f = lexer.find_top_level(sql, ("from",), items_start)
    items_text = sql[items_start: from_idx if from_idx >= 0 else len(sql)]
    items = lexer.split_top_level(items_text)
    rest_sql = sql[from_idx:] if from_idx >= 0 else ""
    sel_sites = any(_COLUMNS_CALL.search(it) for it in items)
    rest_sites = bool(rest_sql) and _has_bare_columns_site(rest_sql)
    if not sel_sites and not rest_sites:
        return sql
    tail = ""
    if from_idx >= 0:
        cut, _kw = lexer.find_top_level(
            rest_sql,
            (
                "where", "group", "having", "qualify", "window",
                "order", "limit", "offset",
            ),
            4,
        )
        tail = rest_sql[:cut] if cut >= 0 else rest_sql
    sch = _probe_schema("*", probe_prefix, tail, spark)
    if sch is None:
        return sql
    cols = [f.name for f in sch]
    joined = items_text.strip()
    if sel_sites:
        new_items: list[str] = []
        for it in items:
            if not _has_bare_columns_site(it):
                new_items.append(it.strip())
                continue
            exp = _expand_columns_item(it, cols)
            if exp is None:
                return sql  # one unprovable item: stay whole, loud
            new_items.extend(exp)
        joined = ", ".join(new_items)
    if rest_sites:
        new_rest = _rewrite_columns_clauses(rest_sql, cols)
        if new_rest is None:
            return sql  # unprovable WHERE/ORDER BY site: whole, loud
        rest_sql = new_rest
    head = sql[:items_start]
    return head + joined + ((" " + rest_sql) if rest_sql else "")


def _has_bare_columns_site(text: str) -> bool:
    """True when the code of ``text`` holds a COLUMNS( call."""
    return _COLUMNS_CALL.search(lexer.mask(text)) is not None


def _split_top_level_and(clause: str) -> list[str]:
    """Split a boolean clause on its top-level ANDs (quote- and
    paren-aware via :func:`lexer.find_top_level`)."""
    parts: list[str] = []
    pos = 0
    while True:
        idx, w = lexer.find_top_level(clause, ("and",), pos)
        if idx < 0:
            break
        parts.append(clause[pos:idx])
        pos = idx + len(w)
    parts.append(clause[pos:])
    return parts


_ORDER_ITEM_MODS = re.compile(
    r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$"
)


def _rewrite_columns_clauses(rest: str, cols: list[str]) -> str | None:
    """Expand COLUMNS() sites in the WHERE and ORDER BY clauses of a
    statement tail (round 11; both probed on the pinned DuckDB):

    * WHERE — the expansion unit is each TOP-LEVEL ``AND`` conjunct:
      a conjunct holding sites is duplicated once per matched column
      and the copies are ANDed (probed via ``NOT (COLUMNS('a.') > 0)``,
      which keeps only rows where NO matched column is positive —
      whole-conjunct duplication, not site-level distribution), and
      two conjuncts may use DIFFERENT selectors while one conjunct may
      not (probed Binder Error).
    * ORDER BY — each sort item holding sites expands to one key per
      matched column, carrying the item's ASC/DESC/NULLS modifiers
      onto every key, in selector match order before the next item.

    Sites anywhere else in the tail (GROUP BY / HAVING / QUALIFY /
    WINDOW) are Binder Errors in DuckDB itself ("STAR expression is
    not supported here", probed) — left verbatim for Spark to reject,
    loud IS parity. Returns None when a handled clause holds an
    unprovable shape (the statement stays whole)."""
    w_idx, _w = lexer.find_top_level(rest, ("where",), 0)
    if w_idx >= 0:
        end, _kw = lexer.find_top_level(
            rest,
            ("group", "having", "qualify", "window", "order", "limit",
             "offset"),
            w_idx + 5,
        )
        clause = rest[w_idx + 5: end if end >= 0 else len(rest)]
        if _has_bare_columns_site(clause):
            out_parts: list[str] = []
            for conj in _split_top_level_and(clause):
                if not _has_bare_columns_site(conj):
                    out_parts.append(conj.strip())
                    continue
                copies = _expand_columns_bare(conj.strip(), cols)
                if copies is None:
                    return None
                out_parts.extend(f"({c})" for c in copies)
            new_clause = " " + " AND ".join(out_parts) + " "
            rest = (
                rest[: w_idx + 5]
                + new_clause
                + (rest[end:] if end >= 0 else "")
            )
    o_idx = 0
    while True:
        o_idx, _o = lexer.find_top_level(rest, ("order",), o_idx)
        if o_idx < 0:
            return rest
        after = rest[o_idx + 5:]
        bym = re.match(r"(?is)^\s+BY\b", after)
        if bym:
            break
        o_idx += 5
    by_end = o_idx + 5 + bym.end()
    end, _kw = lexer.find_top_level(rest, ("limit", "offset"), by_end)
    clause = rest[by_end: end if end >= 0 else len(rest)]
    if not _has_bare_columns_site(clause):
        return rest
    out_keys: list[str] = []
    for item in lexer.split_top_level(clause):
        if not _has_bare_columns_site(item):
            out_keys.append(item.strip())
            continue
        mm = _ORDER_ITEM_MODS.match(item.strip())
        expr_part, mods = mm.group(1).strip(), mm.group(2).strip()
        copies = _expand_columns_bare(expr_part, cols)
        if copies is None:
            return None
        out_keys.extend(
            (c + (" " + mods if mods else "")) for c in copies
        )
    return (
        rest[:by_end]
        + " "
        + ", ".join(out_keys)
        + (" " + rest[end:] if end >= 0 else "")
    )


_LENGTH_CALL = re.compile(r"(?is)\blength\s*\(")


def _rewrite_length_on_lists(sql: str, spark, probe_prefix: str = "") -> str:
    """DuckDB's ``len``/``length`` are overloaded: character length on
    VARCHAR and element count on LIST (probed; NULL → NULL for both).
    The name pass maps len → length, which Spark resolves for strings
    with identical semantics but REJECTS for arrays — loud, never
    silent, yet a real user hazard since list ``len`` is idiomatic
    DuckDB. Round 9: when a session can ANALYZE the argument's type in
    the statement's own FROM context (the same probe infra the unnest
    passes use, memoized per session), list-typed arguments rewrite to
    ``CAST(size(…) AS BIGINT)`` — Spark's element count is
    NULL-in-NULL-out (probed) and the cast matches DuckDB's BIGINT
    return width so the hash gate sees identical schemas. Unprovable
    arguments — sub-select scopes (different FROM context),
    sessionless transpile, probe failures, embedded unnests — stay
    untouched: strings keep working natively, lists keep failing
    loudly."""
    if spark is None:
        return sql
    masked = lexer.mask(sql)
    sites = list(_LENGTH_CALL.finditer(masked))
    if not sites:
        return sql
    if re.match(r"(?is)^\s*WITH\b", sql):
        sel_idx, _ = lexer.find_top_level(sql, ("select",))
        if sel_idx <= 0:
            return sql
        body = _rewrite_length_on_lists(
            sql[sel_idx:], spark, probe_prefix=sql[:sel_idx]
        )
        return sql if body == sql[sel_idx:] else sql[:sel_idx] + body
    # main-select FROM context for the probe, cut at the first
    # top-level clause after the relations — types don't depend on
    # WHERE/GROUP/ORDER, and a GROUP BY inside the probe SELECT would
    # break its analysis
    from_idx, _ = lexer.find_top_level(sql, ("from",))
    tail = ""
    if from_idx >= 0:
        rest = sql[from_idx:]
        cut, _kw = lexer.find_top_level(
            rest,
            (
                "where", "group", "having", "qualify", "window",
                "order", "limit", "offset", "union", "intersect",
                "except",
            ),
            4,
        )
        tail = rest[:cut] if cut >= 0 else rest
    # a length() inside a sub-select has a DIFFERENT FROM scope than
    # the probe's — skip those sites
    sub_spans: list[tuple[int, int]] = []
    for sm in re.finditer(r"(?is)\(\s*select\b", masked):
        got = _call_args(sql, sm.start())
        if got is not None:
            sub_spans.append((sm.start(), got[1]))

    # sites in LATER set-op arms see a different FROM context than the
    # first arm's probe (round-10 advice: arm 1 typing a same-named
    # column ARRAY while arm 2's is VARCHAR would mis-rewrite arm 2) —
    # skip everything past the first top-level genuine set operator
    setop_idx = len(sql)
    scan = 0
    while True:
        idx, w = lexer.find_top_level(sql, ("union", "intersect", "except"), scan)
        if idx < 0:
            break
        if _is_set_op_at(sql, idx, w):
            setop_idx = idx
            break
        scan = idx + len(w)

    from pyspark.sql.types import ArrayType

    out = sql
    for m in sorted(sites, key=lambda x: x.start(), reverse=True):
        if m.start() >= setop_idx:
            continue
        if any(s <= m.start() < e for s, e in sub_spans):
            continue
        got = _call_args(sql, m.end() - 1)
        if got is None:
            continue
        args, end = got
        if len(args) != 1:
            continue
        arg = args[0]
        if _UNNEST_CALL.search(arg):
            continue  # typed only after the unnest rewrites
        dtype = _probe_expr_type(arg, probe_prefix, tail, spark)
        if isinstance(dtype, ArrayType):
            out = (
                out[: m.start()] + f"CAST(size(({arg})) AS BIGINT)" + out[end:]
            )
    return out


def _struct_leaf_items(base: str, dt, recursive: bool) -> list[str]:
    """Projection items expanding struct ``base`` the way DuckDB's
    struct unnest does: one column per field named AFTER the field
    (aliases are ignored by DuckDB — probed), descending into nested
    struct fields only when ``recursive`` (probed:
    ``unnest({'a':1,'n':{'c':2,'d':3}}, recursive := true)`` → a,c,d;
    non-recursive keeps ``n`` whole; LISTS inside structs stay lists
    either way). Duplicate leaf names across nesting levels are kept
    duplicated — DuckDB emits them side by side (probed: a, a)."""
    from pyspark.sql.types import StructType

    items: list[str] = []
    for f in dt.fields:
        q = f.name.replace("`", "``")
        ref = f"{base}.`{q}`"
        if recursive and isinstance(f.dataType, StructType):
            items.extend(_struct_leaf_items(ref, f.dataType, True))
        else:
            items.append(f"{ref} AS `{q}`")
    return items


def _rewrite_struct_recursive_unnest(sql: str, spark, probe_prefix: str = "") -> str:
    """DuckDB ``unnest(x, recursive := true)`` and struct unnest
    (round 8) — the verdict's top remaining loud dialect gap. All
    semantics probed against DuckDB in-process before this rewrite
    existed (the probe-first method):

    - ``unnest(list, recursive := true)`` fully flattens nested lists
      (NULL sublists dropped at every level) and then behaves as a
      plain unnest — rewritten to ``unnest(flatten(filter(…)))`` and
      handed to the existing single/multi machinery, so embedding in
      expressions, DISTINCT, and trailing ORDER/LIMIT compose for free
      (probed: ``unnest([[1,2],[3]], recursive := true) + 1`` → 2,3,4).
      Depth comes from the ANALYZED Spark type of the argument, never
      from guessing. When the statement holds MORE THAN ONE unnest
      site, DuckDB zips recursive unnests LEVEL-WISE — outer lists zip
      first, then each row's inner lists zip again (probed:
      ``unnest([10,20,30]), unnest([[1],[2,3]], recursive := true)``
      repeats the plain item per INNER row, 6 rows) — which a
      flatten-then-zip would silently mis-order, so multi-site
      statements with a depth≥2 recursive site stay whole and fail
      loud. A depth-1 recursive flag is a no-op (probed) and is safely
      stripped even beside other sites.
    - ``unnest(list_of_structs, recursive := true)`` explodes AND
      unpacks each struct into columns named after its fields, nested
      structs recursively, lists inside structs untouched, NULL
      elements kept as all-NULL field rows, aliases ignored (all
      probed) — rewritten to an ``explode(…) AS __arnab_ru`` wrapping
      subquery plus leaf-field projections; a bare ``*`` item becomes
      ``* EXCEPT (__arnab_ru)`` so the helper never leaks (the round-6
      star-leak class). Requires the site to be a whole select item
      and the only list-unnest site (zip with a column-expanding
      unnest is unprovable); qualified stars abort.
    - ``unnest(struct)`` — with or without the flag — is pure column
      expansion with NO row multiplication: the item is replaced by
      per-field references ``(arg).f AS f`` in place (probed: a NULL
      struct still yields its row with NULL fields, matching plain
      projection semantics). Expansion items are plain expressions, so
      they compose with any other unnest in the list exactly like
      DuckDB broadcasts them across zip/pad rows (probed:
      ``unnest({'a':7}), unnest([1,2]), unnest([10])`` → a=7 on the
      pad row too). Embedded struct unnest (``unnest(s).a``,
      ``unnest(s) + 1``) is a DuckDB BinderError — staying loud IS
      parity.

    ``max_depth := N`` (round 9, integer literals) unnests
    min(N, type depth) levels — the same flatten wraps capped at N-1
    (probed: N saturates at the type depth; NULL sublists drop; a
    sole deep site zips flat with nothing else, and a deep site
    BESIDE another unnest zips level-wise in DuckDB — hence it rides
    the recursive sole-deep-site guard). Non-integer or non-positive
    depths, struct arguments/leaves under a cap, and two flags at
    once (a DuckDB BinderError) stay whole (loud).
    GROUP BY/HAVING/QUALIFY/WINDOW tails abort as in the sibling
    passes; set-op arms split and rewrite independently; a WITH prefix
    rides along as the probe prefix so CTE-sourced arguments type.
    DuckDB rejects ORDER BY references to struct-expanded field names
    (BinderError, probed) — the rewrite accepts them, a strict
    superset on statements no working DuckDB corpus can contain."""
    sites = list(_UNNEST_CALL.finditer(lexer.mask(sql)))
    if not sites or spark is None:
        return sql
    # cheap pre-check: act only when a := flag is present OR a probe
    # could reveal a struct — both need the session; flag detection is
    # textual so unflagged statements only pay probes on their
    # whole-item sites (cached per session).
    if re.match(r"(?is)^\s*WITH\b", sql):
        sel_idx, _ = lexer.find_top_level(sql, ("select",))
        if sel_idx <= 0:
            return sql
        body = _rewrite_struct_recursive_unnest(
            sql[sel_idx:], spark, probe_prefix=sql[:sel_idx]
        )
        return sql if body == sql[sel_idx:] else sql[:sel_idx] + body
    # set-op chains: arms rewrite independently (probed in the sibling
    # pass); trailing ORDER/LIMIT stays bound to the whole chain
    out = _rewrite_set_op_arms(
        sql, lambda arm: _rewrite_struct_recursive_unnest(arm, spark, probe_prefix)
    )
    if out is not None:
        return out
    if re.match(r"(?is)^\s*SELECT\s+DISTINCT\s+ON\b", sql):
        return sql
    head = re.match(r"(?is)^\s*SELECT\s+(DISTINCT\s+)?", sql)
    if not head:
        return sql
    distinct_kw = "DISTINCT " if head.group(1) else ""
    list_start = head.end()
    from_idx, _ = lexer.find_top_level(sql, ("from",), list_start)
    if from_idx < 0:
        select_list, tail = sql[list_start:], ""
    else:
        select_list, tail = sql[list_start:from_idx], sql[from_idx:]
    suffix = ""
    seg = tail if tail else select_list
    b_idx, b_word = lexer.find_top_level(
        seg, _UNNEST_TAIL_BLOCKERS + ("order", "limit", "offset"),
        1 if tail else 0,
    )
    if b_idx >= 0:
        if b_word in _UNNEST_TAIL_BLOCKERS:
            return sql
        suffix = seg[b_idx:]
        if tail:
            tail = tail[:b_idx]
        else:
            select_list = select_list[:b_idx]
    list_end = from_idx if from_idx >= 0 else list_start + len(select_list)
    if any(m.start() < list_start or m.start() >= list_end for m in sites):
        return sql  # unnest outside the select list (WHERE is a
        #             DuckDB BinderError; FROM-unnest is a TVF shape
        #             the sibling passes own)

    from pyspark.sql.types import ArrayType, NullType, StructType

    def _site_parts(text: str):
        """(arg, flag_state, span) per unnest site in ``text``;
        flag_state: None = no flag, True/False = recursive value,
        'bad' = max_depth / unparseable."""
        out = []
        for m in _UNNEST_CALL.finditer(lexer.mask(text)):
            got = _call_args(text, m.end() - 1)
            if got is None:
                return None
            args, after = got
            if not args:
                return None
            flag = None
            if len(args) > 2:
                # two flags at once is a DuckDB BinderError ("only
                # supports a single additional argument") — loud IS
                # parity
                flag = "bad"
            for extra in args[1:] if flag is None else ():
                fm = _UNNEST_FLAG.match(extra)
                if not fm:
                    flag = "bad"
                    break
                val = fm.group(2).strip().lower()
                if fm.group(1).lower() == "max_depth":
                    # round 9: integer-literal depths lift (probed:
                    # max_depth := N unnests min(N, type depth) levels;
                    # N values DuckDB rejects — 0, negative — and
                    # non-integer spellings stay loud)
                    if re.match(r"^\d+$", val) and int(val) >= 1:
                        flag = ("depth", int(val))
                    else:
                        flag = "bad"
                        break
                elif val in _TRUE_SPELLINGS:
                    flag = True
                elif val in _FALSE_SPELLINGS:
                    flag = False
                else:
                    flag = "bad"
                    break
            out.append((args[0], flag, (m.start(), after)))
        return out

    items = lexer.split_top_level(select_list)
    # pass 1: classify every site; count list-unnest sites that will
    # REMAIN after struct expansion (the sole-site proof for the
    # depth≥2 rewrites)
    plan: list[tuple] = []  # (item_idx, kind, payload)
    remaining_list_sites = 0
    recursive_deep_sites = 0
    any_change = False
    for i, item in enumerate(items):
        parts = _site_parts(item)
        if parts is None:
            return sql
        if not parts:
            continue
        stripped = item.strip()
        whole = None
        if len(parts) == 1:
            core = stripped
            wm = re.match(r"(?is)^unnest\s*\(", core)
            if wm:
                got = _call_args(core, wm.end() - 1)
                if got is not None:
                    _args, after = got
                    rest = core[after:]
                    al = re.match(
                        r'(?is)^(?:\s+(?:AS\s+)?(?:[A-Za-z_]\w*|"[^"]+"|`[^`]+`))?\s*$',
                        rest,
                    )
                    if al is not None:
                        whole = (rest.strip(), after)
        arg, flag, _span = parts[0]
        if whole is not None:
            if flag == "bad":
                return sql
            # every whole-item site is typed (struct unnest has no
            # textual marker); the per-session cache makes repeats free
            dtype = _probe_expr_type(arg, probe_prefix, tail, spark)
            if isinstance(dtype, StructType):
                if isinstance(flag, tuple):
                    return sql  # max_depth on a struct: unprobed
                    #             level-counting semantics — stay loud
                plan.append((i, "struct", (arg, bool(flag), dtype)))
                any_change = True
                continue
            if isinstance(dtype, ArrayType):
                depth, leaf = 0, dtype
                while isinstance(leaf, ArrayType):
                    depth += 1
                    leaf = leaf.elementType
                if flag is True and depth >= 1:
                    if isinstance(leaf, StructType):
                        plan.append(
                            (i, "explode_struct", (arg, depth, leaf))
                        )
                        recursive_deep_sites += 1
                        any_change = True
                        continue
                    if depth >= 2:
                        plan.append((i, "flatten", (arg, depth, whole[0])))
                        recursive_deep_sites += 1
                        remaining_list_sites += 1
                        any_change = True
                        continue
                if isinstance(flag, tuple):
                    # max_depth := N unnests min(N, depth) levels
                    # (probed, incl. N > depth saturating); a deep site
                    # zips LEVEL-WISE with other unnests (probed), so it
                    # rides the same sole-deep-site guard recursive uses
                    if isinstance(leaf, StructType):
                        return sql  # struct leaf under a depth cap:
                        #             unprobed — stay loud
                    levels = min(flag[1], depth)
                    if levels >= 2:
                        plan.append((i, "flatten", (arg, levels, whole[0])))
                        recursive_deep_sites += 1
                        remaining_list_sites += 1
                        any_change = True
                        continue
                    plan.append((i, "strip", (arg, whole[0])))
                    remaining_list_sites += 1
                    any_change = True
                    continue
                # depth-1 recursive, or recursive := false: strip flag
                if flag is not None:
                    plan.append((i, "strip", (arg, whole[0])))
                    remaining_list_sites += 1
                    any_change = True
                    continue
                remaining_list_sites += 1
                continue  # plain array unnest — existing machinery
            if flag is not None:
                return sql  # flagged but untypeable/NULL → stay loud
            if isinstance(dtype, NullType):
                remaining_list_sites += 1
                continue
            remaining_list_sites += 1  # unprobeable plain site: assume list
            continue
        # embedded site(s): only flagged ARRAY sites are rewritten here
        # (flag-stripped / flattened in place); flagged struct or
        # unprovable → whole statement stays loud; unflagged embedded
        # sites flow to the existing zip machinery untouched
        new_item = item
        for arg, flag, (s0, e0) in sorted(
            parts, key=lambda p: p[2][0], reverse=True
        ):
            if flag == "bad":
                return sql
            if flag is None:
                remaining_list_sites += 1
                continue
            dtype = _probe_expr_type(arg, probe_prefix, tail, spark)
            if not isinstance(dtype, ArrayType):
                return sql  # embedded struct unnest is a DuckDB
                #             BinderError; unprovable stays loud
            depth, leaf = 0, dtype
            while isinstance(leaf, ArrayType):
                depth += 1
                leaf = leaf.elementType
            if isinstance(leaf, StructType):
                return sql  # embedded column-expansion: unprovable
            if flag is True and depth >= 2:
                wrapped = _flatten_wrap(arg, depth - 1)
                recursive_deep_sites += 1
            elif isinstance(flag, tuple) and min(flag[1], depth) >= 2:
                wrapped = _flatten_wrap(arg, min(flag[1], depth) - 1)
                recursive_deep_sites += 1
            else:
                wrapped = f"({arg})"
            new_item = new_item[:s0] + f"unnest({wrapped})" + new_item[e0:]
            remaining_list_sites += 1
            any_change = True
        if new_item != item:
            plan.append((i, "replace", new_item))
    if not any_change:
        return sql
    if recursive_deep_sites and remaining_list_sites > 1:
        return sql  # level-wise zip semantics — unprovable, stay loud
    if recursive_deep_sites > 1:
        return sql
    # pass 2: apply
    explode_wrap = None  # (wrapped_expr, leaf_struct)
    new_items = list(items)
    for i, kind, payload in plan:
        if kind == "struct":
            arg, rec, dtype = payload
            new_items[i] = ", ".join(
                _struct_leaf_items(f"({arg})", dtype, rec)
            )
        elif kind == "strip":
            arg, alias_rest = payload
            new_items[i] = f"unnest(({arg}))" + (
                f" {alias_rest}" if alias_rest else ""
            )
        elif kind == "flatten":
            arg, depth, alias_rest = payload
            new_items[i] = f"unnest({_flatten_wrap(arg, depth - 1)})" + (
                f" {alias_rest}" if alias_rest else ""
            )
        elif kind == "replace":
            new_items[i] = payload
        elif kind == "explode_struct":
            arg, depth, leaf = payload
            if explode_wrap is not None:
                return sql
            explode_wrap = (_flatten_wrap(arg, depth - 1), leaf)
            new_items[i] = ", ".join(
                _struct_leaf_items("__arnab_ru", leaf, True)
            )
    if explode_wrap is None:
        rebuilt = (
            sql[:list_start]
            + ", ".join(x.strip() for x in new_items)
            + (" " if tail or suffix else "")
            + tail
            + suffix
        )
        return rebuilt.rstrip()
    # explode path: wrap the FROM, guard the stars
    wrapped, _leaf = explode_wrap
    for i, it in enumerate(new_items):
        st = it.strip()
        if re.match(rf"(?is)^{_IDENT}\s*\.\s*\*", st):
            return sql  # qualified star: coverage unprovable here
        sm = re.match(r"(?is)^\*\s*(?:EXCEPT\s*\((.*)\))?\s*$", st)
        if sm:
            cols = (sm.group(1) + ", " if sm.group(1) else "") + "__arnab_ru"
            new_items[i] = f"* EXCEPT ({cols})"
    for it in new_items:
        if re.search(r"(?is)\bover\s*\(", lexer.mask(it)):
            return sql  # windows evaluate pre-unnest in DuckDB — the
            #             hoist machinery lives in the zip pass, not here
    inner = (
        f"SELECT *, explode({wrapped}) AS __arnab_ru {tail}"
        if tail
        else f"SELECT explode({wrapped}) AS __arnab_ru"
    )
    return (
        f"SELECT {distinct_kw}{', '.join(x.strip() for x in new_items)} "
        f"FROM ({inner}){' ' + suffix if suffix else ''}"
    ).rstrip()


#: DuckDB list functions whose Spark translation needs argument
#: surgery, not just a rename. Null contract verified differentially:
#: DuckDB's set predicates IGNORE null elements but return NULL on a
#: NULL input array — hence the filter() strip + explicit NULL guard.
_ARG_CALL_REWRITES = {
    "list_reverse_sort": (
        1,
        lambda a: f"sort_array({a[0]}, false)",
    ),
    # DuckDB's one-arg log() is BASE-10 (Postgres heritage); Spark's is
    # natural log — the nastiest silent-wrongness trap in the scalar
    # namespace. Two-arg log(base, x) is identical in both engines and
    # passes through via the arity check.
    "log": (
        1,
        lambda a: f"log10({a[0]})",
    ),
    "sha256": (
        1,
        lambda a: f"sha2({a[0]}, 256)",
    ),
    # DuckDB epoch(ts) returns DOUBLE seconds WITH the fraction; both
    # engines then perform the identical exact-int-to-double divide
    "epoch": (
        1,
        lambda a: f"(CAST(unix_micros(CAST({a[0]} AS TIMESTAMP)) AS DOUBLE) / 1000000)",
    ),
    "epoch_ms": (
        1,
        lambda a: f"unix_millis(CAST({a[0]} AS TIMESTAMP))",
    ),
    "epoch_us": (
        1,
        lambda a: f"unix_micros(CAST({a[0]} AS TIMESTAMP))",
    ),
    "list_has_any": (
        2,
        lambda a: (
            f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
            f"ELSE arrays_overlap(filter({a[0]}, __ae -> __ae IS NOT NULL), "
            f"filter({a[1]}, __ae -> __ae IS NOT NULL)) END"
        ),
    ),
    "list_has_all": (
        2,
        # array_except rather than forall+array_contains: the latter
        # type-errors when the needle side is an all-NULL (void-typed)
        # literal, while array_except coerces and the null-stripped
        # needle list makes "nothing left outside a" ≡ has_all
        lambda a: (
            f"CASE WHEN ({a[0]}) IS NULL OR ({a[1]}) IS NULL THEN NULL "
            f"ELSE size(array_except(filter({a[1]}, __ae -> __ae IS NOT NULL), "
            f"{a[0]})) = 0 END"
        ),
    ),
    # C-style format strings (see _dialect_datetime)
    "strftime": (2, _strf_rewrite("date_format")),
    "strptime": (2, _strp_rewrite(False)),
    "try_strptime": (2, _strp_rewrite(True)),
}


def _substr_zero(a: list[str]) -> str | None:
    """Postgres/DuckDB ``substr(s, 0, n)`` counts position 0 against the
    length (result 'ab' for ('abcdef', 0, 3)) while Spark clamps 0 to 1
    (result 'abc') — rewrite the literal-zero case; other starts agree
    (1-based, negative = from the end, both engines)."""
    if a[1].strip() != "0":
        return None
    if len(a) == 2:
        return f"substr({a[0]}, 1)"
    return f"substr({a[0]}, 1, greatest(({a[2]}) - 1, 0))"


_ARG_CALL_REWRITES["substr"] = ((2, 3), _substr_zero)
_ARG_CALL_REWRITES["substring"] = ((2, 3), _substr_zero)


def _left_right_negative(side: str):
    """DuckDB's negative count drops |n| characters from the OTHER end
    (left('abc', -1) = 'ab'); Spark returns ''. Rewritten for integer
    literals; dynamic counts keep Spark's semantics (documented)."""

    def build(a: list[str]) -> str | None:
        lit = a[1].strip()
        if not re.match(r"^-\d+$", lit):
            return None
        if side == "left":
            return f"substr({a[0]}, 1, greatest(length({a[0]}) + ({lit}), 0))"
        return f"substr({a[0]}, 1 - ({lit}))"

    return build


_ARG_CALL_REWRITES["left"] = (2, _left_right_negative("left"))
_ARG_CALL_REWRITES["right"] = (2, _left_right_negative("right"))

# Day-numbering parity (round-4 audit, widened round 5): DuckDB
# dayofweek/weekday/'dow' is Sunday=0..Saturday=6 while Spark's
# dayofweek is Sunday=1..7 and Spark's weekday is Monday=0..Sunday=6 —
# a weekend filter like `dayofweek(d) IN (0, 6)` silently selects
# Friday+Saturday on Spark. Every replacement is spelled through
# Spark's DOW_ISO extract field (Mon=1..Sun=7, verified; DuckDB has no
# such field name) so the rescan loop cannot re-match it:
#   DuckDB dow-family  ≡ extract(DOW_ISO FROM x) % 7   (Sun=0..Sat=6)
#   DuckDB isodow      ≡ extract(DOW_ISO FROM x)       (Mon=1..Sun=7)
_ARG_CALL_REWRITES["dayofweek"] = (
    1,
    lambda a: f"(extract(DOW_ISO FROM {a[0]}) % 7)",
)
# DuckDB weekday() is an alias of dayofweek() (Sun=0); Spark's weekday
# is Mon=0 — a silent off-by-shift without this rewrite (probed r5).
_ARG_CALL_REWRITES["weekday"] = (
    1,
    lambda a: f"(extract(DOW_ISO FROM {a[0]}) % 7)",
)
_ARG_CALL_REWRITES["isodow"] = (
    1,
    lambda a: f"extract(DOW_ISO FROM {a[0]})",  # Mon=1..Sun=7 in DuckDB
)
_ARG_CALL_REWRITES["monthname"] = (
    1,
    lambda a: f"date_format({a[0]}, 'MMMM')",
)
_ARG_CALL_REWRITES["dayname"] = (
    1,
    lambda a: f"date_format({a[0]}, 'EEEE')",
)


def _date_part_fields(a: list[str]) -> str | None:
    m = _lit_match(a[0])
    if not m:
        return None
    field = m.group(1).lower()
    if field in ("dow", "dayofweek", "weekday"):
        return f"(extract(DOW_ISO FROM {a[1]}) % 7)"
    if field == "isodow":
        return f"extract(DOW_ISO FROM {a[1]})"
    return None  # every other field verified value-identical — passthrough


_ARG_CALL_REWRITES["date_part"] = (2, _date_part_fields)
_ARG_CALL_REWRITES["datepart"] = (2, _date_part_fields)


def _extract_field(a: list[str]) -> str | None:
    """``extract(dow FROM x)`` syntax parity (round-5 advice): the
    bare-keyword field form bypassed ``date_part`` handling, so
    DuckDB's Sunday=0 dow passed through to Spark's Sunday=1 DOW —
    a silent off-by-one. Same DOW_ISO spellings as the function forms;
    every other field passes through (verified value-identical)."""
    m = re.match(r"(?is)^\s*(\w+)\s+FROM\s+(.*?)\s*$", a[0])
    if not m:
        return None
    field, expr = m.group(1).lower(), m.group(2)
    if field in ("dow", "dayofweek", "weekday"):
        return f"(extract(DOW_ISO FROM {expr}) % 7)"
    if field == "isodow":
        return f"extract(DOW_ISO FROM {expr})"
    return None


_ARG_CALL_REWRITES["extract"] = (1, _extract_field)

# DuckDB type names Spark spells differently in CAST position (round-5
# composition fuzz: `CAST(x AS VARCHAR)` is idiomatic DuckDB but Spark's
# bare VARCHAR demands a length). Value-identical mappings only:
# DuckDB VARCHAR/TEXT ≡ Spark STRING, DuckDB BLOB/BYTEA ≡ Spark BINARY.
# VARCHAR(n) stays untouched (Spark accepts it). Scope is CAST/TRY_CAST
# and `::type` — DDL column types stay loud.
_CAST_TYPE_MAP = {"varchar": "STRING", "text": "STRING", "blob": "BINARY", "bytea": "BINARY"}


def _cast_type_rewrite(fn_name: str):
    def build(a: list[str]) -> str | None:
        m = re.match(r"(?is)^(.*\S)\s+AS\s+([A-Za-z_]\w*)\s*$", a[0])
        if not m:
            return None
        repl = _CAST_TYPE_MAP.get(m.group(2).lower())
        if repl is None:
            return None  # every other type passes through (incl. STRING)
        return f"{fn_name}({m.group(1)} AS {repl})"

    return build


_ARG_CALL_REWRITES["cast"] = (1, _cast_type_rewrite("CAST"))
_ARG_CALL_REWRITES["try_cast"] = (1, _cast_type_rewrite("TRY_CAST"))

_POSTFIX_CAST_TYPE = re.compile(
    r"(?is)::\s*(varchar|text|blob|bytea)\b(?!\s*\()"
)


def _rewrite_postfix_cast_types(sql: str, spark=None) -> str:
    """``x::VARCHAR`` → ``x::STRING`` (same mapping as CAST, same
    code-only scope)."""
    return lexer.sub(
        _POSTFIX_CAST_TYPE,
        lambda m: "::" + _CAST_TYPE_MAP[m.group(1).lower()],
        sql,
    )

# count of distinct non-null elements; NULL in → NULL, [] → 0
# (all three cases verified against the pinned DuckDB)
for _name in ("list_unique", "array_unique"):
    _ARG_CALL_REWRITES[_name] = (
        1,
        lambda a: (
            f"size(array_distinct(filter({a[0]}, __ae -> __ae IS NOT NULL)))"
        ),
    )


def _datediff_units(a: list[str]) -> str | None:
    """DuckDB 3-arg date_diff/datediff counts BOUNDARY CROSSINGS per
    unit — not elapsed intervals, so Spark's months_between /
    timestampdiff are the WRONG mapping. Each supported unit expands to
    exact integer arithmetic whose agreement with DuckDB was verified
    by a 60-case random differential sweep (round 4): calendar units
    via year/month/quarter components, sub-day units via floor-divided
    epoch micros. Unknown units stay loud. Note the argument flip:
    DuckDB is (unit, start, end)."""
    m = _lit_match(a[0])
    if not m:
        return None
    unit = m.group(1).lower()
    s, e = a[1], a[2]

    def us(x: str) -> str:
        return f"unix_micros(CAST({x} AS TIMESTAMP))"

    if unit in ("day", "days", "d", "dayofmonth"):
        inner = f"datediff({e}, {s})"
    elif unit in ("month", "months", "mon"):
        inner = f"(year({e}) * 12 + month({e})) - (year({s}) * 12 + month({s}))"
    elif unit in ("year", "years", "y", "yr"):
        inner = f"year({e}) - year({s})"
    elif unit in ("quarter", "quarters"):
        inner = f"(year({e}) * 4 + quarter({e})) - (year({s}) * 4 + quarter({s}))"
    elif unit in ("hour", "hours", "h"):
        inner = f"FLOOR({us(e)} / 3600000000) - FLOOR({us(s)} / 3600000000)"
    elif unit in ("minute", "minutes", "min"):
        inner = f"FLOOR({us(e)} / 60000000) - FLOOR({us(s)} / 60000000)"
    elif unit in ("second", "seconds", "s", "sec"):
        inner = f"FLOOR({us(e)} / 1000000) - FLOOR({us(s)} / 1000000)"
    elif unit in ("millisecond", "milliseconds", "ms"):
        inner = f"FLOOR({us(e)} / 1000) - FLOOR({us(s)} / 1000)"
    elif unit in ("microsecond", "microseconds", "us"):
        inner = f"{us(e)} - {us(s)}"
    elif unit in ("decade", "decades"):
        inner = f"FLOOR(year({e}) / 10) - FLOOR(year({s}) / 10)"
    elif unit in ("century", "centuries"):
        inner = f"FLOOR(year({e}) / 100) - FLOOR(year({s}) / 100)"
    elif unit in ("millennium", "millennia"):
        inner = f"FLOOR(year({e}) / 1000) - FLOOR(year({s}) / 1000)"
    elif unit in ("week", "weeks", "w", "weekofyear"):
        # DuckDB 1.0 week diff is NOT pure Monday-boundary counting:
        # it computes epoch_seconds(monday_of_week(d)) / SECS_PER_WEEK
        # with C trunc-toward-zero division, so the Mondays 1969-12-29
        # and 1970-01-05 BOTH land in week 0 and exactly one boundary
        # is lost on every epoch-crossing span (probed round 8: the
        # model below matches 2000/2000 random date pairs over ±164
        # years and 500/500 random timestamps; the r4-era "asymmetric
        # across the epoch" note does not reproduce on the pinned
        # DuckDB — diff is antisymmetric by construction here). Spark
        # spelling: days-from-epoch of the week's Monday, then DIV 7 —
        # Spark DIV is Java integer division, i.e. the same
        # trunc-toward-zero. Monday offset via extract(DOW_ISO)-1
        # (Mon=1..Sun=7 → Mon=0): DOW_ISO is the TARGET spelling of the
        # dow-family passes, so later rewrites leave it alone — a bare
        # weekday() here would be re-interpreted as DuckDB's Sun=0
        # weekday by the dow-family pass and shift the boundary.
        def wk(x: str) -> str:
            d = f"CAST({x} AS DATE)"
            return (
                f"((datediff({d}, DATE '1970-01-01') "
                f"- (extract(DOW_ISO FROM {d}) - 1)) DIV 7)"
            )

        inner = f"{wk(e)} - {wk(s)}"
    else:
        # unknown units stay loud
        return None
    return f"CAST(({inner}) AS BIGINT)"


_ARG_CALL_REWRITES["date_diff"] = (3, _datediff_units)
_ARG_CALL_REWRITES["datediff"] = (3, _datediff_units)
# DuckDB's xor() FUNCTION is Spark's ^ OPERATOR (and DuckDB's ^
# operator is power — see _rewrite_power_ops, which runs BEFORE this
# pass so the ^ emitted here survives as XOR).
_ARG_CALL_REWRITES["xor"] = (
    2,
    lambda a: f"(({a[0].strip()}) ^ ({a[1].strip()}))",
)

#: the dispatch regex over every name registered above
_ARG_CALL = re.compile(
    r"\b(" + "|".join(_ARG_CALL_REWRITES) + r")\s*\(", re.IGNORECASE
)


def _rewrite_arg_transform_calls(sql: str, spark=None) -> str:
    """Expand the list functions in :data:`_ARG_CALL_REWRITES`
    innermost-last (rescan after each substitution so nested calls
    resolve); an arg-count mismatch leaves the call for Spark to
    reject loudly."""
    guard = 0
    pos = 0
    masked = lexer.mask(sql)
    while True:
        guard += 1
        if guard > 2000:
            # a silent partial transpile is exactly the failure mode
            # this module promises not to have (round-5 advice): fail
            # loudly instead of returning a half-rewritten statement.
            raise ValueError(
                "dialect rewrite did not converge after 2000 substitutions; "
                "statement too pathological to transpile safely"
            )
        m = _ARG_CALL.search(masked, pos)
        if not m:
            return sql
        parsed = _call_args(sql, m.end() - 1)
        if parsed is None:
            return sql
        args, end = parsed
        arity, build = _ARG_CALL_REWRITES[m.group(1).lower()]
        arities = arity if isinstance(arity, tuple) else (arity,)
        repl = build(args) if len(args) in arities else None
        if repl is None:  # arity mismatch / untranslatable: leave, loud
            pos = m.end()
            continue
        sql = sql[: m.start()] + repl + sql[end:]
        # Both ends of the replaced call are code (the match is on the
        # mask and _call_args closes the call at depth 0), so the mask
        # outside it stands and only repl needs lexing: no full-statement
        # rescan per substitution (round-5 advice: that made long
        # many-call statements O(n²)).
        masked = masked[: m.start()] + lexer.mask(repl) + masked[end:]
        pos = m.start()


_STRUCT_PAIR = re.compile(r"^\s*'([^'\\]*)'\s*:(.*)$", re.DOTALL)


_INNERMOST_BRACES = re.compile(r"\{[^{}]*\}")


def _rewrite_struct_literals(sql: str, spark=None) -> str:
    """DuckDB struct literals ``{'k': v, ...}`` → Spark's
    ``named_struct('k', v, ...)``. Innermost-first so nesting works;
    a brace group whose members are not all ``'key': value`` pairs
    (e.g. a Jinja remnant) is left untouched. Code only, like the
    list-literal scanner."""
    while True:
        # find an innermost { ... } (no nested braces) in code
        found = _INNERMOST_BRACES.search(lexer.mask(sql))
        if not found:
            return sql
        s, e = found.start(), found.end() - 1
        body = sql[s + 1: e]
        parts = lexer.split_top_level(body)
        pairs = [_STRUCT_PAIR.match(p) for p in parts]
        if body.strip() and all(pairs):
            inner = ", ".join(f"'{m.group(1)}', {m.group(2).strip()}" for m in pairs)
            sql = sql[:s] + f"named_struct({inner})" + sql[e + 1:]
        else:
            # not a struct literal: mask the braces so the scan advances
            sql = sql[:s] + "\x00" + sql[s + 1: e] + "\x01" + sql[e + 1:]
    return sql


def _unmask_braces(sql: str, spark=None) -> str:
    return sql.replace("\x00", "{").replace("\x01", "}")


def _find_subscript(sql: str, min_idx: int) -> int:
    """Index of the first subscript-opening ``[`` at ≥ ``min_idx``: a
    ``[`` of code right after a word, ``)``, ``]``, literal or quoted
    identifier (whitespace and comments aside). Scans from 0 so the
    preceding-token judgment holds when resuming mid-statement."""
    prev = ""
    for kind, start, end in lexer.tokens(sql):
        if kind in (lexer.STRING, lexer.IDENT):
            prev = "'"
        elif kind == lexer.CODE:
            for i in range(start, end):
                ch = sql[i]
                if ch == "[":
                    if prev and (prev.isalnum() or prev in ("_", ")", "]", "'")):
                        if i >= min_idx:
                            return i
                    prev = "["
                elif not ch.isspace():
                    prev = ch
    return -1


def _subscript_base_start(
    sql: str, idx: int, spans: list[tuple[int, int]]
) -> tuple[int | None, int]:
    """Walk back from the ``[`` at ``idx`` of the mask ``sql`` over the
    postfix chain — identifier/qualifier runs, quoted
    literals/identifiers, balanced trailing groups — returning
    (chain_start, base_end). ``spans`` are the text's
    :func:`lexer.literal_spans`: the walk steps over each whole, so a
    bracket or paren INSIDE a string (``split(x, '(')[1]``) cannot
    desynchronize it; comments are blank in the mask, so whitespace
    to the walk. Returns (None, end) when a trailing group never
    closes."""

    def span_start_at(k: int) -> int | None:
        return next((s for s, e in spans if s <= k < e), None)

    k = idx - 1
    while k >= 0 and sql[k].isspace():  # DuckDB allows `arr [1]`
        k -= 1
    end = k
    while k >= 0:
        s = span_start_at(k)
        if s is not None:
            k = s - 1
            continue
        c = sql[k]
        if c in (")", "]"):
            d = 0
            while k >= 0:
                s = span_start_at(k)
                if s is not None:
                    k = s - 1
                    continue
                if sql[k] in (")", "]"):
                    d += 1
                elif sql[k] in ("(", "["):
                    d -= 1
                    if d == 0:
                        break
                k -= 1
            if k < 0:
                return None, end
            k -= 1
        elif c.isalnum() or c in ("_", "."):
            k -= 1
        else:
            break
    return k + 1, end


_INT_LITERAL = re.compile(r"-?\d+\Z")


_ARRAY_TYPE_SPELLING = re.compile(
    r"(?is)\b([A-Za-z_]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
    r"((?:\s*\[\s*\])+)"
)


def _rewrite_array_type_spellings(sql: str, spark=None) -> str:
    """DuckDB's postfix array-type spelling ``T[]`` — including nested
    ``T[][]`` and parameterized ``DECIMAL(18,6)[]`` — → Spark's
    ``ARRAY<T>``, with the element name routed through the same
    VARCHAR/TEXT/BLOB mapping the CAST pass uses (``VARCHAR[]`` →
    ``ARRAY<STRING>``: Spark's bare VARCHAR demands a length). The
    spelling is unambiguous: an EMPTY bracket pair is invalid as a
    subscript in both engines, so ``ident[]`` can only be a type
    (code only). Without this pass the subscript rewrite
    mangled ``CAST(NULL AS INT[])`` into ``element_at(INT, )`` —
    still a loud parse error, but an incomprehensible one for a
    legitimate DuckDB idiom. Fixed-size ``T[3]`` has no Spark
    equivalent and stays loud; ``STRUCT(…)[]`` (non-numeric parens)
    is out of the token model and stays loud too."""

    def sub(m: re.Match) -> str:
        base = m.group(1).strip()
        bare = re.match(r"(?is)^([A-Za-z_]\w*)$", base)
        if bare:
            base = _CAST_TYPE_MAP.get(bare.group(1).lower(), base)
        depth = m.group(2).count("[")
        return "ARRAY<" * depth + base + ">" * depth

    return lexer.sub(_ARRAY_TYPE_SPELLING, sub, sql)


def _rewrite_subscripts(sql: str, spark=None) -> str:
    """Non-string-key, non-slice subscripts → ``element_at(base, idx)``.

    DuckDB indexes lists 1-based (negative = from the end); Spark's
    ``[]`` is 0-based — a silent-wrongness trap for ported model SQL.
    Spark's ``element_at`` is 1-based with DuckDB's negative-index
    semantics for arrays AND does map lookup, so it is the universal
    translation for every subscript except:

    - slices (``[a:b]``): left in place → Spark parse error, loud;
    - string-key access (``x['k']``): identical syntax/semantics in
      both engines for maps and structs — preserved;
    - string-LITERAL bases (``'abc'[2]`` — DuckDB 1-based character
      pick): rewritten to ``substring(base, n, 1)`` when the index is a
      non-zero integer literal (bit-identical semantics incl. negative
      indexes); index 0 (DuckDB: empty string, Spark substring: first
      char) or dynamic indexes are left in place → Spark analysis
      error, loud.

    The base is found by a whitespace-tolerant backward walk over the
    code that steps over whole literals and identifiers; a base that still
    cannot be resolved RAISES (fail-loud doctrine — the round-3 advice
    showed the silent skip ships 0-based reads)."""
    guard = 0
    pos = 0
    while True:
        guard += 1
        if guard > 1000:
            raise ArnabError(
                "subscript rewrite did not converge (>1000 sites): "
                f"{sql[:200]!r}"
            )
        idx = _find_subscript(sql, pos)
        if idx < 0:
            return sql
        close = lexer.group_end(sql, idx)
        if close is None:
            return sql  # unterminated subscript: Spark's parser rejects it
        j = close - 1
        content = sql[idx + 1: j]
        if not content.strip():
            pos = j + 1  # empty brackets: a type spelling the array-
            continue     # type pass didn't model — leave whole, loud
        if (
            content.strip().startswith("'")
            or lexer.find_top_level(content, (":",))[0] >= 0
        ):
            pos = j + 1  # string-key access / slice — preserved as-is
            continue
        start, end = _subscript_base_start(
            lexer.mask(sql), idx, lexer.literal_spans(sql)
        )
        base = sql[start: end + 1] if start is not None else ""
        if not base.strip() or not lexer.balanced(base):
            raise ArnabError(
                "cannot resolve the base expression of a 1-based DuckDB "
                f"subscript (refusing to ship Spark's 0-based read): "
                f"...{sql[max(0, idx - 40): j + 1]!r}"
            )
        inner = _rewrite_subscripts(content)
        if base[0] == "'" and base[-1] == "'":
            # DuckDB string-literal character pick, 1-based
            lit = inner.strip()
            if _INT_LITERAL.match(lit) and lit != "0":
                sql = sql[:start] + f"substring({base}, {lit}, 1)" + sql[j + 1:]
                pos = start
            else:
                pos = j + 1  # index 0 / dynamic: diverging — leave, loud
            continue
        sql = sql[:start] + f"element_at({base}, {inner})" + sql[j + 1:]
        pos = start


#: words that, when they END just before a +/- sign, mark it as UNARY
#: (operand of the sign, not a binary subtraction) — clause keywords and
#: connectives a value expression can directly follow.
_SIGN_UNARY_WORDS = frozenset(
    "select where and or not in when then else by distinct all having on "
    "case between is like ilike union intersect except values return "
    "returning from limit offset set as if".split()
)

#: forward-scan words that must NOT be captured as a power right
#: operand (composite expressions whose extent a primary walk cannot
#: judge — leave the operator alone, Spark raises a loud parse error).
_POWER_RIGHT_STOP = frozenset("case not exists select interval".split())

_NUM_FWD = re.compile(r"(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?")
_SCI_SPLIT = re.compile(r"(?:\d+\.?\d*|\.\d+)[eE][+-]\Z")


def _sign_is_unary(sql: str, k: int) -> bool:
    """True when the ``+``/``-`` at index ``k`` is a unary sign: it is
    preceded (skipping whitespace) by nothing, an operator/opening
    punctuation, or a clause keyword from :data:`_SIGN_UNARY_WORDS`."""
    j = k - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j < 0:
        return True
    c = sql[j]
    if c in "([{,=<>+-*/%|&^:":
        return True
    if c.isalnum() or c == "_":
        e = j
        while j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
            j -= 1
        return sql[j + 1 : e + 1].lower() in _SIGN_UNARY_WORDS
    return False


def _power_left_start(sql: str, op_idx: int, spans) -> int | None:
    """Start index of the left operand of the power operator at
    ``op_idx`` of the mask ``sql`` — the tightest-binding primary (postfix chain walked by
    :func:`_subscript_base_start`), extended back over ``::type`` cast
    chains (``::`` binds tighter than ``^`` — probed: ``2::INT ^ 2``
    is 4.0 in DuckDB, so ``x::int ^ 2`` must capture ``x::int``, not
    mangle to ``x::power(int, 2)``), a split scientific literal
    (``1e-3``) and a UNARY sign (DuckDB parses ``-2 ^ 2`` as
    ``(-2) ^ 2`` — measured, not assumed: probed against the pinned
    DuckDB alongside left associativity and the ``^``-over-``*``/``%``
    precedence this pass encodes)."""
    start, end = _subscript_base_start(sql, op_idx, spans)
    if start is None or end < start or not sql[start : end + 1].strip():
        return None
    if sql[start : end + 1].strip().lower() in _SIGN_UNARY_WORDS:
        # the walk landed on a clause keyword (`SELECT /*c*/ ^ 3` — `^`
        # has no real left operand): bail rather than swallow the
        # keyword into power(); the malformed input stays loud in Spark
        return None
    while True:
        # `::` postfix on the left: the walked primary may be the TYPE
        # of a cast — mirror _power_right_end's `::` handling by
        # stepping back over `::` plus its base primary (chained casts
        # loop: x::int::double)
        j = start - 1
        while j >= 0 and sql[j].isspace():
            j -= 1
        if j >= 1 and sql[j] == ":" and sql[j - 1] == ":":
            base_start, base_end = _subscript_base_start(sql, j - 1, spans)
            if (
                base_start is None
                or base_end < base_start
                or not sql[base_start : base_end + 1].strip()
            ):
                return None  # dangling `::` — leave the operator, loud
            start = base_start
            continue
        if j >= 0 and sql[j] == ":":
            return None  # single `:` (slice / named arg) — leave, loud
        break
    m = _SCI_SPLIT.search(sql, 0, start)
    if m is not None and m.end() == start:
        start = m.start()
    j = start - 1
    while j >= 0 and sql[j].isspace():
        j -= 1
    if j >= 0 and sql[j] in "+-" and _sign_is_unary(sql, j):
        start = j
    return start


def _power_right_end(sql: str, pos: int, spans) -> int | None:
    """Exclusive end index of the power right operand starting at
    ``pos`` of the mask ``sql`` (``spans`` as for
    :func:`_subscript_base_start`): optional unary signs, then one
    primary (number, identifier chain, quoted identifier/literal, or
    parenthesized group) plus its postfix chain (``.member``,
    call/subscript groups, ``::type``). None when the operand is not a
    primary (CASE/NOT/… — the operator is left alone, loud)."""
    n = len(sql)
    i = pos
    while i < n and sql[i].isspace():
        i += 1
    while i < n and sql[i] in "+-":
        i += 1
        while i < n and sql[i].isspace():
            i += 1
    if i >= n:
        return None
    c = sql[i]
    if c.isdigit() or (c == "." and i + 1 < n and sql[i + 1].isdigit()):
        m = _NUM_FWD.match(sql, i)
        i = m.end()
    elif any(s == i for s, _e in spans):
        i = next(e for s, e in spans if s == i)
    elif c.isalpha() or c == "_":
        w = i
        while i < n and (sql[i].isalnum() or sql[i] == "_"):
            i += 1
        if sql[w:i].lower() in _POWER_RIGHT_STOP:
            return None
    elif c == "(":
        j = lexer.group_end(sql, i)
        if j is None:
            return None
        i = j
    else:
        return None
    while i < n:
        if sql[i] == "." and i + 1 < n and (sql[i + 1].isalnum() or sql[i + 1] == "_"):
            i += 1
            while i < n and (sql[i].isalnum() or sql[i] == "_"):
                i += 1
        elif sql[i] in ("(", "["):
            j = lexer.group_end(sql, i)
            if j is None:
                return None
            i = j
        elif sql.startswith("::", i):
            i += 2
            while i < n and (sql[i].isalnum() or sql[i] == "_"):
                i += 1
            if i < n and sql[i] == "(":
                j = lexer.group_end(sql, i)
                if j is None:
                    return None
                i = j
        else:
            break
    return i


def _rewrite_power_ops(sql: str, spark=None) -> str:
    """DuckDB's exponent operators → Spark calls.

    In DuckDB ``^`` and ``**`` are POWER (always DOUBLE); in Spark
    ``^`` is bitwise XOR — the worst kind of gap, syntactically valid
    on both engines with different meaning, so a passthrough model
    would return silently wrong numbers. ``a ^ b`` / ``a ** b`` →
    ``power(a, b)``; ``a ^@ b`` (DuckDB starts-with) →
    ``startswith(a, b)``.

    Probed operator facts this pass encodes (see
    tests/test_dialect_composition.py): left associativity
    (``2^3^2 = 64``), binds tighter than ``*``/``%`` (``1+2^2*3 = 13``,
    ``10%4^2 = 10``), unary minus binds tighter still (``-2^2 = 4``
    but ``0-2^2 = -4``), DOUBLE result. Leftmost-first replacement
    preserves associativity: ``power(l, r)`` becomes the next
    occurrence's left primary. Operands that are not primaries
    (``2 ^ CASE …``) leave the operator in place → Spark parse error,
    loud — never a silent mis-grouping."""
    guard = 0
    pos = 0
    while True:
        guard += 1
        if guard > 500:
            raise ValueError(
                "power-operator rewrite did not converge (>500 sites); "
                "statement too pathological to transpile safely"
            )
        # operators are found, and operands walked, on the mask: a ^
        # inside a literal or comment is never an operator site, and a
        # comment is whitespace to the operand walks
        masked = lexer.mask(sql)
        spans = lexer.literal_spans(sql)
        hat = masked.find("^", pos)
        star = masked.find("**", pos)
        if hat < 0 and star < 0:
            return sql
        idx = hat if star < 0 or (0 <= hat < star) else star
        op = "^" if idx == hat else "**"
        if op == "^" and masked.startswith("^@", idx):
            op = "^@"
        left = _power_left_start(masked, idx, spans)
        right = _power_right_end(masked, idx + len(op), spans)
        if left is None or right is None:
            pos = idx + len(op)  # not a primary-bounded site: leave, loud
            continue
        lhs = sql[left:idx].strip()
        rhs = sql[idx + len(op) : right].strip()
        fn = "startswith" if op == "^@" else "power"
        repl = f"{fn}({lhs}, {rhs})"
        sql = sql[:left] + repl + sql[right:]
        pos = left
    return sql


_INTDIV = re.compile("//")


def _rewrite_intdiv(sql: str, spark=None) -> str:
    """DuckDB's ``//`` → Spark's ``DIV``.

    Probed parity: both truncate toward zero on integral operands
    (``-7 // 2 = -3`` on both engines) and both promote to BIGINT-wide
    results. DOCUMENTED DIVERGENCE: DuckDB's ``//`` on a non-integral
    operand degrades to plain division (``7.5 // 2 = 3.75``) because
    its overload resolution picks the numeric ``/``; Spark's ``DIV``
    truncates any numeric input. A text-level pass cannot see operand
    types, and the integral reading is the one a model author writing
    ``//`` means — the decimal case is matched only in sign, not
    fraction. (A live-session typed rewrite would close this; revisit
    if a real model trips it.)"""
    return lexer.sub(_INTDIV, lambda m: " DIV ", sql)


def _rewrite_comprehensions(sql: str, spark=None) -> str:
    """DuckDB list comprehensions → Spark higher-order functions.

    ``[expr FOR x IN src]`` → ``transform(src, x -> expr)``;
    ``[expr FOR x IN src IF cond]`` →
    ``transform(filter(src, x -> cond), x -> expr)`` — the same
    element-order, NULL-element-preserving pipeline DuckDB evaluates
    (probed: ``[x+1 FOR x IN [1,NULL,3]]`` keeps the NULL slot on both
    engines once mapped this way).

    MUST run before :func:`_rewrite_list_literals`: that pass would
    otherwise rewrite the comprehension's brackets into an ``array(…)``
    constructor around unparseable ``FOR`` text. Bracket detection
    reuses the literal pass's token predicate so ``x[1]`` subscripts
    are never touched; nested comprehensions resolve via recursion on
    the extracted pieces."""
    masked = lexer.mask(sql)
    out: list[str] = []
    prev = ""
    last = pos = 0  # copied up to / scanned up to
    while True:
        m = _SIGNIFICANT.search(masked, pos)
        if m is None:
            break
        pos = m.end()
        if m.group() == "[" and (
            prev == ""
            or prev in _BEFORE_LIST_LITERAL_CHARS
            or prev.lower() in _BEFORE_LIST_LITERAL_WORDS
        ):
            end = lexer.group_end(sql, m.start())
            inner = sql[m.start() + 1 : end - 1] if end is not None else None
            if inner is not None and lexer.strip_comments(inner) != inner:
                # the rewrite would move a comment inside the brackets
                # (a line comment then swallows its closing paren) —
                # leave the bracket for the list-literal pass (comments
                # stay intact, never corrupted)
                inner = None
            # anchor on the DEPTH-0 FOR — a nested comprehension in the
            # element expression carries its own (deeper) FOR
            fidx = (
                lexer.find_top_level(inner, ("for",))[0]
                if inner is not None
                else -1
            )
            if fidx > 0:
                expr = inner[:fidx]
                tm = re.match(
                    r"(?is)^FOR\s+([A-Za-z_]\w*)\s+IN\b(.+)$", inner[fidx:]
                )
                if tm is not None:
                    var, src = tm.group(1), tm.group(2)
                    cidx, _ = lexer.find_top_level(src, ("if",))
                    if cidx >= 0 and not src[:cidx].strip():
                        # the IF opens the source expression itself —
                        # it is DuckDB's if() FUNCTION (e.g. `FOR x IN
                        # if(c, a, b)`), not a filter clause; the real
                        # filter IF (if any) is a later top-level one
                        cidx, _ = lexer.find_top_level(src, ("if",), cidx + 2)
                    if cidx >= 0:
                        cond = _rewrite_comprehensions(src[cidx + 2 :].strip())
                        srcx = _rewrite_comprehensions(src[:cidx].strip())
                        seq = f"filter({srcx}, {var} -> {cond})"
                    else:
                        seq = _rewrite_comprehensions(src.strip())
                    body = _rewrite_comprehensions(expr.strip())
                    out.append(sql[last : m.start()])
                    out.append(f"transform({seq}, {var} -> {body})")
                    prev = ")"
                    last = pos = end
                    continue
        prev = m.group()
    out.append(sql[last:])
    return "".join(out)


_FROM_FIRST = re.compile(r"^\s*FROM\b", re.IGNORECASE)
#: clause keywords that terminate a FROM-first SELECT list
_CLAUSE_KEYWORDS = (
    "where",
    "group",
    "having",
    "qualify",
    "window",
    "order",
    "limit",
    "offset",
    "union",
    "intersect",
    "except",
)


def _rewrite_from_first(sql: str) -> str:
    """DuckDB's FROM-first syntax → canonical SELECT-first.

    ``FROM t`` → ``SELECT * FROM t``; ``FROM t SELECT a, b WHERE …`` →
    ``SELECT a, b FROM t WHERE …``. The SELECT clause (when present) is
    located at paren depth 0 and extends to the next top-level clause
    keyword; everything else keeps its order. A ``* EXCEPT (cols)``
    projection (the EXCLUDE rewrite's output) is NOT treated as a
    clause terminator — only a genuine set-operator EXCEPT is."""
    if not _FROM_FIRST.match(sql):
        return sql
    sel_at, _ = lexer.find_top_level(sql, ("select",))
    if sel_at < 0:
        return "SELECT * " + sql
    start = sel_at + 6
    while True:
        end, kw = lexer.find_top_level(sql, _CLAUSE_KEYWORDS, start=start)
        if (
            end >= 0
            and kw in ("union", "intersect", "except")
            and not _is_set_op_at(sql, end, kw)
        ):
            start = end + len(kw)
            continue
        break
    if end < 0:
        end = len(sql)
    select_clause = sql[sel_at:end].rstrip()
    from_part = sql[:sel_at].rstrip()
    rest = sql[end:]
    return f"{select_clause} {from_part} {rest}".rstrip()


_SET_OP_TAIL = re.compile(
    r"(?is)^(union|intersect|except)(\s+(?:all|distinct))?(\s+by\s+name)?"
)


def _rewrite_from_first_arms(sql: str, spark=None) -> str:
    """Apply the FROM-first rewrite to EVERY top-level set-operation arm
    — DuckDB accepts ``FROM a SELECT x UNION ALL FROM b SELECT y`` (and
    bare ``FROM a UNION ALL FROM b``), where each arm independently uses
    FROM-first or SELECT-first syntax."""
    out: list[str] = []
    pos = 0
    arm_start = 0
    while True:
        idx, kw = lexer.find_top_level(sql, ("union", "intersect", "except"), start=pos)
        if idx < 0:
            out.append(_rewrite_from_first(sql[arm_start:].strip()))
            return " ".join(p for p in out if p)
        if not _is_set_op_at(sql, idx, kw):
            pos = idx + len(kw)
            continue
        m = _SET_OP_TAIL.match(sql[idx:])
        out.append(_rewrite_from_first(sql[arm_start:idx].strip()))
        out.append(sql[idx: idx + m.end()].strip())
        arm_start = pos = idx + m.end()


_STAR_REPLACE = re.compile(r"(?is)^(\s*SELECT\s+)\*\s+REPLACE\s*\(")


def _rewrite_star_replace(sql: str, spark) -> str:
    """Expand DuckDB's ``SELECT * REPLACE (expr AS col, …) FROM rel``
    into an explicit column list — Spark has no ``* REPLACE``. Needs a
    live session to resolve ``rel``'s schema, and applies only when the
    FROM clause is ONE named relation (table/view/file-query) with no
    joins and the statement-level select is the star: anything fancier
    is left for Spark to reject loudly."""
    m = _STAR_REPLACE.match(sql)
    if not m or spark is None:
        return sql
    # matching close paren of the REPLACE list
    i = lexer.group_end(sql, m.end() - 1)
    if i is None:
        return sql
    replacements: dict[str, str] = {}
    for item in lexer.split_top_level(sql[m.end() : i - 1]):
        rm = re.match(r"(?is)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item.strip())
        if not rm:
            return sql
        replacements[rm.group(2).lower()] = rm.group(1).strip()
    rest = sql[i:]
    fm = re.match(
        r"(?is)^\s*FROM\s+((?:[A-Za-z_][\w.]*|parquet\.`[^`]+`|csv\.`[^`]+`|json\.`[^`]+`))"
        r"(\s+(?:AS\s+)?[A-Za-z_]\w*)?(?=\s|$)",
        rest,
    )
    if not fm:
        return sql
    after_rel = rest[fm.end() :]
    nxt, kw = lexer.find_top_level(after_rel, _JOIN_WORDS)
    if nxt >= 0:
        return sql  # joins — ambiguous star, bail
    clause, _ = lexer.find_top_level(after_rel, _CLAUSE_AFTER_ON)
    pre_clause = after_rel[:clause] if clause >= 0 else after_rel
    if len(lexer.split_top_level(pre_clause)) > 1:
        return sql  # comma join — ambiguous star, bail
    rel = fm.group(1)
    try:
        if "." in rel and "`" in rel:
            fmt, path = rel.split(".", 1)
            cols = getattr(spark.read, fmt)(path.strip("`")).columns
        else:
            cols = spark.table(rel).columns
    except Exception:
        return sql  # unresolvable relation — leave for Spark's error
    select_list = ", ".join(
        f"({replacements[c.lower()]}) AS {c}" if c.lower() in replacements else c
        for c in cols
    )
    missing = set(replacements) - {c.lower() for c in cols}
    if missing:
        return sql  # REPLACE names a column the relation lacks
    return f"{m.group(1)}{select_list}{rest}"


_UNION_BY_NAME = re.compile(r"(?is)^UNION\s+(?:(ALL|DISTINCT)\s+)?BY\s+NAME\b")


def _rewrite_union_by_name(sql: str, spark) -> str:
    """Rewrite one top-level DuckDB ``<left> UNION [ALL] BY NAME
    <right>`` into a standard positional union: columns are matched by
    name (case-insensitive, both engines' default), the output carries
    the left side's columns first then right-only columns (DuckDB's
    order), and a side missing a column contributes ``NULL``. Needs a
    live session to resolve each side's schema (analysis only — nothing
    executes). Chained BY NAME unions or sides that fail to analyze are
    left untouched → Spark rejects ``BY`` loudly, never a silent wrong
    rewrite."""
    start = 0
    while True:
        idx, _ = lexer.find_top_level(sql, ("union",), start)
        if idx < 0:
            return sql
        m = _UNION_BY_NAME.match(sql[idx:])
        if m:
            break
        start = idx + len("union")
    if spark is None:
        return sql
    left = sql[:idx].strip()
    rest = sql[idx + m.end():]
    nxt, kw, scan_from = -1, None, 0
    while True:
        nxt, kw = lexer.find_top_level(
            rest, ("union", "intersect", "except", "order", "limit", "offset"), scan_from
        )
        # `* EXCEPT (cols)` in the right side's select list is a
        # projection (incl. rewritten `* EXCLUDE`), not a chained set op
        if kw == "except" and rest[:nxt].rstrip().endswith("*"):
            scan_from = nxt + len("except")
            continue
        break
    tail = ""
    if nxt >= 0:
        if kw in ("union", "intersect", "except"):
            return sql  # chained set ops — out of conservative reach
        tail = " " + rest[nxt:].strip()
        rest = rest[:nxt]
    right = lexer.strip_outer_parens(rest.strip())
    left = lexer.strip_outer_parens(left)
    try:
        lcols = spark.sql(left).columns
        rcols = spark.sql(right).columns
    except Exception:
        return sql
    lset = {x.lower() for x in lcols}
    out = list(lcols) + [c for c in rcols if c.lower() not in lset]
    if len({c.lower() for c in out}) != len(out):
        return sql  # duplicate names within one side — ambiguous

    def aligned(side_sql: str, cols: list[str], alias: str) -> str:
        have = {c.lower(): c for c in cols}
        items = ", ".join(
            f"`{have[c.lower()]}` AS `{c}`" if c.lower() in have else f"NULL AS `{c}`"
            for c in out
        )
        return f"SELECT {items} FROM ({side_sql}) {alias}"

    setop = "UNION ALL" if (m.group(1) or "").upper() == "ALL" else "UNION"
    return (
        f"{aligned(left, lcols, '__arnab_ubn1')} {setop} "
        f"{aligned(right, rcols, '__arnab_ubn2')}{tail}"
    )


_COPY_STMT = re.compile(
    r"(?is)^\s*COPY\s+(\(.*\)|[A-Za-z_][\w.]*)\s+TO\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\)|WITH\s*\(\s*(.*?)\s*\))?\s*$"
)

_COPY_EXT_FORMAT = {".parquet": "parquet", ".csv": "csv", ".json": "json", ".ndjson": "json"}


def _rewrite_copy(sql: str, spark=None) -> str:
    """Rewrite DuckDB's export statement (reachable reference surface —
    model SQL goes to DuckDB verbatim, node.rs:176)

        COPY (<query>|<table>) TO '<path>' (FORMAT CSV|PARQUET|JSON
                                            [, HEADER [true|false]]
                                            [, DELIMITER '<c>'] [, SEP '<c>']
                                            [, COMPRESSION <codec>])

    into Spark's declarative directory export

        INSERT OVERWRITE DIRECTORY '<path>' USING <fmt>
          OPTIONS (...) <query>

    which Catalyst plans like any other sink: the SELECT keeps its
    pushdown/pruning and each task writes its own file — the shape a
    100 TB export needs (DuckDB's single-file COPY serializes through
    one writer; Spark's directory-of-parts is the distributed
    equivalent, and DuckDB reads it back with read_parquet('dir/*')).
    FORMAT defaults from the path extension. Unknown options leave the
    statement untouched → Spark rejects COPY loudly, never a silent
    drop of an export."""
    m = _COPY_STMT.match(sql)
    if not m:
        return sql
    source, path, opts_text = m.group(1).strip(), m.group(2), m.group(3) or m.group(4) or ""
    fmt = None
    options: dict[str, str] = {}
    for raw in lexer.split_top_level(opts_text):
        item = raw.strip()
        if not item:
            continue
        om = re.match(r"(?is)^([A-Za-z_]+)(?:\s+(.+))?$", item)
        if not om:
            return sql
        key, val = om.group(1).lower(), (om.group(2) or "").strip().strip("'")
        if key == "format":
            fmt = val.lower()
        elif key == "header":
            options["header"] = "false" if val.lower() in ("false", "0") else "true"
        elif key in ("delimiter", "sep", "delim"):
            options["sep"] = val
        elif key == "compression":
            options["compression"] = val.lower()
        elif key == "partition_by":
            options["__partition_by"] = val.strip()
        elif key in ("overwrite_or_ignore", "overwrite"):
            # explicit opt-in to replacing an existing partitioned
            # target. DuckDB treats these as boolean options: a bare
            # key or `true`/`1` enables, `false`/`0` is the same as
            # absent (refuse an existing target) — parse the value like
            # the header option instead of enabling unconditionally
            # (round-5 advice: `OVERWRITE_OR_IGNORE false` must NOT
            # silently delete an existing export).
            if val.lower() in ("", "true", "1"):
                options["__overwrite"] = key
        else:
            return sql  # option outside the conservative subset
    if fmt is None:
        import os.path as _p

        fmt = _COPY_EXT_FORMAT.get(_p.splitext(path)[1].lower())
    if fmt not in ("csv", "parquet", "json"):
        return sql
    if fmt == "csv" and "header" not in options:
        options["header"] = "true"  # DuckDB's COPY ... (FORMAT CSV) default
    query = lexer.strip_outer_parens(source) if source.startswith("(") else f"SELECT * FROM {source}"
    part_raw = options.pop("__partition_by", None)
    part_overwrite = options.pop("__overwrite", None)
    if part_raw is not None:
        # Hive-style partitioned export — DuckDB's PARTITION_BY writes
        # path/col=value/... with the partition columns dropped from the
        # files, exactly Spark's write.partitionBy. INSERT OVERWRITE
        # DIRECTORY cannot partition, so the write executes through the
        # DataFrame API here (needs a session; the statement's entire
        # meaning IS the side effect) and the statement is consumed.
        if spark is None:
            return sql  # no session: leave for Spark to reject loudly
        cols = [
            c.strip()
            for c in lexer.split_top_level(part_raw.strip().strip("()"))
            if c.strip()
        ]
        if not cols or any(not re.match(r"^[A-Za-z_]\w*$", c) for c in cols):
            return sql
        # DuckDB's PARTITION_BY refuses an existing target unless
        # OVERWRITE/OVERWRITE_OR_IGNORE is given — match that: the
        # default must never silently delete pre-existing data
        # (round-5 advice). errorifexists raises on an existing path,
        # which is DuckDB's refusal, loudly. The two opt-in keys also
        # differ (round-5 advice #2): OVERWRITE replaces the whole
        # target (Spark's static overwrite), while OVERWRITE_OR_IGNORE
        # overwrites files in place and PRESERVES partitions absent
        # from the new write — Spark spells that
        # partitionOverwriteMode=dynamic, set for this write only and
        # restored after so the session default is untouched.
        mode = "overwrite" if part_overwrite else "errorifexists"
        pom_key = "spark.sql.sources.partitionOverwriteMode"
        prev_pom = spark.conf.get(pom_key, None)
        try:
            if part_overwrite == "overwrite_or_ignore":
                spark.conf.set(pom_key, "dynamic")
            writer = spark.sql(query).write.mode(mode).partitionBy(*cols)
            for k, v in options.items():
                writer = writer.option(k, v)
            writer.format(fmt).save(path)
        finally:
            if part_overwrite == "overwrite_or_ignore":
                if prev_pom is None:
                    spark.conf.unset(pom_key)
                else:
                    spark.conf.set(pom_key, prev_pom)
        return ""
    opt_sql = (
        " OPTIONS (" + ", ".join(f"'{k}' = '{v}'" for k, v in sorted(options.items())) + ")"
        if options
        else ""
    )
    return f"INSERT OVERWRITE DIRECTORY '{path}' USING {fmt}{opt_sql} {query}"


_PIVOT_STMT = re.compile(
    r"(?is)^\s*PIVOT\s+([A-Za-z_][\w.]*|\(.*?\))\s+ON\s+(.+?)"
    r"(?:\s+IN\s+(\(.*?\)))?\s+USING\s+(.+?)"
    r"(?:\s+GROUP\s+BY\s+(.+?))?\s*((?:ORDER\s+BY|LIMIT)\s+.*)?$"
)

_AGG_SIMPLE = re.compile(
    r"(?is)^([A-Za-z_]\w*)\s*\(\s*(\*|(?:DISTINCT\s+)?[A-Za-z_][\w.]*)\s*\)(?:\s+AS\s+([A-Za-z_]\w*))?$"
)


def _rewrite_pivot(sql: str, spark) -> str:
    """Rewrite DuckDB's statement-form dynamic pivot

        PIVOT <rel> ON <col> [IN (v, …)] USING <agg>(<col>) [AS alias]
          [GROUP BY g, …] [ORDER BY …] [LIMIT …]

    into Spark's relation-suffix form

        SELECT * FROM (SELECT g…, <col>, <aggcol> FROM <rel>)
          PIVOT (<agg>(<aggcol>) [AS alias] FOR <col> IN (v, …))

    Without IN, DuckDB enumerates the pivot column's distinct values at
    bind time; we do the same through the live session (one DISTINCT
    query — driver-side by necessity and bounded by the output WIDTH,
    which a pivot already caps at "columns a human reads"; the data
    never leaves the cluster). Without GROUP BY both engines group by
    all remaining columns, so the subquery projection is skipped and
    the relation passes through whole. Shapes outside this subset
    (multiple USING aggs, expression pivot keys) are left untouched →
    Spark rejects the bare PIVOT keyword loudly."""
    m = _PIVOT_STMT.match(sql)
    if not m:
        return sql
    rel, on_col, in_list, agg, group_by, tail = m.groups()
    on_col = on_col.strip()
    if not re.match(r"(?is)^[A-Za-z_][\w.]*$", on_col):
        return sql  # expression pivot keys: out of conservative reach
    am = _AGG_SIMPLE.match(agg.strip())
    if not am:
        return sql
    fn, arg, alias = am.group(1), am.group(2), am.group(3)
    rel_sql = lexer.strip_outer_parens(rel) if rel.startswith("(") else f"SELECT * FROM {rel}"
    if in_list is None:
        if spark is None:
            return sql
        try:
            rows = spark.sql(
                f"SELECT DISTINCT {on_col} AS v FROM ({rel_sql}) __arnab_pv ORDER BY v"
            ).collect()
        except Exception:
            return sql
        vals = []
        for r in rows:
            v = r["v"]
            if v is None:
                continue  # DuckDB skips NULL pivot keys
            vals.append("'" + str(v).replace("'", "''") + "'" if isinstance(v, str) else str(v))
        if not vals:
            return sql
        in_list = "(" + ", ".join(vals) + ")"
    if group_by:
        agg_cols = [] if arg == "*" else [re.sub(r"(?is)^DISTINCT\s+", "", arg)]
        proj = ", ".join([group_by.strip(), on_col] + agg_cols)
        rel_sql = f"SELECT {proj} FROM ({rel_sql}) __arnab_pvg"
    alias_sql = f" AS {alias}" if alias else ""
    pivot_sql = (
        f"SELECT * FROM ({rel_sql}) PIVOT ({fn}({arg}){alias_sql} "
        f"FOR {on_col} IN {in_list})"
    )
    if fn.lower() == "count" and not alias:
        # DuckDB's count pivot fills empty cells with 0; Spark's leaves
        # them NULL (no source row for the cell) — coalesce each pivot
        # output column. Kept columns come from the GROUP BY list, or
        # (without one) from the relation's schema minus the pivot/agg
        # columns, matching DuckDB's group-by-all-remaining rule.
        keep_cols: list[str] | None = None
        if group_by:
            keep_cols = [c.strip() for c in lexer.split_top_level(group_by)]
        elif spark is not None:
            try:
                fields = spark.sql(
                    f"SELECT * FROM ({rel_sql}) __arnab_pvs WHERE 1=0"
                ).schema.names
                agg_col = (
                    None
                    if arg == "*"
                    else re.sub(r"(?is)^DISTINCT\s+", "", arg).strip().lower()
                )
                drop = {on_col.split(".")[-1].lower(), agg_col}
                keep_cols = [c for c in fields if c.lower() not in drop]
            except Exception:
                keep_cols = None
        if keep_cols is not None:
            names = []
            for v in lexer.split_top_level(in_list.strip()[1:-1]):
                v = v.strip()
                names.append(
                    v[1:-1].replace("''", "'") if v.startswith("'") else v
                )
            proj = ", ".join(
                [
                    f"`{c}`" if re.match(r"^[A-Za-z_]\w*$", c) else c
                    for c in keep_cols
                ]
                + [f"coalesce(`{nm}`, 0) AS `{nm}`" for nm in names]
            )
            return (
                f"SELECT {proj} FROM ({pivot_sql}) __arnab_pvc "
                f"{tail or ''}".rstrip()
            )
    return f"{pivot_sql} {tail or ''}".rstrip()


_UNPIVOT_STMT = re.compile(
    r"(?is)^\s*UNPIVOT\s+([A-Za-z_][\w.]*|\(.*?\))\s+ON\s+(.+?)"
    r"\s+INTO\s+NAME\s+([A-Za-z_]\w*)\s+VALUE\s+([A-Za-z_]\w*)\s*"
    r"((?:ORDER\s+BY|LIMIT)\s+.*)?$"
)


def _rewrite_unpivot(sql: str, spark=None) -> str:
    """Rewrite DuckDB's statement-form

        UNPIVOT <rel> ON c1, c2, … INTO NAME <name> VALUE <value>

    into Spark's relation-suffix form

        SELECT * FROM <rel> UNPIVOT (<value> FOR <name> IN (c1, c2, …))

    Both engines exclude NULL values by default, and both emit the
    retained columns first, then (name, value)."""
    m = _UNPIVOT_STMT.match(sql)
    if not m:
        return sql
    rel, on_cols, name_col, value_col, tail = m.groups()
    rel_sql = f"({lexer.strip_outer_parens(rel)})" if rel.startswith("(") else rel
    cols = ", ".join(c.strip() for c in lexer.split_top_level(on_cols))
    return (
        f"SELECT * FROM {rel_sql} __arnab_up UNPIVOT ({value_col} FOR {name_col} "
        f"IN ({cols})) {tail or ''}".rstrip()
    )


def _rewrite_bare_paths(sql: str, spark=None) -> str:
    """``FROM 'x.parquet'`` → ``FROM parquet.`x.parquet```."""
    return _BARE_PATH.sub(_file_relation, sql)


def _rewrite_read_functions(sql: str, spark) -> str:
    """``read_parquet('p')`` & friends → Spark's file-query relation.
    The ``*_auto`` readers load through the session with header and
    schema inference and become temp views."""

    def rewrite(m: re.Match) -> str:
        kind = m.group(1).lower()
        if kind not in ("csv_auto", "json_auto"):
            return _file_relation(m)
        path = _resolve_path(m.group(2))
        if spark is None:
            raise ArnabError(
                f"read_{kind}('{path}') needs an active SparkSession to honor "
                "DuckDB's sniffing semantics (header detection / type inference); "
                "pass one to transpile_statement, or use read_csv/read_json for "
                "the optionless file scan."
            )
        import hashlib

        view = "_arnab_src_" + hashlib.md5(f"{kind}|{path}".encode()).hexdigest()[:12]
        if kind == "csv_auto":
            df = spark.read.csv(path, header=True, inferSchema=True)
        else:
            df = spark.read.json(path)
        df.createOrReplaceTempView(view)
        return view

    return _READ_FUNC.sub(rewrite, sql)


#: The statement handlers, in dispatch order. Each takes ``(sql,
#: spark)`` and returns None when the statement is not its own, or the
#: text that replaces it ("" when it consumed the statement); the first
#: answer ends the statement. A handler that acts on the session answers
#: None without one. The view-DDL handlers record the name they see and
#: answer None, so the passes still rewrite the DDL.
HANDLERS = (
    _rewrite_create_macro,
    _rewrite_drop_macro,
    _rewrite_attach,
    _rewrite_detach,
    _rewrite_use,
    _rewrite_create_table,
    _rewrite_drop_table,
    _rewrite_alter_table,
    _rewrite_copy_from,
    _rewrite_export_import_db,
    _rewrite_dml,
    _rewrite_temp_view,
    _rewrite_drop_view,
    _rewrite_perm_view,
)

#: The text passes, in order. Each takes ``(sql, spark)`` and returns
#: the rewritten text; a pass that needs no session ignores ``spark``.
#: The ordering rules between them are pinned by
#: ``tests/test_dialect_split.py``.
PASSES = (
    _rewrite_attached_refs,
    _expand_macros,
    _rewrite_summarize,
    _rewrite_txn,
    _rewrite_extensions,
    _rewrite_set,
    _rewrite_pragmas,
    _rewrite_describe,
    _rewrite_describe_subqueries,
    _rewrite_show_tables,
    _rewrite_show_all_tables,
    _rewrite_count_zero_arg,
    _rewrite_star_exclude,
    _rewrite_from_first_arms,
    _rewrite_read_file_lists,
    _rewrite_comprehensions,
    _rewrite_array_type_spellings,
    _rewrite_list_literals,
    _rewrite_struct_literals,
    _unmask_braces,
    _rewrite_subscripts,
    _rewrite_intdiv,
    _rewrite_power_ops,
    _rewrite_arg_transform_calls,
    _rewrite_postfix_cast_types,
    _rewrite_list_functions,
    _rewrite_series_functions,
    _rewrite_columns_expr,
    _rewrite_length_on_lists,
    _rewrite_struct_recursive_unnest,
    _rewrite_unnest_set_ops,
    _rewrite_multi_unnest,
    _rewrite_single_unnest,
    _rewrite_string_split,
    _rewrite_copy,
    _rewrite_unpivot,
    _rewrite_using_sample,
    _rewrite_bare_paths,
    _rewrite_qualify,
    _rewrite_distinct_on,
    _rewrite_asof_join,
    _rewrite_read_functions,
    _rewrite_pivot,
    _rewrite_star_replace,
    _rewrite_union_by_name,
)

#: What a schema probe taken mid-pipeline (``_probe_schema``, during the
#: unnest stage) applies to its text: the passes after that stage,
#: through the read-function rewrite.
PROBE_PASSES = PASSES[
    PASSES.index(_rewrite_string_split): PASSES.index(_rewrite_read_functions) + 1
]


def transpile_statement(sql: str, spark=None) -> str:
    """Apply the DuckDB→Spark rewrites to one statement.

    The statement goes to each of :data:`HANDLERS` in turn; the first
    that claims it (DDL and DML the engine lifts, macros, ATTACH/USE)
    returns its replacement. A statement no handler claims runs through
    every pass of :data:`PASSES` in order; a pass that leaves it blank
    (CHECKPOINT, a hint ``SET``, BEGIN/COMMIT) consumes it, and the
    result is ``""``.

    ``read_parquet``/``read_csv``/``read_json`` map to Spark's
    file-query syntax (``parquet.`path```). The ``*_auto`` variants
    promise DuckDB's sniffing (header detection, type inference), which
    the bare file-query syntax cannot honor — so they require a live
    session (loaded with header/inferSchema options and substituted as
    temp views); without one they raise instead of silently degrading
    to headerless-string semantics.

    What a statement registers (macros, attached catalogs, ``USE``,
    tables) lands in the session's ``state_for(spark)``; a statement
    transpiled without a session starts from, and leaves behind, an
    empty state.
    """
    _reject_sequences(sql)
    _reject_positional_join(sql)
    for handle in HANDLERS:
        out = handle(sql, spark)
        if out is not None:
            return out
    for rewrite in PASSES:
        sql = rewrite(sql, spark)
        if not sql.strip():
            return ""
    return sql
