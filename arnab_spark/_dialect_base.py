"""The dialect's leaf module: the per-session state and the text
helpers that more than one dialect module needs. It imports only
:mod:`arnab_spark.lexer`, so every other dialect module imports it
without a cycle.

A DuckDB connection keeps its macros, attached databases and temp
objects in one place (reference: node.rs:176, main.rs:165). The Spark
twin keeps them in one :class:`DialectState` per ``SparkSession``,
looked up by :func:`state_for` — the way Spark's own ``SessionState``
holds one session's catalog, conf and function registry.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from weakref import WeakKeyDictionary

from arnab_spark import lexer


@dataclass
class DialectState:
    """Everything the dialect remembers about one session."""

    #: lowered name → (params, body, is_table, is_temp) of each CREATE
    #: MACRO; expanded inline at every later call site
    macros: dict = field(default_factory=dict)
    #: names DROP MACRO removed; ``record_macros`` deletes them from the
    #: warehouse's macro file, so a drop of a persisted macro is durable
    dropped_macros: set = field(default_factory=set)
    #: lowered ATTACH alias → lowered model names registered as
    #: ``alias__model`` views
    attached: dict = field(default_factory=dict)
    #: the attached alias a ``USE`` made current; None is the session's
    #: own namespace
    use: str | None = None
    #: lowered names of explicit ``CREATE TEMP VIEW`` DDL: DuckDB files
    #: them under its ``temp`` database, warehouse models under the
    #: current one, and the Spark catalog cannot tell the two apart
    temp_ddl: set = field(default_factory=set)
    #: lowered view name → the parquet dir backing it; DML against these
    #: persists through a staged swap (``node.py`` and ``attach_warehouse``
    #: fill it)
    backing: dict = field(default_factory=dict)
    #: the session's warehouse dir, where script-level CREATE TABLE and
    #: CREATE VIEW persist; None without one
    warehouse: str | None = None
    #: lowered names of tables the CREATE TABLE lift made without a
    #: warehouse: checkpointed temp views that DML may mutate, where DML
    #: against a plain view raises (DuckDB parity)
    session_tables: set = field(default_factory=set)
    #: (view name, checkpointed DataFrame) of the one outstanding
    #: RETURNING result
    returning_view: tuple | None = None
    #: probe text → its analyzed schema (None when it does not analyze)
    probe_cache: dict = field(default_factory=dict)


# weak keys, so a discarded session's state is collectable
_STATE_BY_SESSION: WeakKeyDictionary = WeakKeyDictionary()


def state_for(spark) -> DialectState:
    """The session's :class:`DialectState`, created on first use;
    ``setdefault`` makes the creation atomic when threads race. Without
    a session each call returns a fresh state, so nothing a sessionless
    statement registers outlives it."""
    if spark is None:
        return DialectState()
    return _STATE_BY_SESSION.setdefault(spark, DialectState())


# ------------------------------------------------------ file relations

# read_parquet('path') / read_csv_auto('path') / read_json_auto('path')
# → Spark's direct-file-query syntax: parquet.`path` / csv.`path` / ...
_READ_FUNC = re.compile(
    r"\bread_(parquet|csv|csv_auto|json|json_auto)\s*\(\s*'([^']+)'\s*\)",
    re.IGNORECASE,
)

_FORMAT_MAP = {
    "parquet": "parquet",
    "csv": "csv",
    "csv_auto": "csv",
    "json": "json",
    "json_auto": "json",
}

# DuckDB's bare-string table: FROM 'data.parquet' (a shorthand for
# read_parquet and friends). Only rewritten when the extension names a
# format Spark's file-query syntax can scan without option sniffing —
# anything else is left for Spark to reject with a clear parse error.
_BARE_PATH = re.compile(
    r"\b(FROM|JOIN)\s+'([^']+\.(?:parquet|csv|json)(?:\.gz)?)'",
    re.IGNORECASE,
)


def _user_cache_base(kind: str) -> str:
    """Per-user cache directory (``$TMPDIR/arnab_spark_<kind>_<uid>``),
    created 0700 and ownership-verified before reuse. If a same-named
    path exists but is a symlink or owned by someone else (a squatting
    attack on multi-user hosts), fall back to a fresh ``mkdtemp`` —
    correctness over cache reuse. Shared by the ATTACH export cache and
    the https ``read_parquet`` fetch cache (round-5 advice: the scheme
    was applied to ATTACH only, leaving the remote fetch cache on a
    world-shared predictable path)."""
    import os as _os
    import tempfile as _tf

    uid = _os.getuid() if hasattr(_os, "getuid") else 0
    base = _os.path.join(_tf.gettempdir(), f"arnab_spark_{kind}_{uid}")
    try:
        _os.makedirs(base, mode=0o700, exist_ok=True)
        stb = _os.lstat(base)
        import stat as _stat

        if (
            _stat.S_ISDIR(stb.st_mode)
            and not _stat.S_ISLNK(stb.st_mode)
            and (not hasattr(_os, "getuid") or stb.st_uid == uid)
        ):
            _os.chmod(base, 0o700)
            return base
    except OSError:
        pass
    return _tf.mkdtemp(prefix=f"arnab_spark_{kind}_")


def _remote_cache_base() -> str:
    """Per-user 0700 ownership-verified fetch cache for https
    ``read_parquet`` sources — see :func:`_user_cache_base`."""
    return _user_cache_base("remote")


def _resolve_path(path: str) -> str:
    """DuckDB's read_parquet accepts plain http(s) URLs (the reference's
    demo model does exactly this, reference:
    examples/basic/source_orders.sql:2). An https URL is not a Hadoop
    filesystem, so fetch it once into a content-addressed local cache
    and scan the cached file. At warehouse scale remote data should land
    in object storage (s3a://…, which Spark scans natively) — this shim
    exists for reference-compatibility, not as a data-transfer path."""
    if not path.lower().startswith(("http://", "https://")):
        return path
    import hashlib
    import os
    import urllib.request

    cache = _remote_cache_base()
    suffix = os.path.splitext(path.split("?")[0])[1] or ".bin"
    dest = os.path.join(
        cache, hashlib.sha256(path.encode()).hexdigest()[:24] + suffix
    )
    if not os.path.exists(dest):
        tmp = dest + ".part"
        urllib.request.urlretrieve(path, tmp)
        os.replace(tmp, dest)
    return dest


def _file_relation(m: re.Match) -> str:
    """Spark's file-query relation for a :data:`_READ_FUNC` match
    (``read_parquet('p')`` → ``parquet.`p```) or a :data:`_BARE_PATH`
    match (``FROM 'p.csv'`` → ``FROM csv.`p.csv```, the format read off
    the extension). The ``*_auto`` readers need a session and are the
    caller's to handle."""
    path = _resolve_path(m.group(2))
    if m.re is _READ_FUNC:
        return f"{_FORMAT_MAP[m.group(1).lower()]}.`{path}`"
    low = path.lower()
    fmt = "parquet" if ".parquet" in low else "csv" if ".csv" in low else "json"
    return f"{m.group(1)} {fmt}.`{path}`"


def _rewrite_file_relations(sql: str) -> str:
    """Both file-scan shapes of :func:`_file_relation`, rewritten."""
    return _BARE_PATH.sub(_file_relation, _READ_FUNC.sub(_file_relation, sql))


# ------------------------------------------------ shared text passes

_STRING_SPLIT = re.compile(r"\b(string_split|str_split|string_to_array)\s*\(", re.IGNORECASE)
_PLAIN_STR_LIT = re.compile(r"^\s*'([^'\\]*)'\s*$")


def _lit_match(s: str):
    """Match a plain string literal, seeing through redundant FULL-COVER
    outer parens — macro expansion parenthesizes every spliced argument
    (``date_diff((u), …)`` after ``u := 'day'`` binds), and a literal
    wrapped in parens must still rewrite (round-5 composition fuzz
    finding). ``('a') || ('b')`` style expressions survive untouched:
    lexer.strip_outer_parens only strips when the opening paren's match is
    the final character."""
    s = s.strip()
    while True:
        stripped = lexer.strip_outer_parens(s).strip()
        if stripped == s:
            break
        s = stripped
    return _PLAIN_STR_LIT.match(s)


def _rewrite_string_split(sql: str) -> str:
    """``string_split(x, 'sep')`` → ``split(x, '<regex-escaped sep>')``.

    DuckDB's separator is a LITERAL string while Spark's ``split`` takes
    a Java regex, so the separator is regex-escaped during the rewrite
    (then backslash-doubled for Spark's C-style string literals). Only
    plain string-literal separators are rewritten; anything dynamic is
    left under its DuckDB name so Spark rejects it loudly rather than
    silently treating it as a pattern."""
    masked = lexer.mask(sql)
    out = []
    pos = 0
    while True:
        m = _STRING_SPLIT.search(masked, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        close = lexer.group_end(sql, m.end() - 1)
        j = len(sql) if close is None else close - 1  # the call's ")"
        args = lexer.split_top_level(sql[m.end(): j])
        lit = _lit_match(args[1]) if len(args) == 2 else None
        if lit is None:
            out.append(sql[pos: j + 1])
        else:
            sep = re.escape(lit.group(1)).replace("\\", "\\\\")
            out.append(sql[pos: m.start()] + f"split({args[0].strip()}, '{sep}')")
        pos = j + 1


def _is_set_op_at(sql: str, idx: int, word: str) -> bool:
    """Distinguish a set-operator UNION/INTERSECT/EXCEPT at ``idx`` from
    Spark's projection ``* EXCEPT (cols)`` (already produced from
    DuckDB's EXCLUDE by the time these scans run): a set operator is
    followed by optional ALL/DISTINCT/BY NAME and then a query head
    (SELECT/FROM/WITH/VALUES/TABLE, possibly parenthesized)."""
    rest = sql[idx + len(word):]
    m = re.match(r"(?is)^\s*(?:ALL\b|DISTINCT\b)?\s*(?:BY\s+NAME\b)?\s*", rest)
    after = rest[m.end():]
    if re.match(r"(?is)^(select|from|with|values|table)\b", after):
        return True
    return bool(re.match(r"(?is)^\(\s*(select|from|with|values|table)\b", after))


def _rewrite_qualify(sql: str) -> str:
    """Rewrite a top-level ``QUALIFY <pred>`` into subquery + filter:

        SELECT * EXCEPT (__arnab_qualify) FROM (
          SELECT *, (<pred>) AS __arnab_qualify FROM ( <head> ) q
        ) qq WHERE __arnab_qualify [ORDER BY …/LIMIT …]

    The predicate may reference select-list aliases or inline window
    functions over columns present in the select output (the common
    DuckDB shapes). A window over a column NOT in the select output is
    out of reach without a full parser — that surfaces as a clear
    Spark analysis error, never a silent wrong result. QUALIFY nested
    inside subqueries is likewise left to Spark's parser to reject."""
    idx, _ = lexer.find_top_level(sql, ("qualify",))
    if idx < 0:
        return sql
    head = sql[:idx].rstrip()
    rest = sql[idx + len("qualify"):]
    tail_idx, _ = lexer.find_top_level(rest, ("order", "limit", "offset"))
    pred = rest[:tail_idx] if tail_idx >= 0 else rest
    tail = rest[tail_idx:] if tail_idx >= 0 else ""
    return (
        "SELECT * EXCEPT (__arnab_qualify) FROM ("
        f"SELECT *, ({pred.strip()}) AS __arnab_qualify FROM ({head}) __arnab_q"
        f") __arnab_qq WHERE __arnab_qualify {tail}"
    )


_DISTINCT_ON = re.compile(r"^\s*SELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)


def _rewrite_distinct_on(sql: str) -> str:
    """Rewrite a statement-level ``SELECT DISTINCT ON (keys) … [ORDER
    BY …] [LIMIT …]`` into the standard window idiom:

        SELECT * EXCEPT (__arnab_rn) FROM (
          SELECT <select-list>, row_number() OVER (
            PARTITION BY <keys> ORDER BY <order-exprs or keys>
          ) AS __arnab_rn FROM …
        ) WHERE __arnab_rn = 1 [ORDER BY …] [LIMIT …]

    With an ORDER BY, DuckDB keeps the first row of each key group in
    that order — exactly row_number() = 1 over the same order. Without
    one, DuckDB's pick is arbitrary, and so is the window's (ordered by
    the keys alone): both engines say "some row per group". ORDER BY
    terms that name select-list aliases rather than source columns are
    out of reach without a full parser — Spark raises a clear analysis
    error rather than silently mis-sorting. Nested DISTINCT ON (in
    subqueries/CTEs) is left alone → clear Spark parse error."""
    m = _DISTINCT_ON.match(sql)
    if not m:
        return sql
    # the matching close paren of the ON (…) list
    i = lexer.group_end(sql, m.end() - 1)
    if i is None:
        return sql  # unbalanced — let Spark report it
    keys = sql[m.end() : i - 1].strip()
    rest = sql[i:]
    fro, _ = lexer.find_top_level(rest, ("from",))
    if fro < 0 or not keys:
        return sql
    ob, kw = lexer.find_top_level(rest, ("order", "limit", "offset"))
    body = rest[:ob] if ob >= 0 else rest
    tail = rest[ob:] if ob >= 0 else ""
    order_exprs = keys
    limit_part = ""
    hidden: list[tuple[str, str]] = []  # (expr, direction-suffix)
    if kw == "order":
        # ORDER BY both picks each group's winner (window order) and
        # orders the final output. Its expressions may not survive the
        # projection (DuckDB resolves them from the input), so they
        # materialize as hidden __arnab_ob columns the outer sorts on.
        after = rest[ob:]
        lim, _ = lexer.find_top_level(after, ("limit", "offset"))
        clause = after[:lim] if lim >= 0 else after
        limit_part = after[lim:] if lim >= 0 else ""
        order_exprs = re.sub(r"(?is)^\s*ORDER\s+BY\s+", "", clause).strip()
        for item in lexer.split_top_level(order_exprs):
            dm = re.match(
                r"(?is)^(.*?)((?:\s+(?:ASC|DESC))?(?:\s+NULLS\s+(?:FIRST|LAST))?)\s*$",
                item.strip(),
            )
            hidden.append((dm.group(1).strip(), dm.group(2).strip()))
    elif kw in ("limit", "offset"):
        limit_part = tail
        tail = ""
    select_list = body[:fro].strip()
    from_part = body[fro:]
    ob_cols = "".join(
        f", ({expr}) AS __arnab_ob{i}" for i, (expr, _) in enumerate(hidden)
    )
    inner = (
        f"SELECT {select_list}{ob_cols}, row_number() OVER ("
        f"PARTITION BY {keys} ORDER BY {order_exprs}) AS __arnab_rn {from_part}"
    )
    drop = ", ".join(["__arnab_rn"] + [f"__arnab_ob{i}" for i in range(len(hidden))])
    outer_order = (
        " ORDER BY "
        + ", ".join(
            f"__arnab_ob{i}" + (f" {suffix}" if suffix else "")
            for i, (_, suffix) in enumerate(hidden)
        )
        if hidden
        else ""
    )
    return (
        f"SELECT * EXCEPT ({drop}) FROM ({inner}) __arnab_d "
        f"WHERE __arnab_rn = 1{outer_order} {limit_part}".rstrip()
    )


# DuckDB sampling clause → Spark TABLESAMPLE. Forms covered:
#   USING SAMPLE 10%   | 10 PERCENT | 1000 | 1000 ROWS
#   USING SAMPLE 10% (bernoulli[, 42])     -- method + optional seed
#   USING SAMPLE bernoulli(10%) [REPEATABLE (42)]
_USING_SAMPLE = re.compile(
    r"(?is)\bUSING\s+SAMPLE\s+"
    r"(?:(?P<m1>[A-Za-z_]+)\s*\(\s*)?"
    r"(?P<n>\d+(?:\.\d+)?)\s*(?P<unit>%|PERCENT\b|ROWS\b)?"
    r"(?(m1)\s*\))"
    r"(?:\s*\(\s*(?P<m2>[A-Za-z_]+)\s*(?:,\s*(?P<seed>\d+)\s*)?\))?"
    r"(?:\s+REPEATABLE\s*\(\s*(?P<seed2>\d+)\s*\))?"
)


def _rewrite_using_sample(sql: str) -> str:
    """DuckDB ``USING SAMPLE`` → Spark ``TABLESAMPLE``. Percentage
    samples map to Bernoulli percent sampling; bare numbers / ROWS map
    to row-count sampling (DuckDB's reservoir default — both are "give
    me ~n"). A seed (either spelling) maps to REPEATABLE. The method
    name itself (bernoulli/system/reservoir) is advisory in DuckDB and
    dropped here: Spark's sampler is Bernoulli per split."""

    def sub(m: re.Match) -> str:
        unit = (m.group("unit") or "").rstrip()
        spec = (
            f"{m.group('n')} PERCENT"
            if unit in ("%",) or unit.upper() == "PERCENT"
            else f"{m.group('n')} ROWS"
        )
        seed = m.group("seed") or m.group("seed2")
        return f"TABLESAMPLE ({spec})" + (f" REPEATABLE ({seed})" if seed else "")

    return _USING_SAMPLE.sub(sub, sql)
