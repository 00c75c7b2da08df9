"""Differential property tests for the dialect rewrites: generated
DuckDB-idiom statements (DISTINCT ON / QUALIFY / ASOF JOIN) run through
`transpile_statement` on Spark and VERBATIM on DuckDB over the same
fixture rows — results must match exactly. This is the right hammer for
regex-based rewrites: hypothesis explores key/order/direction
combinations no hand-written case list would."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from arnab_spark._dialect_base import state_for
from arnab_spark.dialect import transpile_statement
from arnab_spark.spark_utils import register_views

SF = "/root/testdata/sf0.001"

# small deterministic column pools on the orders fixture
KEYS = ("o_custkey", "o_orderstatus", "o_orderpriority")
ORDER_COLS = ("o_totalprice", "o_orderdate", "o_orderkey")
DIRS = ("", " DESC", " ASC")


def _forget_macros(spark):
    """Clear the session's macros and macro drops, as a fresh session
    would have them."""
    state = state_for(spark)
    state.macros.clear()
    state.dropped_macros.clear()


@pytest.fixture(scope="module")
def engines(spark):
    register_views(spark, SF, ("orders", "events"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{SF}/orders.parquet')"
    )
    con.execute(
        f"""CREATE VIEW events AS
            SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
            FROM read_parquet('{SF}/events.parquet')"""
    )
    return spark, con


def _match(spark, con, spark_sql: str, duck_sql: str):
    got = sorted(
        tuple(r) for r in spark.sql(spark_sql).collect()
    )
    exp = sorted(tuple(r) for r in con.execute(duck_sql).fetchall())
    assert got == exp, f"{spark_sql!r}\nvs\n{duck_sql!r}"


@given(
    key=st.sampled_from(KEYS),
    order_col=st.sampled_from(ORDER_COLS),
    direction=st.sampled_from(DIRS),
)
@settings(max_examples=12, deadline=None)
def test_distinct_on_matches_duckdb(engines, key, order_col, direction):
    spark, con = engines
    # tiebreak on o_orderkey makes the winner unique → comparable
    sql = (
        f"SELECT DISTINCT ON ({key}) {key}, o_orderkey, o_totalprice "
        f"FROM orders ORDER BY {key}, {order_col}{direction}, o_orderkey"
    )
    _match(spark, con, transpile_statement(sql), sql)


@given(
    part=st.sampled_from(KEYS),
    order_col=st.sampled_from(ORDER_COLS),
    direction=st.sampled_from((" DESC", " ASC")),
    n=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=12, deadline=None)
def test_qualify_matches_duckdb(engines, part, order_col, direction, n):
    spark, con = engines
    sql = (
        f"SELECT {part}, o_orderkey, "
        f"row_number() OVER (PARTITION BY {part} "
        f"ORDER BY {order_col}{direction}, o_orderkey) AS rn "
        f"FROM orders QUALIFY rn <= {n}"
    )
    _match(spark, con, transpile_statement(sql), sql)


@given(
    op=st.sampled_from((">=", ">")),
    left_kw=st.sampled_from(("LEFT ", "")),
    flip=st.booleans(),
)
@settings(max_examples=8, deadline=None)
def test_asof_matches_duckdb_native(engines, op, left_kw, flip):
    """Generated ASOF joins purchases→signups; operand order flipped at
    random (s.ts <= p.ts ≡ p.ts >= s.ts). DuckDB runs its NATIVE ASOF;
    Spark runs the lateral rewrite."""
    spark, con = engines
    flipped_op = {">=": "<=", ">": "<"}[op]
    ineq = (
        f"p.ts {op} s.signup_ts" if not flip else f"s.signup_ts {flipped_op} p.ts"
    )
    body = (
        "WITH purchases AS (SELECT event_id, user_id, ts, value FROM events "
        "WHERE event_type = 'purchase'), "
        "signups AS (SELECT event_id AS signup_id, user_id, ts AS signup_ts "
        "FROM events WHERE event_type = 'signup') "
        "SELECT p.event_id, p.user_id, s.signup_id "
        f"FROM purchases p ASOF {left_kw}JOIN signups s "
        f"ON p.user_id = s.user_id AND {ineq}"
    )
    _match(spark, con, transpile_statement(body), body)


@given(
    all_kw=st.sampled_from(("ALL ", "")),
    lcols=st.sampled_from(("o_orderkey, o_custkey", "o_custkey, o_orderstatus")),
    rcols=st.sampled_from(
        ("o_custkey, o_totalprice", "o_orderstatus, o_custkey", "o_orderkey, o_custkey")
    ),
    tail=st.sampled_from(("", " ORDER BY 1 LIMIT 2000000")),
)
@settings(max_examples=12, deadline=None)
def test_union_by_name_matches_duckdb(engines, all_kw, lcols, rcols, tail):
    """Generated UNION [ALL] BY NAME over differing column subsets of
    orders — DuckDB runs the idiom natively, Spark runs the name-aligned
    rewrite (which needs the session to resolve each side's schema).
    The LIMIT tail exceeds the fixture so it never cuts (a cutting
    LIMIT under ORDER BY on a NULL-bearing column is an engine-default
    difference — Spark sorts NULLS FIRST, DuckDB NULLS LAST — not a
    union-rewrite property). Sort key is None-safe: name-aligned unions
    produce NULL-filled columns that plain tuple sorting chokes on."""
    spark, con = engines
    sql = (
        f"SELECT {lcols} FROM orders WHERE o_orderkey % 7 = 0 "
        f"UNION {all_kw}BY NAME "
        f"SELECT {rcols} FROM orders WHERE o_orderkey % 5 = 0{tail}"
    )
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    got = sorted((tuple(r) for r in spark.sql(transpile_statement(sql, spark)).collect()), key=key)
    exp = sorted((tuple(r) for r in con.execute(sql).fetchall()), key=key)
    assert got == exp, sql


def test_union_by_name_right_side_star_except(engines):
    """`* EXCLUDE` in the RIGHT side of a UNION BY NAME: the select-list
    EXCEPT produced by the EXCLUDE rewrite must not be mistaken for a
    chained set operator (review finding, round 2)."""
    spark, con = engines
    sql = (
        "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 11 = 0 "
        "UNION BY NAME "
        "SELECT * EXCLUDE (o_orderstatus, o_totalprice, o_orderdate, o_orderpriority) "
        "FROM orders WHERE o_orderkey % 9 = 0"
    )
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    got = sorted((tuple(r) for r in spark.sql(transpile_statement(sql, spark)).collect()), key=key)
    exp = sorted((tuple(r) for r in con.execute(sql).fetchall()), key=key)
    assert got == exp, transpile_statement(sql, spark)


def test_union_by_name_parenthesized_compound_left(engines):
    """A left side that is itself `(A) UNION ALL (B)` must not get its
    outer parens stripped into unbalanced SQL (review finding, round 2)."""
    spark, con = engines
    sql = (
        "(SELECT o_orderkey FROM orders WHERE o_orderkey < 40) "
        "UNION ALL (SELECT o_orderkey FROM orders WHERE o_orderkey < 20) "
        "UNION ALL BY NAME "
        "SELECT o_custkey, o_orderkey FROM orders WHERE o_orderkey < 10"
    )
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    got = sorted((tuple(r) for r in spark.sql(transpile_statement(sql, spark)).collect()), key=key)
    exp = sorted((tuple(r) for r in con.execute(sql).fetchall()), key=key)
    assert got == exp, transpile_statement(sql, spark)


# ---------------------------------------------------------- literal fuzz

from hypothesis import HealthCheck


@st.composite
def _nested_list_expr(draw, depth=0):
    """A DuckDB literal expression tree plus a full extraction path to a
    scalar: nested list literals (subscripted 1-based, sometimes from
    the end) and struct literals (extracted by string key). Returns the
    DuckDB spelling of a SCALAR expression."""
    kind = draw(
        st.sampled_from(
            ["int", "list", "struct"] if depth < 3 else ["int"]
        )
    )
    if kind == "int":
        return str(draw(st.integers(-9, 99)))
    if kind == "list":
        n = draw(st.integers(1, 3))
        items = [draw(_nested_list_expr(depth=depth + 1)) for _ in range(n)]
        idx = draw(st.integers(1, n))
        if draw(st.booleans()):
            idx = idx - n - 1  # negative: same element from the end
        return "[" + ", ".join(items) + f"][{idx}]"
    keys = draw(st.lists(st.sampled_from("abcd"), min_size=1, max_size=2, unique=True))
    members = {k: draw(_nested_list_expr(depth=depth + 1)) for k in keys}
    body = ", ".join(f"'{k}': {v}" for k, v in members.items())
    pick = draw(st.sampled_from(keys))
    return "{" + body + f"}}['{pick}']"


@given(expr=_nested_list_expr())
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_literal_subscript_fuzz_matches_duckdb(engines, expr):
    """Random nested list/struct literals with full extraction paths:
    DuckDB runs the text verbatim, Spark runs the transpile — the
    scalar results must agree exactly (exercises the list-literal,
    struct-literal and 1-based-subscript rewrites composed)."""
    spark, con = engines
    duck_sql = f"SELECT {expr} AS v"
    exp = con.execute(duck_sql).fetchone()[0]
    got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
    assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"


# ----------------------------------------------- round-4 composed fuzz


@st.composite
def _spaced_subscript_expr(draw):
    """Subscript shapes the round-3 walk silently skipped: whitespace
    between base and bracket, function-call bases whose string args
    contain brackets/parens, string-literal character picks, spaced
    ARRAY constructors."""
    kind = draw(st.sampled_from(["ws_list", "fn_base", "str_pick", "spaced_array"]))
    ws = draw(st.sampled_from(["", " ", "  ", "\n"]))
    if kind == "ws_list":
        n = draw(st.integers(1, 4))
        items = ", ".join(str(draw(st.integers(-9, 99))) for _ in range(n))
        idx = draw(st.integers(1, n))
        if draw(st.booleans()):
            idx = idx - n - 1
        return f"([{items}]){ws}[{idx}]"
    if kind == "fn_base":
        sep = draw(st.sampled_from(["(", ")", ",", "-", "x"]))
        parts = [str(draw(st.integers(0, 9))) for _ in range(3)]
        s = sep.join(parts)
        idx = draw(st.integers(1, 3))
        return f"string_split('{s}', '{sep}'){ws}[{idx}]"
    if kind == "str_pick":
        s = draw(st.text(alphabet="abcxyz", min_size=1, max_size=6))
        idx = draw(st.integers(1, len(s)))
        if draw(st.booleans()):
            idx = idx - len(s) - 1
        return f"'{s}'{ws}[{idx}]"
    n = draw(st.integers(1, 3))
    items = ", ".join(str(draw(st.integers(-9, 99))) for _ in range(n))
    return f"ARRAY{ws or ' '}[{items}][{draw(st.integers(1, n))}]"


@given(expr=_spaced_subscript_expr())
@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_spaced_subscript_fuzz_matches_duckdb(engines, expr):
    spark, con = engines
    duck_sql = f"SELECT {expr} AS v"
    exp = con.execute(duck_sql).fetchone()[0]
    got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
    assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"


@given(
    first_arm_ff=st.booleans(),
    second_arm_ff=st.booleans(),
    setop=st.sampled_from(("UNION ALL", "UNION", "INTERSECT", "EXCEPT")),
    exclude=st.booleans(),
    tail=st.sampled_from(("", " ORDER BY 1 LIMIT 2000000")),
)
@settings(max_examples=16, deadline=None)
def test_from_first_setops_fuzz_matches_duckdb(
    engines, first_arm_ff, second_arm_ff, setop, exclude, tail
):
    """FROM-first syntax composed with top-level set operators and
    `* EXCLUDE` projections — each arm independently FROM-first or
    SELECT-first, exactly as DuckDB parses it."""
    spark, con = engines
    proj = "* EXCLUDE (o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, o_custkey)" if exclude else "o_orderkey"

    def arm(pred: str, ff: bool) -> str:
        if ff:
            return f"FROM orders SELECT {proj} WHERE {pred}"
        return f"SELECT {proj} FROM orders WHERE {pred}"

    sql = f"{arm('o_orderkey % 7 = 0', first_arm_ff)} {setop} {arm('o_orderkey % 5 = 0', second_arm_ff)}{tail}"
    _match(spark, con, transpile_statement(sql), sql)


@given(
    part=st.sampled_from(KEYS),
    order_col=st.sampled_from(ORDER_COLS),
    n=st.integers(min_value=1, max_value=3),
    exclude=st.booleans(),
)
@settings(max_examples=12, deadline=None)
def test_qualify_inline_window_fuzz_matches_duckdb(engines, part, order_col, n, exclude):
    """QUALIFY over an INLINE window function (no select-list alias),
    composed with an EXCLUDE projection — the predicate must survive the
    subquery rewrite with the window evaluated inside it. The window's
    columns must survive the projection: a window over an EXCLUDE-d
    column is the shim's documented out-of-reach shape (clear Spark
    analysis error, tested in test_dialect_statements), so the
    generator keeps part/order columns out of the EXCLUDE list."""
    spark, con = engines
    if exclude:
        dropped = {"o_orderstatus", "o_totalprice", "o_orderdate"}
        part = part if part not in dropped else "o_custkey"
        order_col = order_col if order_col not in dropped else "o_orderkey"
        proj = "* EXCLUDE (o_orderstatus, o_totalprice, o_orderdate)"
    else:
        proj = "*"
    sql = (
        f"SELECT {proj} FROM orders QUALIFY "
        f"row_number() OVER (PARTITION BY {part} "
        f"ORDER BY {order_col}, o_orderkey) <= {n}"
    )
    _match(spark, con, transpile_statement(sql, spark), sql)


@given(
    on_col=st.sampled_from(("o_orderstatus", "o_orderpriority")),
    agg=st.sampled_from(("sum(o_totalprice)", "count(*)", "min(o_orderkey)")),
    group=st.sampled_from((None, "o_orderstatus", "o_orderpriority")),
    in_cte=st.booleans(),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_pivot_dynamic_fuzz_matches_duckdb(engines, on_col, agg, group, in_cte):
    """Statement-form dynamic PIVOT (no IN list — keys enumerated at
    bind time) over a plain table or a parenthesized subquery, with and
    without GROUP BY. Compared column-name-aligned: both engines emit
    the same column names but may order the non-group columns
    differently."""
    if group == on_col:
        group = None
    spark, con = engines
    rel = (
        "(SELECT o_orderstatus, o_orderpriority, o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 3 = 0)"
        if in_cte
        else "orders"
    )
    keep = group or (
        "o_orderkey" if "o_orderkey" not in agg else "o_totalprice"
    )
    # pin the kept columns via GROUP BY so both engines agree on output
    sql = f"PIVOT {rel} ON {on_col} USING {agg} GROUP BY {keep}"
    sdf = spark.sql(transpile_statement(sql, spark)).toPandas()
    ddf = con.execute(sql).fetchdf()
    assert sorted(sdf.columns.str.lower()) == sorted(ddf.columns.str.lower()), sql
    sdf.columns = sdf.columns.str.lower()
    ddf.columns = ddf.columns.str.lower()
    cols = sorted(sdf.columns)
    got = sorted(map(tuple, sdf[cols].fillna(-1).to_numpy().tolist()))
    exp = sorted(map(tuple, ddf[cols].fillna(-1).to_numpy().tolist()))
    assert got == exp, sql


@given(
    op=st.sampled_from(("+", "*", "-")),
    nest=st.booleans(),
    arg1=st.integers(-5, 9),
    arg2=st.integers(-5, 9),
    temp_kw=st.sampled_from(("", "TEMP ", "OR REPLACE ")),
    spaced=st.booleans(),
)
@settings(max_examples=20, deadline=None)
def test_macro_expansion_fuzz_matches_duckdb(engines, op, nest, arg1, arg2, temp_kw, spaced):
    """Generated CREATE MACRO scripts (binary-op bodies, nested macro
    calls, TEMP/OR REPLACE variants, spacing) executed by DuckDB
    natively and by Spark through register-and-expand — scalar results
    must agree exactly."""
    spark, con = engines
    ws = "  " if spaced else ""
    script = [
        f"CREATE {temp_kw}MACRO inner1(x) AS x * 2",
        f"CREATE {temp_kw}MACRO outer1(a, b) AS a {op} b",
        (
            f"SELECT outer1{ws}(inner1({arg1}), {arg2}) AS v"
            if nest
            else f"SELECT outer1{ws}({arg1}, {arg2}) AS v"
        ),
    ]
    lcon = duckdb.connect()  # fresh: macro DDL must not leak across examples
    _forget_macros(spark)
    try:
        got = None
        for stmt in script:
            out = transpile_statement(stmt, spark)
            if out.strip():
                got = spark.sql(out).collect()[0][0]
        for stmt in script[:-1]:
            lcon.execute(stmt)
        exp = lcon.execute(script[-1]).fetchone()[0]
        assert got == exp, script
    finally:
        _forget_macros(spark)
        lcon.close()
