"""Differential tests for the round-3 dialect statement rewrites: COPY
… TO, statement-form PIVOT/UNPIVOT, and USING SAMPLE. Each DuckDB-dialect
statement is executed BOTH by DuckDB itself and by Spark through
``transpile_statement`` over the same fixtures, and the results (or the
exported files, read back by DuckDB) must agree exactly.

These statements are reachable reference surface: the reference passes
model SQL verbatim to DuckDB (reference: node.rs:176), so a ported
project's export / pivot models land here.
"""

import glob
import os

import duckdb
import pandas as pd
import pytest

from arnab_spark._dialect_base import state_for
from arnab_spark.dialect import transpile_statement
from arnab_spark.oracle import compare_frames

SF = "/root/testdata/sf0.001"


def _forget_macros(spark):
    """Clear the session's macros and macro drops, as a fresh session
    would have them."""
    state = state_for(spark)
    state.macros.clear()
    state.dropped_macros.clear()


@pytest.fixture()
def con():
    c = duckdb.connect()
    for t in ("orders", "lineitem", "region", "nation"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    yield c
    c.close()


def _views(spark):
    from arnab_spark.spark_utils import register_views

    register_views(spark, SF, ("orders", "lineitem", "region", "nation"))


def _duck_spark_match(name, spark, con, duck_sql, spark_pdf):
    r = compare_frames(name, spark_pdf, con.execute(duck_sql).fetchdf())
    assert r.ok, str(r)


# ---------------------------------------------------------------- COPY


def test_copy_to_parquet_roundtrip(spark, con, tmp_path):
    """Spark's transpiled COPY export, read back by DuckDB, must equal
    DuckDB's own COPY output read back the same way."""
    _views(spark)
    inner = (
        "SELECT o_orderstatus, count(*) AS n, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total "
        "FROM orders GROUP BY o_orderstatus"
    )
    duck_out = tmp_path / "duck.parquet"
    spark_out = tmp_path / "spark_export"
    con.execute(f"COPY ({inner}) TO '{duck_out}' (FORMAT PARQUET)")
    stmt = transpile_statement(f"COPY ({inner}) TO '{spark_out}' (FORMAT PARQUET)", spark)
    assert stmt.upper().startswith("INSERT OVERWRITE DIRECTORY")
    spark.sql(stmt)
    assert glob.glob(f"{spark_out}/*.parquet"), "no parquet parts written"
    back = con.execute(f"SELECT * FROM read_parquet('{spark_out}/*.parquet')").fetchdf()
    expected = con.execute(f"SELECT * FROM read_parquet('{duck_out}')").fetchdf()
    r = compare_frames("copy_parquet", back, expected)
    assert r.ok, str(r)


def test_copy_to_csv_header_roundtrip(spark, con, tmp_path):
    _views(spark)
    inner = "SELECT r_regionkey, r_name FROM region"
    duck_out = tmp_path / "duck.csv"
    spark_out = tmp_path / "spark_csv"
    con.execute(f"COPY ({inner}) TO '{duck_out}' (FORMAT CSV, HEADER)")
    spark.sql(
        transpile_statement(f"COPY ({inner}) TO '{spark_out}' (FORMAT CSV, HEADER)", spark)
    )
    parts = glob.glob(f"{spark_out}/*.csv")
    assert parts
    back = con.execute(f"SELECT * FROM read_csv_auto('{spark_out}/*.csv')").fetchdf()
    expected = con.execute(f"SELECT * FROM read_csv_auto('{duck_out}')").fetchdf()
    r = compare_frames("copy_csv", back, expected)
    assert r.ok, str(r)


def test_copy_bare_table_format_from_extension(spark, con, tmp_path):
    _views(spark)
    duck_out = tmp_path / "duck_nation.parquet"
    spark_out = tmp_path / "spark_nation.parquet"
    con.execute(f"COPY nation TO '{duck_out}'")
    spark.sql(transpile_statement(f"COPY nation TO '{spark_out}'", spark))
    back = con.execute(f"SELECT * FROM read_parquet('{spark_out}/*.parquet')").fetchdf()
    expected = con.execute(f"SELECT * FROM read_parquet('{duck_out}')").fetchdf()
    r = compare_frames("copy_bare", back, expected)
    assert r.ok, str(r)


def test_copy_unknown_option_left_untouched():
    stmt = "COPY (SELECT 1) TO 'x.parquet' (FORMAT PARQUET, PARTITION_BY (a))"
    assert transpile_statement(stmt) == stmt


# --------------------------------------------------------------- PIVOT


PIVOT_GROUPED = (
    "PIVOT orders ON o_orderstatus USING count(*) GROUP BY o_orderpriority"
)
PIVOT_IN_LIST = (
    "PIVOT orders ON o_orderstatus IN ('O', 'F') USING max(o_totalprice) "
    "GROUP BY o_orderpriority"
)


def _sorted(pdf):
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_pivot_statement_dynamic_in_list(spark, con):
    """No IN list: the pivot column's value domain is enumerated at
    bind time by both engines."""
    _views(spark)
    spark_pdf = spark.sql(transpile_statement(PIVOT_GROUPED, spark)).toPandas()
    _duck_spark_match("pivot_dynamic", spark, con, PIVOT_GROUPED, spark_pdf)


def test_pivot_statement_explicit_in_list(spark, con):
    _views(spark)
    spark_pdf = spark.sql(transpile_statement(PIVOT_IN_LIST, spark)).toPandas()
    _duck_spark_match("pivot_in", spark, con, PIVOT_IN_LIST, spark_pdf)


def test_pivot_without_group_by_groups_by_remaining_columns(spark, con):
    stmt = (
        "PIVOT (SELECT o_orderpriority, o_orderstatus FROM orders) "
        "ON o_orderstatus USING count(*)"
    )
    _views(spark)
    spark_pdf = spark.sql(transpile_statement(stmt, spark)).toPandas()
    _duck_spark_match("pivot_implicit", spark, con, stmt, spark_pdf)


# ------------------------------------------------------------- UNPIVOT


def test_unpivot_statement(spark, con):
    stmt = (
        "UNPIVOT (SELECT o_orderkey, o_totalprice AS price, "
        "CAST(o_custkey AS DOUBLE) AS cust FROM orders WHERE o_orderkey < 100) "
        "ON price, cust INTO NAME metric VALUE amount"
    )
    _views(spark)
    spark_pdf = spark.sql(transpile_statement(stmt, spark)).toPandas()
    _duck_spark_match("unpivot", spark, con, stmt, spark_pdf)


# -------------------------------------------------------- USING SAMPLE


def test_using_sample_percent_rewrites_and_runs(spark):
    _views(spark)
    stmt = transpile_statement("SELECT count(*) AS n FROM lineitem USING SAMPLE 10%")
    assert "TABLESAMPLE (10 PERCENT)" in stmt
    n_total = spark.table("lineitem").count()
    n = spark.sql(stmt).collect()[0]["n"]
    assert 0 < n < n_total


def test_using_sample_rows_and_seed_forms():
    assert (
        "TABLESAMPLE (100 ROWS)"
        in transpile_statement("SELECT * FROM lineitem USING SAMPLE 100 ROWS")
    )
    assert (
        "TABLESAMPLE (100 ROWS)"
        in transpile_statement("SELECT * FROM lineitem USING SAMPLE 100")
    )
    out = transpile_statement("SELECT * FROM lineitem USING SAMPLE 10% (bernoulli, 42)")
    assert "TABLESAMPLE (10 PERCENT) REPEATABLE (42)" in out
    out = transpile_statement("SELECT * FROM lineitem USING SAMPLE bernoulli(5%)")
    assert "TABLESAMPLE (5 PERCENT)" in out


# ------------------------------------------------- model-file pipeline


def test_export_model_file_end_to_end(spark, con, tmp_path):
    """A reference-style model containing a COPY export plus its SELECT
    runs through the engine, and DuckDB reads the export back identical
    to its own COPY of the same query."""
    from arnab_spark.config import Config
    from arnab_spark.session import Session

    models = tmp_path / "models"
    models.mkdir()
    export = tmp_path / "exported"
    (models / "src_orders.sql").write_text(
        f"SELECT * FROM read_parquet('{SF}/orders.parquet')"
    )
    (models / "order_counts.sql").write_text(
        "COPY (SELECT o_orderstatus, count(*) AS n FROM src_orders "
        f"GROUP BY o_orderstatus) TO '{export}' (FORMAT PARQUET);\n"
        "SELECT o_orderstatus, count(*) AS n FROM src_orders GROUP BY o_orderstatus"
    )
    sess = Session(
        Config(models_dir=str(models), db_path=str(tmp_path / "wh")), spark=spark
    )
    sess.run()
    back = con.execute(f"SELECT * FROM read_parquet('{export}/*.parquet')").fetchdf()
    expected = con.execute(
        "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus"
    ).fetchdf()
    r = compare_frames("export_model", back, expected)
    assert r.ok, str(r)


# ------------------------------------------- list literals & functions


def test_list_literal_and_functions_match_duckdb(spark, con):
    """DuckDB list-literal syntax + list_* names run transpiled on Spark
    and verbatim on DuckDB with identical results."""
    _views(spark)
    duck_sql = (
        "SELECT o_orderkey, o_orderpriority FROM orders "
        "WHERE list_contains(['1-URGENT', '2-HIGH'], o_orderpriority) "
        "AND o_orderkey <= 300"
    )
    spark_pdf = spark.sql(transpile_statement(duck_sql, spark)).toPandas()
    _duck_spark_match("list_literal", spark, con, duck_sql, spark_pdf)


def test_list_transform_lambda_matches_duckdb(spark, con):
    _views(spark)
    duck_sql = (
        "SELECT o_orderkey, list_transform([1, 2, 3], x -> x * o_orderkey) AS triple "
        "FROM orders WHERE o_orderkey <= 20"
    )
    spark_pdf = spark.sql(transpile_statement(duck_sql, spark)).toPandas()
    _duck_spark_match("list_transform", spark, con, duck_sql, spark_pdf)


def test_string_split_literal_separator_regex_escaped(spark, con):
    """DuckDB string_split's separator is literal; Spark's split takes a
    regex. The rewrite must regex-escape '-' and '.' style separators."""
    _views(spark)
    duck_sql = (
        "SELECT o_orderkey, string_split(o_orderpriority, '-') AS parts "
        "FROM orders WHERE o_orderkey <= 50"
    )
    spark_pdf = spark.sql(transpile_statement(duck_sql, spark)).toPandas()
    _duck_spark_match("string_split", spark, con, duck_sql, spark_pdf)


def test_group_by_all_and_colon_cast_native_passthrough(spark, con):
    """DuckDB's GROUP BY ALL / ORDER BY ALL / ::TYPE casts are native
    Spark 4 syntax — locked here so a Spark-side regression (or an
    overeager rewrite) surfaces as a differential failure."""
    _views(spark)
    duck_sql = (
        "SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n "
        "FROM orders GROUP BY ALL ORDER BY ALL"
    )
    out = transpile_statement(duck_sql, spark)
    assert "GROUP BY ALL" in out and "::" in out  # untouched
    spark_pdf = spark.sql(out).toPandas()
    _duck_spark_match("group_by_all", spark, con, duck_sql, spark_pdf)


def test_from_first_syntax_matches_duckdb(spark, con):
    """DuckDB's FROM-first statement forms (bare FROM, FROM … SELECT …)
    transpile to SELECT-first and match DuckDB's verbatim answer."""
    _views(spark)
    for duck_sql in (
        "FROM orders WHERE o_orderkey <= 40",
        "FROM orders SELECT o_orderkey, o_orderstatus "
        "WHERE o_orderkey <= 100 ORDER BY o_orderkey",
        "FROM orders o JOIN nation n ON o.o_orderkey % 25 = n.n_nationkey "
        "SELECT n.n_name, count(*) AS n GROUP BY n.n_name",
    ):
        spark_pdf = spark.sql(transpile_statement(duck_sql, spark)).toPandas()
        _duck_spark_match("from_first", spark, con, duck_sql, spark_pdf)


def test_struct_literal_matches_duckdb(spark, con):
    """DuckDB struct literals transpile to named_struct; field values
    compared via extraction (atomic columns) against verbatim DuckDB."""
    _views(spark)
    duck_sql = (
        "SELECT o_orderkey, "
        "{'status': o_orderstatus, 'meta': {'k': o_orderkey * 2}}.status AS st, "
        "{'k': o_orderkey + 1}.k AS k1 "
        "FROM orders WHERE o_orderkey <= 60"
    )
    spark_pdf = spark.sql(transpile_statement(duck_sql, spark)).toPandas()
    _duck_spark_match("struct_literal", spark, con, duck_sql, spark_pdf)


def test_subscripts_are_one_based_like_duckdb(spark, con):
    """DuckDB subscripts are 1-based (negative = from the end); the
    transpile maps non-string, non-slice subscripts to element_at so a
    ported model reads the same elements. String subscripts (struct and
    map access) already agree and pass through."""
    _views(spark)
    for duck_sql in (
        "SELECT o_orderkey, string_split(o_orderpriority, '-')[1] AS first_part "
        "FROM orders WHERE o_orderkey <= 80",
        "SELECT o_orderkey, string_split(o_orderpriority, '-')[-1] AS last_part "
        "FROM orders WHERE o_orderkey <= 80",
        "SELECT ['a','b','c'][2] AS second",
        "SELECT {'k': o_orderstatus}['k'] AS via_string_key "
        "FROM orders WHERE o_orderkey <= 30",
    ):
        spark_pdf = spark.sql(transpile_statement(duck_sql, spark)).toPandas()
        _duck_spark_match("subscript", spark, con, duck_sql, spark_pdf)


def test_subscript_spacing_and_quoted_bases(spark, con):
    """Round-4 fixes (ADVICE r3): whitespace between base and bracket,
    bases whose string args contain bracket/paren characters, qualified
    columns named `array`, string-literal character picks — each
    previously skipped silently, shipping Spark's 0-based read."""
    _views(spark)
    for duck_sql in (
        # whitespace before the bracket — still a subscript in DuckDB
        "SELECT string_split(o_orderpriority, '-') [1] AS first_part "
        "FROM orders WHERE o_orderkey <= 40",
        # a quoted '(' inside the base used to desync the backward walk
        "SELECT string_split(o_orderpriority, '(')[1] AS whole "
        "FROM orders WHERE o_orderkey <= 40",
        # spaced ARRAY constructor
        "SELECT ARRAY [10, 20, 30][2] AS v",
        # string-literal character pick, 1-based and from-the-end
        "SELECT 'abcdef'[3] AS c3, 'abcdef'[-2] AS cm2",
    ):
        spark_pdf = spark.sql(transpile_statement(duck_sql, spark)).toPandas()
        _duck_spark_match("subscript_r4", spark, con, duck_sql, spark_pdf)


def test_qualified_array_member_access(spark, con):
    """`x.array[2]` is member access + subscript in DuckDB (bare
    `array[` would be the constructor) — the list-literal pass must not
    corrupt it into a call `x.array(2)`."""
    duck_sql = "SELECT x.array[2] AS v FROM (SELECT [7, 8, 9] AS array) x"
    spark_sql = transpile_statement(duck_sql)
    assert "element_at(x.array, 2)" in spark_sql
    # DuckDB resolves the qualified ref; Spark needs the identifier
    # quoted in the inner projection, so only compare DuckDB's value
    assert con.execute(duck_sql).fetchone()[0] == 8


def test_unresolvable_subscript_base_raises():
    """A subscript whose base cannot be resolved must RAISE, not ship
    Spark's 0-based read (fail-loud doctrine, ADVICE r3)."""
    from arnab_spark.errors import ArnabError

    with pytest.raises(ArnabError):
        # ')' with no matching opener: the walk cannot resolve a base
        transpile_statement("SELECT x)[1]")


def test_sequence_statements_raise_targeted_error():
    """Round-9 (r8 verdict ask #6): CREATE SEQUENCE / DROP SEQUENCE /
    nextval / currval — the top remaining loud gap a real DuckDB
    project hits — must raise a dialect error NAMING the construct and
    the Spark alternatives, not a generic Spark parse failure."""
    from arnab_spark.errors import ArnabError

    for stmt in (
        "CREATE SEQUENCE ids START 1",
        "CREATE OR REPLACE TEMP SEQUENCE ids",
        "DROP SEQUENCE ids",
        "SELECT nextval('ids') AS id, o_orderkey FROM orders",
        "SELECT currval('ids')",
    ):
        with pytest.raises(ArnabError) as exc:
            transpile_statement(stmt)
        msg = str(exc.value)
        assert "monotonically_increasing_id" in msg
        assert "SEQUENCE" in msg.upper()
    # the construct name inside a string LITERAL must not trigger
    assert "nextval" in transpile_statement(
        "SELECT 'call nextval(x) later' AS note"
    )
    # ... nor inside a COMMENT (round-10 advice: the reject pass is
    # comment-aware like the power-operator pass — a note mentioning
    # 'DROP SEQUENCE' or 'nextval(' must not fail the statement)
    for stmt in (
        "SELECT 1 AS v -- then DROP SEQUENCE ids and nextval('ids')",
        "SELECT /* nextval(ids) pending CREATE SEQUENCE */ 2 AS v",
    ):
        assert " AS v" in transpile_statement(stmt)


def test_count_pivot_fills_empty_cells_with_zero(spark, con):
    """DuckDB's count pivot writes 0 into empty cells; Spark's leaves
    NULL — the rewrite coalesces (round-4 fuzz finding), both with an
    explicit GROUP BY and with the group-by-all-remaining default."""
    _views(spark)
    for duck_sql in (
        "PIVOT orders ON o_orderstatus USING count(*) GROUP BY o_orderkey",
        "PIVOT (SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey <= 60) "
        "ON o_orderstatus USING count(*)",
    ):
        spark_pdf = spark.sql(transpile_statement(duck_sql, spark)).toPandas()
        _duck_spark_match("count_pivot_zero", spark, con, duck_sql, spark_pdf)


def test_create_macro_scalar_and_table(spark, con):
    """DuckDB CREATE MACRO: the shim registers the template and expands
    call sites at bind time exactly as DuckDB does — scalar macros as
    parenthesized expressions, TABLE macros as derived tables, macros
    calling macros. Differential: DuckDB executes the same script
    natively."""
    _views(spark)
    script = [
        "CREATE MACRO add_tax(p) AS p * 1.1",
        "CREATE MACRO taxed_total(p, q) AS add_tax(p) * q",
        "CREATE MACRO cheap_orders() AS TABLE "
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 10000",
        "SELECT o_orderkey, taxed_total(o_totalprice, 2) AS t "
        "FROM cheap_orders() WHERE o_orderkey <= 500",
    ]
    _forget_macros(spark)
    try:
        spark_pdf = None
        for stmt in script:
            out = transpile_statement(stmt, spark)
            if out.strip():
                spark_pdf = spark.sql(out).toPandas()
        for stmt in script[:-1]:
            con.execute(stmt)
        _duck_spark_match("macro", spark, con, script[-1], spark_pdf)
    finally:
        _forget_macros(spark)


def test_create_macro_qualified_and_mismatched_calls_left_loud(spark):
    """A qualified reference (t.name) is not a macro call, and an
    argument-count mismatch is left unexpanded so Spark reports the
    unresolved function instead of running a half-bound template."""
    s = spark.newSession()  # a session with no macros yet
    assert transpile_statement("CREATE MACRO f(x) AS x + 1", s) == ""
    assert "f(" in transpile_statement("SELECT f(1, 2) AS v", s)  # mismatch: untouched
    assert transpile_statement("SELECT t.f FROM t", s) == "SELECT t.f FROM t"
    # default parameters (round 4): DuckDB's binder rules exactly —
    # named args fill defaults; positional-for-default stays loud
    assert transpile_statement("CREATE MACRO g(a, p := 10) AS a + p", s) == ""
    assert transpile_statement("SELECT g(3) AS v", s) == "SELECT ((3) + (10)) AS v"
    assert transpile_statement("SELECT g(3, p := 1) AS v", s) == "SELECT ((3) + (1)) AS v"
    assert "g(" in transpile_statement("SELECT g(3, 1) AS v", s)  # positional-for-default: loud
    # an argument naming ANOTHER parameter must not be re-substituted
    assert transpile_statement("CREATE MACRO h(a, b) AS a + b", s) == ""
    assert transpile_statement("SELECT h(b, 2) AS v FROM t", s) == "SELECT ((b) + (2)) AS v FROM t"


def test_run_file_script_with_macro(spark, tmp_path):
    """End-to-end: a run-file script defining and using a DuckDB macro
    executes through the CLI loop (reference: main.rs:165 passes such
    scripts verbatim to DuckDB)."""
    from arnab_spark.cli import main

    script = tmp_path / "script.sql"
    script.write_text(
        "CREATE MACRO double_it(x) AS x * 2;\n"
        "SELECT double_it(21) AS v;\n"
    )
    _forget_macros(spark)
    try:
        assert main(["run-file", str(script)]) == 0
    finally:
        _forget_macros(spark)


def test_drop_macro_unregisters(spark):
    s = spark.newSession()  # a session with no macros yet
    assert transpile_statement("CREATE MACRO f(x) AS x + 1", s) == ""
    assert transpile_statement("SELECT f(1) AS v", s) == "SELECT ((1) + 1) AS v"
    assert transpile_statement("DROP MACRO f", s) == ""
    assert transpile_statement("SELECT f(1) AS v", s) == "SELECT f(1) AS v"
    assert transpile_statement("DROP MACRO IF EXISTS nothere", s) == ""


def test_dialect_state_is_per_session(spark, tmp_path):
    """Macros, attached catalogs and the USE alias belong to one
    session: two sessions defining the same macro name or attaching
    different catalogs never see each other's, and a statement
    transpiled without a session registers nothing a later one sees."""
    from arnab_spark.errors import ArnabError

    for n in (1, 2):
        con = duckdb.connect(str(tmp_path / f"db{n}.duckdb"))
        con.execute(f"CREATE TABLE t AS SELECT {n} AS v")
        con.close()
    a, b = spark.newSession(), spark.newSession()
    assert transpile_statement("CREATE MACRO f(x) AS x + 1", a) == ""
    assert transpile_statement("CREATE MACRO f(x) AS x * 2", b) == ""
    assert transpile_statement("SELECT f(3) AS v", a) == "SELECT ((3) + 1) AS v"
    assert transpile_statement("SELECT f(3) AS v", b) == "SELECT ((3) * 2) AS v"
    for s, alias, n in ((a, "one", 1), (b, "two", 2)):
        assert transpile_statement(f"ATTACH '{tmp_path}/db{n}.duckdb' AS {alias}", s) == ""
        assert transpile_statement(f"USE {alias}", s) == ""
    assert a.sql(transpile_statement("SELECT v FROM t", a)).collect()[0].v == 1
    assert b.sql(transpile_statement("SELECT v FROM t", b)).collect()[0].v == 2
    with pytest.raises(ArnabError, match="no attached catalog"):
        transpile_statement("USE two", a)
    with pytest.raises(ArnabError, match="no attached catalog"):
        transpile_statement("USE one", b)

    assert transpile_statement("CREATE MACRO g(x) AS x+1") == ""
    assert transpile_statement("SELECT g(1)") == "SELECT g(1)"


def test_run_file_native_ddl_script(spark, tmp_path):
    """A DuckDB-style DDL script (CREATE TABLE AS / INSERT INTO / DROP
    TABLE) runs through the run-file loop end-to-end. Since round 11 the
    DuckDB-shaped CREATE TABLE is lifted to an engine session table (no
    warehouse open here) and the INSERT/DROP route through the DML pass
    — the script itself is unchanged reference-style SQL
    (reference: main.rs:165)."""
    from arnab_spark.cli import main

    script = tmp_path / "ddl.sql"
    script.write_text(
        "CREATE TABLE IF NOT EXISTS arnab_ddl_smoke AS SELECT 1 AS x;\n"
        "INSERT INTO arnab_ddl_smoke VALUES (2);\n"
        "SELECT count(*) AS n FROM arnab_ddl_smoke;\n"
        "DROP TABLE arnab_ddl_smoke;\n"
    )
    try:
        assert main(["run-file", str(script)]) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS arnab_ddl_smoke")


def test_list_function_semantics_match_duckdb(spark, con):
    """Round-4 mapping widening: list_sort / list_position /
    list_indexof / list_reverse / array_length are exact name swaps on
    the pinned DuckDB (NULL and missing-element cases included), and
    list_reverse_sort / list_has_any / list_has_all get argument
    surgery with DuckDB's ignore-null-elements + NULL-input contract."""
    cases = [
        "list_sort([3, NULL, 1])",
        "list_sort([])",
        "list_reverse_sort([3, NULL, 1])",
        "list_position([7,8,9], 9)",
        "list_position([7,8,9], 5)",
        "list_position([7,8,9], NULL)",
        "list_indexof([5,6], 6)",
        "list_reverse([1,2,3])",
        "array_length([1,2,3])",
        "array_length(NULL)",
        "list_has_any([1,2], [2,3])",
        "list_has_any([1], [2])",
        "list_has_any([1,NULL], [NULL])",
        # NULL input arrays must be TYPED (as any real column is) —
        # a bare literal NULL is VOID-typed and fails loudly at Spark
        # analysis, which is the documented fail-loud posture
        "list_has_any(CASE WHEN 1=0 THEN [1] ELSE NULL END, [1])",
        "list_has_all([1,2,3], [2,3])",
        "list_has_all([1,2], [NULL])",
        "list_has_all([1,2], [2,NULL])",
        "list_has_all([1,2], [])",
        "list_has_all(CASE WHEN 1=0 THEN [1] ELSE NULL END, [1])",
        "list_has_all([1,2], [3])",
        # nested: arg-surgery calls inside each other and inside maps
        "list_has_any(list_reverse_sort([2,1]), [1])",
        "list_position(list_sort([9,7,8]), 8)",
    ]
    for expr in cases:
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
        assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"


def test_scalar_function_parity_log_strpos_sha256(spark, con):
    """Scalar-name parity (round 4): DuckDB's one-arg log() is BASE-10
    while Spark's is natural log — rewritten to log10; two-arg
    log(base, x) is identical and passes through. strpos→instr,
    sha256→sha2(·,256), regexp_matches→regexp_like."""
    cases = [
        "log(100)",
        "log(1000.0)",
        "log(2, 8)",
        "log10(100)",
        "log(10, 100)",
        "strpos('hello', 'l')",
        "strpos('hello', 'z')",
        "sha256('abc')",
        "contains('hello', 'ell')",
        "regexp_matches('abc123', '[0-9]+')",
        "regexp_matches('abc', '^z')",
    ]
    for expr in cases:
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
        assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"


def test_strftime_strptime_literal_formats(spark, con):
    """strftime with a literal C-style format translates to
    date_format with the Java pattern (literal runs quoted, quotes
    SQL-escaped); strptime routes through the round-10 PARSE compiler
    (see test_strptime_parse_compiler_differential); any unmapped
    %-directive leaves the call untouched for a loud
    UNRESOLVED_ROUTINE."""
    cases = [
        "strftime(TIMESTAMP '2024-03-07 14:05:09.123456', '%Y-%m-%d')",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', '%Y-%m-%dT%H:%M:%S')",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', 'at %H hours')",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', '%j %a %A %b %B %p')",
        "strftime(TIMESTAMP '2024-03-07 14:05:09.123456', '%H:%M:%S.%f')",
        "strftime(DATE '2024-01-31', '%d/%m/%y')",
        "CAST(strptime('07/03/2024', '%d/%m/%Y') AS TIMESTAMP)",
        "CAST(strptime('2024-03-07 14:05:09', '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)",
    ]
    for expr in cases:
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
        assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"
    # no-padding %-X directives map to Java's min-width single letters
    out = transpile_statement("SELECT strftime(ts, '%-d/%-m') FROM t")
    assert "date_format(ts, 'd/M')" in out
    # genuinely unmapped directives and column-sourced formats: loud
    # (DuckDB itself raises "strftime format must be a constant" on the
    # latter — probed — so loud IS parity)
    assert "strftime" in transpile_statement("SELECT strftime(ts, '%Z') FROM t")
    assert "strftime" in transpile_statement("SELECT strftime(ts, fmt) FROM t")
    assert "strptime" in transpile_statement("SELECT strptime(s, fmt) FROM t")


def test_strftime_expression_directives_and_literal_folding(spark, con):
    """Round-9 lift: directives with no Java pattern twin (%U %W %V %G
    %u %w %-y %n) compile to pure-JVM SQL expressions, the composite
    ISO directives (%c %x %X) map as fixed Java patterns, and constant
    ``'a' || 'b'`` format chains fold before translation (DuckDB binds
    formats as constants, so the folded chain is exactly what it
    executes — probed). Differential over ISO year/week boundary dates
    where the %G/%V/%U/%W formulas genuinely diverge from the naive
    year/week."""
    dates = [
        "TIMESTAMP '1992-03-02 08:05:09.123456'",
        "TIMESTAMP '2018-12-31 23:59:59'",
        "TIMESTAMP '2024-01-07 00:00:00.000001'",
        "TIMESTAMP '2000-01-02 12:00:00'",
        "TIMESTAMP '2021-01-01 01:02:03'",
        "TIMESTAMP '2009-01-01 23:00:00'",
        "TIMESTAMP '2003-06-01 00:00:00'",
        "DATE '1999-12-31'",
    ]
    fmts = [
        "%U", "%W", "%V", "%G", "%u", "%w", "%-y", "%n", "%c", "%x", "%X",
        "week %V of %G", "%Y-%m-%d (%U|%W)", "u=%u w=%w y=%-y",
        "100%% %V", "%c.%n",
    ]
    for d in dates:
        for f in fmts:
            duck_sql = f"SELECT strftime({d}, '{f}') AS v"
            exp = con.execute(duck_sql).fetchone()[0]
            t = transpile_statement(duck_sql)
            assert "strftime" not in t, t
            got = spark.sql(t).collect()[0][0]
            assert got == exp, f"{d} {f!r}: spark={got!r} duck={exp!r}"
    # literal || chains fold for both functions (incl. parenthesized
    # parts, the shape macro splicing produces)
    for expr in (
        "strftime(TIMESTAMP '2024-03-07 14:05:09', '%Y' || '/%m' || ' %V')",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', ('%Y') || ('/%m'))",
        "CAST(strptime('2024/03', '%Y' || '/%m') AS TIMESTAMP)",
    ):
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        t = transpile_statement(duck_sql)
        assert "strftime(" not in t and "strptime(" not in t, t
        got = spark.sql(t).collect()[0][0]
        assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"
    # NULL input propagates through the concat compilation
    duck_sql = "SELECT strftime(CAST(NULL AS TIMESTAMP), 'week %V of %G') AS v"
    assert con.execute(duck_sql).fetchone()[0] is None
    assert spark.sql(transpile_statement(duck_sql)).collect()[0][0] is None
    # a chain with a non-literal part stays loud
    assert "strftime" in transpile_statement(
        "SELECT strftime(ts, '%Y' || fmt) FROM t"
    )


#: (input, format) matrix for the round-10 strptime PARSE compiler —
#: every DuckDB parse-side semantic probed during its design: 1-2 digit
#: numeric fields, 1900-01-01 defaults, the three week-number systems
#: (%G/%V/%u ISO, %Y/%U/%w Sunday, %Y/%W/%w Monday), validated-ignored
#: fields (%V beside %Y, %u beside %U/%W, %w in ISO, day names, week
#: fields beside a month/day), last-wins duplicate year roles, %I/%p
#: hour rules, %f=µs %g=ms %n=ns(half-up) integer fractions, composite
#: %c/%x/%X, case-insensitive month/day names (abbrev vs full strict),
#: whitespace flexibility, and literal %%.
_STRPTIME_OK_CASES = [
    ("2021-03-05", "%Y-%m-%d"), ("2021-3-5", "%Y-%m-%d"),
    ("2021-3-5", "%Y-%-m-%-d"), ("07/03/2024", "%d/%m/%Y"),
    ("2024-03-07 14:05:09", "%Y-%m-%d %H:%M:%S"),
    ("2024-03-07 14:05:09.123456", "%Y-%m-%d %H:%M:%S.%f"),
    ("2024-03-07 14:05:09.123", "%Y-%m-%d %H:%M:%S.%g"),
    ("2024-03-07 14:05:09 123456499", "%Y-%m-%d %H:%M:%S %n"),
    ("2024-03-07 14:05:09 123456500", "%Y-%m-%d %H:%M:%S %n"),
    ("13:45", "%H:%M"), ("11 30 pm", "%I %M %p"), ("12 am", "%I %p"),
    ("12 pm", "%I %p"), ("12", "%I"), ("11 Pm", "%I %p"), ("pm 11", "%p %I"),
    ("2021 02 4", "%G %V %u"), ("2021-W02-4", "%G-W%V-%u"),
    ("2018 52 1", "%G %V %u"), ("2020 53 7", "%G %V %u"),
    ("2021 53 1", "%G %V %u"), ("2021", "%G"), ("2021 4", "%G %u"),
    ("2021 5", "%G %V"), ("02 4", "%V %u"),
    ("2021 05", "%Y %U"), ("2021 05 3", "%Y %U %w"),
    ("2021 00 5", "%Y %U %w"), ("2021 53", "%Y %U"), ("05", "%U"),
    ("2021 05", "%Y %W"), ("2021 00", "%Y %W"), ("2021 05 0", "%Y %W %w"),
    ("2021 05 3", "%Y %W %w"), ("2021 05 3", "%Y %U %u"),
    ("2021 05 7", "%Y %W %u"), ("2021 02 0", "%G %V %w"),
    ("2021 02 4 3", "%G %V %u %w"), ("2021 05", "%Y %V"),
    ("2021-W02-4 13:45:07", "%G-W%V-%u %H:%M:%S"),
    ("2021 05 3 11 30 pm", "%Y %U %w %I %M %p"),
    ("JAN 5 2021", "%b %d %Y"), ("15/MAR/2021", "%d/%b/%Y"),
    ("january 5 2021", "%B %d %Y"), ("Mon 2021-03-16", "%a %Y-%m-%d"),
    ("MONDAY 2021-03-16", "%A %Y-%m-%d"), ("Friday 2021 05", "%A %Y %U"),
    ("mar 5", "%b %d"), ("5 2021-03", "%d %Y-%m"),
    ("2021 05 7", "%Y %U %d"),
    ("69", "%y"), ("68", "%y"), ("0", "%y"), ("5", "%y"), ("21", "%Y"),
    ("2021 22", "%Y %y"), ("22 2021", "%y %Y"),
    ("20210305", "%Y%m%d"), ("1345", "%H%M"), ("abc", "abc"),
    (" 2021", "%Y"), ("2021 ", "%Y"), ("2021\t05", "%Y %U"),
    ("2021  05", "%Y %U"), ("50% 2021", "%U%% %Y"),
    ("2021-03-15 13:45:07", "%c"), ("2021-03-15", "%x"), ("13:45:07", "%X"),
    ("2021-03-15 02 1", "%Y-%m-%d %V %u"), ("2021-03-15 40", "%Y-%m-%d %U"),
    ("2020-02-29", "%Y-%m-%d"),
    # %j (round 11): position-dependent application, every rule probed —
    # recorded only before any numeric %Y/%y/%m/%d, cleared by a later
    # %m/%d, kept (leap-aware, FINAL year) across a later year, winning
    # over month NAMES in either order, range-validated even when
    # skipped, overflowing year-end like DuckDB ('366 2021' = 2022-01-01)
    ("2021 100", "%Y %j"), ("100 2021", "%j %Y"), ("100", "%j"),
    ("060 2020", "%j %Y"), ("060 2021", "%j %Y"),
    ("03 100 2021", "%m %j %Y"), ("100 03 2021", "%j %m %Y"),
    ("100 05 2021", "%j %d %Y"), ("2021 100 05", "%Y %j %d"),
    ("366 2021", "%j %Y"), ("366 2020", "%j %Y"), ("2021 366", "%Y %j"),
    ("5 2020", "%j %Y"), ("005 2020", "%j %Y"),
    ("13 100", "%H %j"), ("100 21", "%j %y"), ("21 100", "%y %j"),
    ("100 Jan 2021", "%j %b %Y"), ("Jan 100 2021", "%b %j %Y"),
    ("2020 100 Feb", "%Y %j %b"), ("2021 100 200", "%Y %j %j"),
    ("100 2021", "%-j %Y"), ("2021 100 13:14", "%Y %j %H:%M"),
]
#: inputs BOTH engines must reject (range violations, regex mismatch,
#: invalid calendar dates, abbrev/full name cross-use)
_STRPTIME_ERR_CASES = [
    ("2021 54 1", "%G %V %u"), ("2021 00 1", "%G %V %u"),
    ("2021 02 0", "%G %V %u"), ("2021 02 8", "%G %V %u"),
    ("2021 05 7", "%Y %U %w"), ("2021 05 0", "%Y %U %u"),
    ("2021 05 8", "%Y %U %u"), ("2021 60", "%Y %U"), ("2021 54", "%Y %V"),
    ("2021-02-30", "%Y-%m-%d"), ("2021-02-29", "%Y-%m-%d"),
    ("2021-13-05", "%Y-%m-%d"), ("24:00", "%H:%M"),
    ("2021 60 10", "%Y %M %S"), ("13", "%I"), ("2021xyz", "%Y"),
    ("202105", "%Y %U"), ("12345", "%Y"),
    ("2021-01-15 1234567", "%Y-%m-%d %f"), ("2021-01-15 1234", "%Y-%m-%d %g"),
    ("Jan 5 2021", "%B %d %Y"), ("Xyz 2021-03-16", "%a %Y-%m-%d"),
    ("garbage", "%Y-%m-%d"),
    # %j error parity: range validation fires even where skipped; a
    # second %j while one is pending is a runtime conflict in DuckDB
    ("2021 000", "%Y %j"), ("367 2020", "%j %Y"), ("0 2020", "%j %Y"),
    ("1000 2020", "%j %Y"), ("100 200", "%j %j"),
    ("100 2021 200", "%j %Y %j"),
]


def test_strptime_parse_compiler_differential(spark, con):
    """Round-10 lift: strptime with a constant format compiles to a
    pure-JVM parse expression (anchored regex extraction + calendar
    arithmetic) instead of Java ``to_timestamp`` — the Java path
    silently mismatched DuckDB on single-digit fields ('2021-3-5'),
    the 1900 default date, %g (integer ms, not a fraction) and %j
    (position-dependently applied by DuckDB; lifted round 11 with the
    probed position rules). Every success AND error case must agree
    with DuckDB run verbatim."""
    for inp, fmt in _STRPTIME_OK_CASES:
        duck_sql = f"SELECT strptime('{inp}', '{fmt}') AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        t = transpile_statement(duck_sql)
        assert "strptime(" not in t, f"stayed loud: {fmt!r}"
        got = spark.sql(t).collect()[0][0]
        assert got == exp, f"{inp!r} {fmt!r}: spark={got!r} duck={exp!r}"
    for inp, fmt in _STRPTIME_ERR_CASES:
        duck_sql = f"SELECT strptime('{inp}', '{fmt}') AS v"
        with pytest.raises(Exception):
            con.execute(duck_sql).fetchone()
        t = transpile_statement(duck_sql)
        assert "strptime(" not in t, f"stayed loud: {fmt!r}"
        with pytest.raises(Exception):
            spark.sql(t).collect()


def test_try_strptime_and_strptime_loud_shapes(spark, con):
    """try_strptime compiles to the same parse expression with a typed
    NULL in place of raise_error (NULL on mismatch, range violation AND
    invalid calendar dates — the explicit last-day check keeps ANSI
    make_date from erroring first); NULL input stays NULL; the shapes
    with no proven mapping stay loud: %z/%Z (different result type),
    %U beside %W and %G beside %U/%W/%Y (DuckDB errors), %j beside any
    week-system field (DuckDB errors), %p without %I, stacked fraction
    fields, and column-sourced formats (constant-only in DuckDB
    itself)."""
    for inp, fmt, exp_null in [
        ("garbage", "%Y-%m-%d", True),
        ("2021-02-30", "%Y-%m-%d", True),
        ("2021 54 1", "%G %V %u", True),
        ("2021 02 4", "%G %V %u", False),
    ]:
        duck = con.execute(f"SELECT try_strptime('{inp}', '{fmt}')").fetchone()[0]
        assert (duck is None) == exp_null  # pin the oracle's own contract
        t = transpile_statement(f"SELECT try_strptime('{inp}', '{fmt}') AS v")
        assert "strptime(" not in t
        assert spark.sql(t).collect()[0][0] == duck
    t = transpile_statement("SELECT strptime(CAST(NULL AS STRING), '%G %V') AS v")
    assert "strptime(" not in t
    assert spark.sql(t).collect()[0][0] is None
    for loud_sql in [
        "SELECT strptime(s, '%j %G %V %u') FROM t",  # %j + week system
        "SELECT strptime(s, '%Y %U %w %j') FROM t",  # (DuckDB errors)
        "SELECT strptime(s, '%-Y-%m-%d') FROM t",  # %-Y: DuckDB bind error
        "SELECT strptime(s, '%Y-%-V') FROM t",  # %-V: DuckDB bind error
        "SELECT strptime(s, '%Y-%m-%d %Z') FROM t",  # %Z: see tz test
        "SELECT strptime(s, '%Y %U %W') FROM t",
        "SELECT strptime(s, '%G %U') FROM t",
        "SELECT strptime(s, '%G %Y') FROM t",
        "SELECT strptime(s, '%H %p') FROM t",
        "SELECT strptime(s, '%S %f %g') FROM t",
        "SELECT strptime(s, '%m %b %Y') FROM t",
        "SELECT strptime(s, fmt) FROM t",
        "SELECT try_strptime(s, fmt) FROM t",
    ]:
        assert "strptime(" in transpile_statement(loud_sql), loud_sql


#: %z matrix (round 15, r14 verdict ask #5 — every rule probed on the
#: oracle DuckDB before implementation): token is sign + HH / HHMM /
#: HH:MM exactly; NO range validation (minutes >= 60 roll over, +9999
#: is 99h99m); instant = wall time minus offset; composes with %j, the
#: ISO week system, %I/%p and %f; duplicate %z last-wins without
#: erroring; date underflows below the 1900-01-01 default.
_STRPTIME_TZ_OK_CASES = [
    ("2021-03-05 10:00:00 +0530", "%Y-%m-%d %H:%M:%S %z"),
    ("2021-03-05 10:00:00 +05:30", "%Y-%m-%d %H:%M:%S %z"),
    ("2021-03-05 10:00:00 +05", "%Y-%m-%d %H:%M:%S %z"),
    ("2021-03-05 10:00:00 -0800", "%Y-%m-%d %H:%M:%S %z"),
    ("2021-03-05 10:00:00 -05:30", "%Y-%m-%d %H:%M:%S %z"),
    ("2021-03-05T10:00:00+05:30", "%Y-%m-%dT%H:%M:%S%z"),
    ("2021-03-05 +9999", "%Y-%m-%d %z"),
    ("2021-03-05 +0560", "%Y-%m-%d %z"),
    ("10:00 +0130", "%H:%M %z"),
    ("00:30 +0100", "%H:%M %z"),
    ("+0200 2021-03-05 10:00", "%z %Y-%m-%d %H:%M"),
    ("060 2020 +0100", "%j %Y %z"),
    ("2021 05 1 +0100", "%G %V %u %z"),
    ("10 pm +0200", "%I %p %z"),
    ("2021-03-05 10:00:00.123456 +0230", "%Y-%m-%d %H:%M:%S.%f %z"),
    ("2021-03-05 10:00 +0100 +0200", "%Y-%m-%d %H:%M %z %z"),
]
_STRPTIME_TZ_ERR_CASES = [
    ("2021-03-05 +5", "%Y-%m-%d %z"),
    ("2021-03-05 +053", "%Y-%m-%d %z"),
    ("2021-03-05 +05301", "%Y-%m-%d %z"),
    ("2021-03-05 0530", "%Y-%m-%d %z"),
    ("2021-03-05 +:30", "%Y-%m-%d %z"),
    ("2021-03-05 +05:3", "%Y-%m-%d %z"),
    ("2021-03-05 10:00:00 Z", "%Y-%m-%d %H:%M:%S %z"),
]


def test_strptime_tz_offset_differential(spark, con):
    """Round-15 %z lift: DuckDB's result TYPE is TIMESTAMP WITH TIME
    ZONE while the compiled expression yields TIMESTAMP — on the
    UTC-pinned sessions both hold the same instant, which is what this
    compares (the DuckDB value normalized to a naive UTC datetime).
    The documented divergence is downstream typeof() only."""
    from datetime import timezone

    con.execute("SET TimeZone='UTC'")
    for inp, fmt in _STRPTIME_TZ_OK_CASES:
        duck_sql = f"SELECT strptime('{inp}', '{fmt}') AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        exp = exp.astimezone(timezone.utc).replace(tzinfo=None)
        t = transpile_statement(duck_sql)
        assert "strptime(" not in t, f"stayed loud: {fmt!r}"
        got = spark.sql(t).collect()[0][0]
        assert got == exp, f"{inp!r} {fmt!r}: spark={got!r} duck={exp!r}"
    for inp, fmt in _STRPTIME_TZ_ERR_CASES:
        duck_sql = f"SELECT strptime('{inp}', '{fmt}') AS v"
        with pytest.raises(Exception):
            con.execute(duck_sql).fetchone()
        t = transpile_statement(duck_sql)
        assert "strptime(" not in t, f"stayed loud: {fmt!r}"
        with pytest.raises(Exception):
            spark.sql(t).collect()
        try_sql = f"SELECT try_strptime('{inp}', '{fmt}') AS v"
        assert con.execute(try_sql).fetchone()[0] is None
        tt = transpile_statement(try_sql)
        assert "strptime(" not in tt
        assert spark.sql(tt).collect()[0][0] is None


def test_epoch_and_datediff_day_parity(spark, con):
    """epoch family → unix_* (exact integer micros; the fractional
    seconds divide is the same IEEE op in both engines), and 3-arg
    date_diff/datediff with the 'day' unit → Spark datediff with the
    argument order flipped. Non-day units stay loud (DuckDB counts
    boundary crossings, which Spark's month/hour arithmetic does not)."""
    cases = [
        "epoch(TIMESTAMP '2024-03-07 14:05:09')",
        "epoch(TIMESTAMP '2024-03-07 14:05:09.5')",
        "epoch_ms(TIMESTAMP '2024-03-07 14:05:09.123')",
        "epoch_us(TIMESTAMP '2024-03-07 14:05:09.123456')",
        "date_diff('day', DATE '2024-01-30', DATE '2024-02-02')",
        "datediff('day', DATE '2024-01-30', DATE '2024-02-02')",
        "date_diff('day', TIMESTAMP '2024-01-30 23:59:00', TIMESTAMP '2024-01-31 00:01:00')",
    ]
    for expr in cases:
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
        assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"
    # round-4 widening: calendar/sub-day units expand to verified
    # boundary-crossing arithmetic; round 8 added week (probed model:
    # trunc-toward-zero epoch-week of the Monday — see _datediff_units)
    assert "year(b)" in transpile_statement("SELECT date_diff('month', a, b) FROM t")
    assert "DOW_ISO" in transpile_statement("SELECT date_diff('week', a, b) FROM t")
    # genuinely unknown units still pass through loud
    assert "date_diff" in transpile_statement("SELECT date_diff('era', a, b) FROM t")


def test_read_parquet_file_list(spark, con):
    """DuckDB's multi-file scan read_parquet(['a','b']) substitutes a
    temp view over Spark's multi-path reader; row counts and contents
    must match DuckDB reading the same list."""
    sql = (
        f"SELECT count(*) AS n FROM "
        f"read_parquet(['{SF}/region.parquet', '{SF}/nation.parquet'])"
    )
    spark_pdf = spark.sql(transpile_statement(sql, spark)).toPandas()
    _duck_spark_match("read_list", spark, con, sql, spark_pdf)
    # sessionless: left for Spark to reject loudly, never silently empty
    assert "read_parquet" in transpile_statement(sql)


def test_copy_partition_by_hive_layout(spark, con, tmp_path):
    """COPY ... (FORMAT PARQUET, PARTITION_BY (col)): Spark executes the
    export through write.partitionBy (INSERT OVERWRITE DIRECTORY cannot
    partition) producing the same hive col=value layout DuckDB writes,
    with identical data read back hive-partitioned. Sessionless
    transpile leaves the statement loud."""
    _views(spark)
    inner = (
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
        "WHERE o_orderkey < 200"
    )
    duck_out = tmp_path / "duck"
    spark_out = tmp_path / "spark"
    con.execute(
        f"COPY ({inner}) TO '{duck_out}' (FORMAT PARQUET, PARTITION_BY (o_orderstatus))"
    )
    stmt = (
        f"COPY ({inner}) TO '{spark_out}' (FORMAT PARQUET, PARTITION_BY (o_orderstatus))"
    )
    assert transpile_statement(stmt, spark) == ""  # side effect performed
    assert transpile_statement(stmt).startswith("COPY")  # sessionless: loud
    back = con.execute(
        f"SELECT * FROM read_parquet('{spark_out}/*/*.parquet', hive_partitioning=1)"
    ).fetchdf()
    expected = con.execute(
        f"SELECT * FROM read_parquet('{duck_out}/*/*.parquet', hive_partitioning=1)"
    ).fetchdf()
    back["o_orderstatus"] = back["o_orderstatus"].astype(str)
    expected["o_orderstatus"] = expected["o_orderstatus"].astype(str)
    r = compare_frames("copy_partitioned", back, expected)
    assert r.ok, str(r)


def test_summarize_statement_layout_and_values(spark, con):
    """SUMMARIZE maps to a generated per-column aggregate in DuckDB's
    exact column layout. Exact fields (column_name, min/max, count,
    null_percentage) must equal DuckDB's; approx_unique is approximate
    in BOTH engines (HLL) so only its presence is asserted. Sessionless
    transpile stays loud."""
    _views(spark)
    stmt = "SUMMARIZE (SELECT o_orderstatus, o_totalprice, o_orderkey FROM orders)"
    got = spark.sql(transpile_statement(stmt, spark)).toPandas().set_index("column_name")
    exp = con.execute(stmt).fetchdf().set_index("column_name")
    assert list(got.columns) == list(exp.columns)
    assert set(got.index) == set(exp.index)
    for col in exp.index:
        assert str(got.loc[col, "min"]) == str(exp.loc[col, "min"])
        assert str(got.loc[col, "max"]) == str(exp.loc[col, "max"])
        assert int(got.loc[col, "count"]) == int(exp.loc[col, "count"])
        assert float(got.loc[col, "null_percentage"]) == float(exp.loc[col, "null_percentage"])
        assert int(got.loc[col, "approx_unique"]) > 0
    assert transpile_statement(stmt).upper().startswith("SUMMARIZE")


def test_date_diff_all_units_match_duckdb(spark, con):
    """3-arg date_diff across every supported unit: DuckDB counts
    boundary crossings, and each unit's integer-arithmetic expansion
    must agree exactly (incl. the calendar units months_between would
    get WRONG: Jan-31 → Feb-01 is one month boundary)."""
    pairs = [
        ("1997-01-31 23:59:59", "1997-02-01 00:00:01"),
        ("2001-12-31 23:00:00", "2002-01-01 01:00:00"),
        ("1999-03-28 10:15:00", "1995-11-02 23:45:30"),
        ("2000-06-15 00:00:00", "2000-06-15 00:00:00"),
        # epoch-crossing spans: DuckDB's week numbering merges the
        # Mondays 1969-12-29 and 1970-01-05 into week 0 (trunc-vs-floor
        # on negative epoch seconds) — the week expansion must lose the
        # same boundary, in both directions
        ("1969-12-20 12:00:00", "1970-01-13 12:00:00"),
        ("1970-01-13 12:00:00", "1969-12-20 12:00:00"),
        ("1931-11-04 08:00:00", "2056-01-16 20:00:00"),
    ]
    units = ("day", "month", "year", "quarter", "hour", "minute",
             "second", "millisecond", "microsecond", "decade", "century",
             "millennium", "week", "weeks", "weekofyear")
    for a, b in pairs:
        for unit in units:
            q = (
                f"SELECT CAST(date_diff('{unit}', TIMESTAMP '{a}', "
                f"TIMESTAMP '{b}') AS BIGINT) AS v"
            )
            exp = con.execute(q).fetchone()[0]
            got = spark.sql(transpile_statement(q)).collect()[0][0]
            assert int(got) == int(exp), (unit, a, b, got, exp)


def test_date_diff_week_random_sweep(spark, con):
    """Round-8 week-unit model pin: DuckDB's week diff is
    trunc-toward-zero division of the week-Monday's epoch offset (the
    Mondays 1969-12-29 and 1970-01-05 share week 0). 64 seeded random
    date pairs over ±160 years, compared in ONE statement per engine so
    the sweep stays fast; offline validation of the same model covered
    2000 date pairs + 500 timestamps at round 8."""
    import datetime
    import random

    rng = random.Random(8)
    base = datetime.date(1970, 1, 1)
    pairs = [
        (
            base + datetime.timedelta(days=rng.randint(-58000, 58000)),
            base + datetime.timedelta(days=rng.randint(-58000, 58000)),
        )
        for _ in range(64)
    ]
    exprs = ", ".join(
        f"CAST(date_diff('week', DATE '{a}', DATE '{b}') AS BIGINT) AS v{i}"
        for i, (a, b) in enumerate(pairs)
    )
    q = f"SELECT {exprs}"
    exp = con.execute(q).fetchone()
    got = spark.sql(transpile_statement(q)).collect()[0]
    for i, (a, b) in enumerate(pairs):
        assert int(got[i]) == int(exp[i]), (a, b, got[i], exp[i])


def test_unnest_maps_to_explode(spark, con):
    """Single select-list unnest ≡ explode, differentially. Multiple
    whole-item unnests ZIP in DuckDB; since round 6 those map to
    explode(arrays_zip(...)) (fuzz + guards in
    test_dialect_composition.py) — multiple raw explodes would
    CARTESIAN-product in Spark 4 (verified), which is why the rewrite
    zips instead of substituting per-call."""
    sql = (
        "SELECT v FROM (SELECT unnest([10, 20, 30]) AS v) t ORDER BY v"
    )
    got = [r.v for r in spark.sql(transpile_statement(sql)).collect()]
    exp = [r[0] for r in con.execute(sql).fetchall()]
    assert got == exp == [10, 20, 30]
    multi_sql = "SELECT unnest([1,2]) AS a, unnest([3,4]) AS b"
    multi = transpile_statement(multi_sql)
    assert "arrays_zip" in multi and "unnest" not in multi.lower()
    assert sorted(tuple(r) for r in spark.sql(multi).collect()) == sorted(
        tuple(r) for r in con.execute(multi_sql).fetchall()
    )


def test_substr_zero_and_negative_left_right(spark, con):
    """Edge semantics found by the round-4 shared-name audit:
    substr(s, 0, n) counts position 0 against the length in DuckDB
    (Spark clamps to 1), and negative left/right counts drop from the
    other end (Spark returns '') — literal cases rewritten, verified
    differentially; the agreeing cases (negative substr starts) pass
    through."""
    cases = [
        "substr('abcdef', 0, 3)",
        "substr('abcdef', 0)",
        "substr('abcdef', -2, 2)",
        "substr('abcdef', 2, 3)",
        "left('abc', -1)",
        "left('abc', 2)",
        "right('abc', -1)",
        "right('abcdef', -10)",
        "left('abc', -10)",
    ]
    for expr in cases:
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
        assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"


def test_day_numbering_parity(spark, con):
    """DuckDB dayofweek/'dow' is Sunday=0..6, Spark's Sunday=1..7 — a
    weekend filter would silently shift a day without the rewrite.
    isodow (Mon=1..Sun=7), monthname/dayname and ISO week also map."""
    cases = [
        "dayofweek(DATE '2024-03-10')",   # Sunday: 0 in DuckDB
        "dayofweek(DATE '2024-03-09')",   # Saturday: 6
        "isodow(DATE '2024-03-10')",      # Sunday: 7
        "isodow(DATE '2024-03-04')",      # Monday: 1
        "date_part('dow', DATE '2024-03-10')",
        "date_part('isodow', DATE '2024-03-10')",
        "monthname(DATE '2024-03-07')",
        "dayname(DATE '2024-03-07')",
        "week(DATE '2018-12-31')",        # ISO edge: week 1 of 2019
        "date_part('doy', DATE '2024-03-07')",
    ]
    for expr in cases:
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
        assert str(got) == str(exp), f"{expr}: spark={got!r} duck={exp!r}"


def test_strlen_len_list_unique(spark, con):
    """strlen/len → length (strings; DuckDB's list-capable len stays
    loud for arrays on Spark), list_unique/array_unique → distinct
    non-null count with DuckDB's NULL-in/empty contract."""
    for expr in [
        "strlen('abcd')",
        "len('ab')",
        "CAST(list_unique([1,1,2,NULL]) AS BIGINT)",
        "CAST(list_unique([]) AS BIGINT)",
        "CAST(array_unique([5,5]) AS BIGINT)",
    ]:
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
        assert str(got) == str(exp), f"{expr}: spark={got!r} duck={exp!r}"


# ------------------------------------------------- round-5 advice fixes


def test_rewrites_skip_string_literals(spark, con):
    """Function-looking text inside string literals must pass through
    untouched — the scalar-rename and arg-transform passes are
    quote-aware (round-5 advice: 'substr(s, 0, 3)' inside a literal
    was being rewritten, silently altering output DATA)."""
    q = (
        "SELECT 'see substr(s, 0, 3) docs' AS a, "
        "'log(2) len(x) week(d) left(right)' AS b, "
        "len('substr(q, 0, 2)') AS c, "
        "substr('len(xy)', 0, 4) AS d"
    )
    t = transpile_statement(q)
    assert "see substr(s, 0, 3) docs" in t
    assert "log(2) len(x) week(d) left(right)" in t
    _duck_spark_match("quote_aware", spark, con, q, spark.sql(t).toPandas())


def test_day_numbering_extract_and_weekday(spark, con):
    """DuckDB's Sunday=0 day numbering must hold through EVERY spelling:
    the extract(field FROM x) syntax (round-5 advice — it bypassed the
    date_part rewrite), the weekday() function (DuckDB alias of
    dayofweek, Sun=0; Spark's weekday is Mon=0), and the already-mapped
    forms, all differentially."""
    q = (
        "SELECT extract(dow FROM DATE '2026-08-16') AS a, "
        "extract(isodow FROM DATE '2026-08-16') AS b, "
        "extract(weekday FROM DATE '2026-08-17') AS c, "
        "weekday(DATE '2026-08-16') AS d, "
        "dayofweek(DATE '2026-08-22') AS e, "
        "isodow(DATE '2026-08-17') AS f, "
        "extract(year FROM DATE '2026-08-16') AS g"
    )
    _duck_spark_match(
        "day_numbering", spark, con, q, spark.sql(transpile_statement(q)).toPandas()
    )


def test_copy_partition_by_refuses_existing_target(spark, con, tmp_path):
    """DuckDB's PARTITION_BY COPY errors on an existing target unless
    OVERWRITE_OR_IGNORE is given; the shim must refuse too — the old
    unconditional overwrite silently deleted pre-existing data
    (round-5 advice)."""
    _views(spark)
    out = tmp_path / "exp"
    inner = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 40"
    stmt = f"COPY ({inner}) TO '{out}' (FORMAT PARQUET, PARTITION_BY (o_orderstatus))"
    assert transpile_statement(stmt, spark) == ""  # first write: ok
    with pytest.raises(Exception):  # second write, no overwrite flag: refuse
        transpile_statement(stmt, spark)
    # explicit flag: replaces, and the data still round-trips
    stmt_ow = (
        f"COPY ({inner}) TO '{out}' "
        "(FORMAT PARQUET, PARTITION_BY (o_orderstatus), OVERWRITE_OR_IGNORE)"
    )
    assert transpile_statement(stmt_ow, spark) == ""
    back = con.execute(
        f"SELECT * FROM read_parquet('{out}/*/*.parquet', hive_partitioning=1)"
    ).fetchdf()
    expected = con.execute(inner).fetchdf()
    assert len(back) == len(expected)


def test_copy_overwrite_flag_value_parsed(spark, tmp_path):
    """`OVERWRITE_OR_IGNORE false` (and `0`) must behave like the flag
    being absent — refuse an existing target — instead of enabling
    overwrite unconditionally (round-5 advice: the value was discarded,
    so a user explicitly DISABLING overwrite still lost data)."""
    _views(spark)
    out = tmp_path / "exp"
    inner = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 40"
    stmt = f"COPY ({inner}) TO '{out}' (FORMAT PARQUET, PARTITION_BY (o_orderstatus))"
    assert transpile_statement(stmt, spark) == ""  # first write: ok
    for flag_val in ("false", "0"):
        with pytest.raises(Exception):
            transpile_statement(
                f"COPY ({inner}) TO '{out}' (FORMAT PARQUET, "
                f"PARTITION_BY (o_orderstatus), OVERWRITE_OR_IGNORE {flag_val})",
                spark,
            )
    # `true` spelled explicitly still overwrites
    assert (
        transpile_statement(
            f"COPY ({inner}) TO '{out}' (FORMAT PARQUET, "
            "PARTITION_BY (o_orderstatus), OVERWRITE_OR_IGNORE true)",
            spark,
        )
        == ""
    )


def test_copy_overwrite_or_ignore_preserves_unrelated_partitions(spark, con, tmp_path):
    """OVERWRITE_OR_IGNORE overwrites files in place (DuckDB semantics:
    partitions absent from the new write survive); OVERWRITE replaces
    the whole target. Round-5 advice: the shim mapped both to Spark's
    static full overwrite, silently deleting unrelated partitions."""
    _views(spark)
    out = tmp_path / "exp"
    full = "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey < 200"
    one_status = full + " AND o_orderstatus = 'F'"
    assert (
        transpile_statement(
            f"COPY ({full}) TO '{out}' (FORMAT PARQUET, PARTITION_BY (o_orderstatus))",
            spark,
        )
        == ""
    )
    statuses_before = {
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT o_orderstatus FROM "
            f"read_parquet('{out}/*/*.parquet', hive_partitioning=1)"
        ).fetchall()
    }
    assert len(statuses_before) > 1
    # dynamic: rewrite only the F partition, others survive
    assert (
        transpile_statement(
            f"COPY ({one_status}) TO '{out}' (FORMAT PARQUET, "
            "PARTITION_BY (o_orderstatus), OVERWRITE_OR_IGNORE)",
            spark,
        )
        == ""
    )
    after_dynamic = {
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT o_orderstatus FROM "
            f"read_parquet('{out}/*/*.parquet', hive_partitioning=1)"
        ).fetchall()
    }
    assert after_dynamic == statuses_before
    # the session default is restored after the scoped write
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )
    # full OVERWRITE: the whole target is replaced — only F remains
    assert (
        transpile_statement(
            f"COPY ({one_status}) TO '{out}' (FORMAT PARQUET, "
            "PARTITION_BY (o_orderstatus), OVERWRITE)",
            spark,
        )
        == ""
    )
    after_full = {
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT o_orderstatus FROM "
            f"read_parquet('{out}/*/*.parquet', hive_partitioning=1)"
        ).fetchall()
    }
    assert after_full == {"F"}


def test_cast_type_aliases(spark, con):
    """DuckDB-idiom type names in CAST position: VARCHAR/TEXT map to
    Spark STRING and BLOB to BINARY (value-identical), in both CAST()
    and ::type spellings; VARCHAR(n) passes through (Spark accepts
    it) and literals stay untouched (round-5 composition-fuzz fix)."""
    q = (
        "SELECT CAST(o_orderkey * 2 AS VARCHAR) AS a, "
        "try_cast(o_totalprice AS TEXT) AS b, "
        "o_orderkey::VARCHAR AS c, "
        "CAST('x AS VARCHAR' AS VARCHAR) AS d, "
        "CAST(o_orderkey AS VARCHAR(20)) AS e "
        "FROM orders WHERE o_orderkey < 30"
    )
    _views(spark)
    t = transpile_statement(q)
    assert "'x AS VARCHAR'" in t  # literal untouched
    assert "VARCHAR(20)" in t  # sized type passes through
    _duck_spark_match("cast_aliases", spark, con, q, spark.sql(t).toPandas())


def test_array_type_spellings_match_duckdb(spark, con):
    """Round-8: DuckDB's postfix array-type spelling ``T[]`` (nested,
    parameterized, and the VARCHAR element mapping) → ``ARRAY<T>``.
    Previously the subscript pass mangled it into ``element_at(T, )``
    — loud, but incomprehensible for a legitimate DuckDB idiom. The
    values differential pins the full cast semantics, not just the
    parse."""
    stmt = (
        "SELECT CAST(NULL AS INT[]) AS a, "
        "[1,2]::BIGINT[] AS b, "
        "CAST(['x','y'] AS VARCHAR[]) AS c, "
        "CAST([[1],[2,3]] AS INT[][]) AS d, "
        "CAST([1.5] AS DECIMAL(18,6)[]) AS e, "
        "'INT[]' AS quoted"
    )
    t = transpile_statement(stmt, spark)
    assert "element_at" not in t and "'INT[]'" in t, t
    got = [tuple(map(str, r)) for r in spark.sql(t).collect()]
    exp = [tuple(map(str, r)) for r in con.execute(stmt).fetchall()]
    # stringified compare: list/Decimal container types differ between
    # the two drivers but the rendered values must agree
    assert [sorted(map(str, r)) for r in got] == [
        sorted(map(str, r)) for r in exp
    ], f"{got} != {exp}"


def test_columns_expression_differential(spark, con):
    """Round-10 lift: DuckDB's COLUMNS() star expression expands one
    select item into one per matching column at bind time — mirrored
    textually against the analyzed star schema. Probed semantics
    covered: output columns keep SOURCE names through any wrapping
    expression, partial case-sensitive regex match, plain aliases
    repeat, quoted aliases fill \\N backrefs from the regex captures,
    identical multi-sites zip, * EXCLUDE subtracts, and composition
    with WHERE / GROUP BY ALL / arithmetic."""
    _views(spark)
    cases = [
        "SELECT COLUMNS('o_.*key') FROM orders WHERE o_orderkey < 50",
        "SELECT COLUMNS(*) FROM orders WHERE o_orderkey < 20",
        "SELECT min(COLUMNS(*)) FROM orders",
        "SELECT min(COLUMNS('o_.*(key|price)')) FROM orders",
        "SELECT max(COLUMNS(* EXCLUDE (o_orderdate))) FROM orders",
        "SELECT count(COLUMNS(*)) FROM orders WHERE o_orderkey < 100",
        "SELECT COLUMNS('key$') + 1 FROM orders WHERE o_orderkey < 30",
        "SELECT min(COLUMNS('o_(.*)key')) AS \"min_\\1\" FROM orders",
        "SELECT sum(COLUMNS('o_.*key')) AS s FROM orders WHERE o_orderkey < 200",
        "SELECT COLUMNS('o_.*key') = COLUMNS('o_.*key') FROM orders WHERE o_orderkey < 25",
        "SELECT o_orderstatus, min(COLUMNS('o_total.*')) FROM orders GROUP BY ALL",
        "SELECT o_orderkey, COLUMNS('o_order(status|priority)') FROM orders "
        "WHERE o_orderkey < 40",
        # round-11 lift: the lambda form — names bound as VARCHAR,
        # evaluated through DuckDB's own list_filter lowering
        "SELECT COLUMNS(c -> c LIKE 'o_%key') FROM orders WHERE o_orderkey < 50",
        "SELECT min(COLUMNS(c -> c NOT LIKE '%date' AND c NOT LIKE '%status'"
        " AND c NOT LIKE '%priority' AND c NOT LIKE '%clerk'"
        " AND c NOT LIKE '%comment')) FROM orders",
        "SELECT max(COLUMNS(col -> col SIMILAR TO 'o_.*(key|price)')) FROM orders",
        "SELECT count(COLUMNS(c -> starts_with(c, 'o_order'))) FROM orders",
        "SELECT sum(COLUMNS(c -> contains(c, 'key') OR c = 'o_totalprice'))"
        " FROM orders WHERE o_orderkey < 200",
        "SELECT min(COLUMNS(c -> regexp_matches(c, 'key$'))) AS m FROM orders",
        # \0 backref = FULL column name, lambda AND regex forms (the
        # regex case pins full-name-not-match: '(.)key' matches 'rkey'
        # of o_orderkey but the alias must read min_o_orderkey)
        'SELECT min(COLUMNS(c -> c LIKE \'o_%key\')) AS "min_\\0" FROM orders',
        'SELECT min(COLUMNS(\'(.)key\')) AS "min_\\0" FROM orders',
    ]
    for duck_sql in cases:
        exp = sorted(tuple(r) for r in con.execute(duck_sql).fetchall())
        t = transpile_statement(duck_sql, spark)
        assert "COLUMNS(" not in t, duck_sql
        got = sorted(tuple(r) for r in spark.sql(t).collect())
        assert got == exp, f"{duck_sql}\nspark={got[:3]}\nduck={exp[:3]}"
        # the expanded NAMES must match DuckDB's too (source-name rule)
        exp_names = [d[0] for d in con.execute(duck_sql).description]
        got_names = list(spark.sql(t).columns)
        assert got_names == exp_names, f"{duck_sql}: {got_names} != {exp_names}"


def test_columns_expression_loud_shapes(spark, con):
    """Shapes with no proven mapping stay WHOLE (loud on Spark), and a
    zero-match regex raises the targeted error DuckDB's binder raises
    natively."""
    import pytest as _pytest

    from arnab_spark.errors import ArnabError

    _views(spark)
    for loud_sql in [
        # differing zip arguments
        "SELECT COLUMNS('o_.*key') = COLUMNS('o_.*price') FROM orders",
        # sub-select inside the item: different FROM scope
        "SELECT (SELECT max(o_orderkey) FROM orders) + COLUMNS('o_custkey') FROM orders",
        # sessionless: no schema probe
    ]:
        assert "COLUMNS(" in transpile_statement(loud_sql, spark), loud_sql
    assert "COLUMNS(" in transpile_statement(
        "SELECT COLUMNS('o_.*') FROM orders"
    )  # sessionless transpile stays whole
    with _pytest.raises(ArnabError):
        transpile_statement("SELECT COLUMNS('zzz.*') FROM orders", spark)
    # DuckDB raises on the same statement (parity pin)
    with _pytest.raises(Exception):
        con.execute("SELECT COLUMNS('zzz.*') FROM orders")
    # lambda error parity (round 11): a zero-match lambda and a \N
    # backref alias on the lambda form both raise — on DuckDB too
    for bad in [
        "SELECT COLUMNS(c -> c LIKE 'zzz%') FROM orders",
        'SELECT min(COLUMNS(c -> c LIKE \'o_%\')) AS "m_\\1" FROM orders',
        # two lambda sites never zip: "Multiple different STAR/COLUMNS"
        # even when textually identical (lambdas never compare equal)
        "SELECT COLUMNS(c -> c LIKE 'o_%key') = COLUMNS(c -> c LIKE 'o_%key')"
        " FROM orders WHERE o_orderkey < 25",
    ]:
        with _pytest.raises(Exception):
            spark.sql(transpile_statement(bad, spark)).collect()
        with _pytest.raises(Exception):
            con.execute(bad)


def test_columns_where_orderby_differential(spark, con):
    """Round-11 lift: COLUMNS() in WHERE (each top-level AND conjunct
    holding sites is duplicated per matched column, copies ANDed —
    pinned by the NOT case, which distinguishes whole-conjunct
    duplication from site-level distribution) and in ORDER BY (each
    sort item expands to one key per matched column, carrying its
    ASC/DESC/NULLS modifiers). Rows AND order compared against DuckDB
    executing the identical text natively."""
    _views(spark)
    ordered_cases = [
        "SELECT o_orderkey FROM orders WHERE COLUMNS('o_.*key') > 0"
        " ORDER BY o_orderkey LIMIT 20",
        "SELECT o_orderkey, o_custkey FROM orders"
        " WHERE NOT (COLUMNS('o_.*key') % 7 = 0) AND o_orderkey < 300"
        " ORDER BY o_orderkey",
        "SELECT o_orderkey FROM orders"
        " WHERE COLUMNS('o_.*key') > 2 AND COLUMNS('o_total.*') < 100000"
        " ORDER BY o_orderkey LIMIT 25",
        "SELECT o_orderkey FROM orders"
        " WHERE COLUMNS(c -> c LIKE 'o_%key') % 3 = 0 OR o_orderkey < 10"
        " ORDER BY o_orderkey LIMIT 25",
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
        " ORDER BY COLUMNS('o_.*key') DESC, o_totalprice LIMIT 20",
        "SELECT o_custkey, o_totalprice FROM orders"
        " ORDER BY COLUMNS(c -> c LIKE 'o_%price') DESC NULLS LAST,"
        " o_custkey LIMIT 15",
        "SELECT o_orderkey FROM orders"
        " WHERE COLUMNS('o_.*key') = COLUMNS('o_.*key')"
        " ORDER BY COLUMNS('o_orderkey') + 1 DESC LIMIT 10",
    ]
    for duck_sql in ordered_cases:
        exp = [tuple(r) for r in con.execute(duck_sql).fetchall()]
        t = transpile_statement(duck_sql, spark)
        assert "COLUMNS(" not in t, duck_sql
        got = [tuple(r) for r in spark.sql(t).collect()]
        assert got == exp, f"{duck_sql}\nspark={got[:4]}\nduck={exp[:4]}"
    # positions that are Binder Errors in DuckDB stay loud here too
    for bad in [
        "SELECT count(*) AS n FROM orders GROUP BY COLUMNS('o_orderstatus')",
        "SELECT o_custkey FROM orders GROUP BY o_custkey"
        " HAVING min(COLUMNS('o_.*key')) > 0",
    ]:
        with __import__("pytest").raises(Exception):
            spark.sql(transpile_statement(bad, spark)).collect()
        with __import__("pytest").raises(Exception):
            con.execute(bad)


def test_range_and_generate_series_differential(spark, con):
    """Round-10 lift: DuckDB's range()/generate_series() in BOTH
    positions. Table range() emits Spark-identical values but names its
    column ``range`` (a bare SELECT * was a silent schema divergence —
    now wrap-renamed); generate_series is END-INCLUSIVE and empty when
    the direction contradicts the step (Spark's sequence auto-descends,
    so the translation guards the sign); scalar range() is
    end-EXCLUSIVE via a sign(step) bound pull-in. Column NAMES compared
    too."""
    cases = [
        "SELECT * FROM range(5)",
        "SELECT * FROM range(2, 7)",
        "SELECT * FROM range(10, 0, -3)",
        "SELECT range FROM range(5) t WHERE t.range > 2",
        "SELECT * FROM range(5) AS t(x) WHERE x % 2 = 0",
        "SELECT * FROM generate_series(3)",
        "SELECT * FROM generate_series(2, 7)",
        "SELECT * FROM generate_series(1, 10, 3)",
        "SELECT * FROM generate_series(5, 1, -2)",
        "SELECT generate_series(1, 5) AS g",
        "SELECT generate_series(5, 1) AS g",       # empty, not descending
        "SELECT generate_series(5, 1, -2) AS g",
        "SELECT generate_series(1, 5, -1) AS g",   # empty
        "SELECT range(1, 5) AS r",                 # exclusive end
        "SELECT range(5, 1, -1) AS r",
        "SELECT range(1, 10, 3) AS r",
        "SELECT range(1, 1) AS r",                 # empty
        "SELECT r.range * 2 AS d FROM range(0, 4) r",
        "SELECT o_orderkey, g FROM orders, generate_series(1, 2) t(g) "
        "WHERE o_orderkey < 4",
    ]
    _views(spark)
    for duck_sql in cases:
        exp = sorted(tuple(r) for r in con.execute(duck_sql).fetchall())
        t = transpile_statement(duck_sql, spark)
        assert "generate_series(" not in t, duck_sql
        got = sorted(tuple(r) for r in spark.sql(t).collect())
        assert got == exp, f"{duck_sql}\nspark={got[:4]}\nduck={exp[:4]}"
        exp_names = [d[0] for d in con.execute(duck_sql).description]
        assert list(spark.sql(t).columns) == exp_names, duck_sql
    # step 0: the SCALAR form is EMPTY on both engines (probed), the
    # TABLE form is a Binder Error in DuckDB and raises here too
    import pytest as _pytest

    assert con.execute("SELECT generate_series(1, 5, 0)").fetchone()[0] == []
    assert spark.sql(
        transpile_statement("SELECT generate_series(1, 5, 0) AS g", spark)
    ).collect()[0][0] == []
    with _pytest.raises(Exception):
        con.execute("SELECT * FROM generate_series(1, 5, 0)").fetchall()
    with _pytest.raises(Exception):
        spark.sql(
            transpile_statement("SELECT * FROM generate_series(1, 5, 0)", spark)
        ).collect()
    # temporal/complex args stay loud (typed divergence: DuckDB emits
    # TIMESTAMP[] for date series, Spark sequence would emit DATE[])
    loud = transpile_statement(
        "SELECT generate_series(DATE '2021-01-01', DATE '2021-02-01', "
        "INTERVAL 1 DAY) AS g",
        spark,
    )
    assert "generate_series(" in loud
    # scalar position inside a function call is NOT a table site
    t = transpile_statement("SELECT size(generate_series(1, 4)) AS n", spark)
    assert "generate_series(" not in t and "FROM range" not in t
    assert spark.sql(t).collect()[0][0] == 4


def test_describe_statement_layout(spark, con):
    """Round-10: DESCRIBE <table | (query) | SELECT …> → a literal
    VALUES table in DuckDB's exact six-column layout, types in DuckDB
    spelling, null flags from the analyzed schema. Inspection contract
    (like SUMMARIZE): both engines read the same parquet, so names,
    type spellings and row order must agree exactly."""
    _views(spark)
    for duck_sql in (
        "DESCRIBE orders",
        "DESC orders",
        "DESCRIBE (SELECT o_orderkey, o_orderstatus FROM orders)",
        "DESCRIBE SELECT o_orderkey + 1 AS k, split(o_orderpriority, '-') AS parts FROM orders",
    ):
        exp_names = [d[0] for d in con.execute(duck_sql).description]
        exp = con.execute(duck_sql).fetchall()
        t = transpile_statement(duck_sql, spark)
        assert not t.upper().startswith("DESC"), duck_sql
        got_df = spark.sql(t)
        assert list(got_df.columns) == exp_names
        got = [tuple(r) for r in got_df.collect()]
        assert got == exp, f"{duck_sql}\nspark={got}\nduck={exp}"
    # sessionless / unresolvable: stays loud
    assert transpile_statement("DESCRIBE orders").upper().startswith("DESCRIBE")
    assert transpile_statement("DESCRIBE no_such_table_xyz", spark).upper().startswith(
        "DESCRIBE"
    )


def test_show_tables_statement(spark, con):
    """Round-10: SHOW TABLES → the single-column ``name`` layout DuckDB
    emits, listing the session's tables + temp views sorted. Round 11:
    ATTACH-registered ``alias__model`` views and internal ``_arnab_*``
    helpers are EXCLUDED — probed: DuckDB's SHOW TABLES lists the
    current database + temp views only, never attached catalogs."""
    _views(spark)
    t = transpile_statement("SHOW TABLES", spark)
    assert not t.upper().startswith("SHOW")
    df = spark.sql(t)
    assert df.columns == ["name"]
    names = [r.name for r in df.collect()]
    assert "orders" in names and names == sorted(names)
    assert not any(n.startswith("_arnab_") for n in names)
    assert transpile_statement("SHOW TABLES").upper().startswith("SHOW")


def test_show_all_tables_statement(spark, con, tmp_path):
    """Round-11 lift: SHOW ALL TABLES → DuckDB's six-column catalog
    dump (database, schema, name, column_names, column_types,
    temporary), differentially compared on a catalog state built
    identically on both engines: four non-temp parquet views
    (memory/main/false), one explicit CREATE TEMP VIEW through the
    shim (temp/main/true — the DDL-time record), and a real .duckdb
    file ATTACHed on both sides (alias/main/false with the model's own
    schema). Rows, (database, name) ordering, and DuckDB type
    spellings must all match; DROP VIEW clears the temp record."""
    _views(spark)
    db = str(tmp_path / "shat.duckdb")
    filecon = duckdb.connect(db)
    filecon.execute(
        "CREATE TABLE ext_items AS SELECT * FROM (VALUES "
        "(CAST(1 AS BIGINT), 'a', CAST(1.5 AS DOUBLE))) t(id, label, score)"
    )
    filecon.close()
    ddl = (
        "CREATE OR REPLACE TEMP VIEW shat_tmp AS "
        "SELECT CAST(1 AS INTEGER) AS a, 'x' AS b"
    )
    state_for(spark).attached.clear()
    try:
        con.execute(ddl)
        con.execute(f"ATTACH '{db}' AS shatext")
        t = transpile_statement(ddl, spark)
        assert t and spark.sql(t) is not None
        assert transpile_statement(f"ATTACH '{db}' AS shatext", spark) == ""

        t = transpile_statement("SHOW ALL TABLES", spark)
        assert not t.upper().startswith("SHOW")
        got = spark.sql(t).toPandas()
        exp = con.execute("SHOW ALL TABLES").fetchdf()
        assert list(got.columns) == list(exp.columns)
        names = {"orders", "lineitem", "region", "nation", "shat_tmp", "ext_items"}
        g = got[got["name"].isin(names)].reset_index(drop=True)
        e = exp[exp["name"].isin(names)].reset_index(drop=True)
        assert len(g) == len(e) == 6
        for c in ("database", "schema", "name", "temporary"):
            assert list(g[c]) == list(e[c]), c
        assert [list(x) for x in g["column_names"]] == [
            list(x) for x in e["column_names"]
        ]
        assert [list(x) for x in g["column_types"]] == [
            list(x) for x in e["column_types"]
        ]
        # internal helper views never show
        assert not got["name"].str.startswith("_arnab_").any()
        # the attach-mangled Spark view name is rendered, not leaked
        assert "shatext__ext_items" not in set(got["name"])

        # DROP VIEW clears the explicit-temp record
        spark.sql("DROP VIEW shat_tmp")
        assert transpile_statement("DROP VIEW IF EXISTS shat_tmp", spark)
        got2 = spark.sql(
            transpile_statement("SHOW ALL TABLES", spark)
        ).toPandas()
        assert "shat_tmp" not in set(got2["name"])
        # sessionless: stays loud
        assert transpile_statement("SHOW ALL TABLES").upper().startswith("SHOW")
    finally:
        state_for(spark).attached.clear()
        try:
            spark.catalog.dropTempView("shat_tmp")
        except Exception:
            pass


def test_columns_expression_in_cte_bodies(spark, con):
    """Round-10 follow-through: COLUMNS() inside NON-RECURSIVE CTE
    bodies expands against each CTE's OWN FROM scope — a later CTE's
    probe sees its (already rewritten) predecessors. RECURSIVE
    statements stay loud."""
    _views(spark)
    cases = [
        "WITH w AS (SELECT min(COLUMNS('o_.*key')) FROM orders) SELECT * FROM w",
        "WITH a AS (SELECT COLUMNS('o_.*key') FROM orders WHERE o_orderkey < 40), "
        "b AS (SELECT max(COLUMNS(*)) FROM a) SELECT * FROM b",
        "WITH w AS (SELECT o_orderstatus, min(COLUMNS('o_total.*')) FROM orders "
        "GROUP BY ALL) SELECT COLUMNS('o_.*') FROM w",
    ]
    for duck_sql in cases:
        exp = sorted(tuple(r) for r in con.execute(duck_sql).fetchall())
        t = transpile_statement(duck_sql, spark)
        assert "COLUMNS(" not in t, duck_sql
        got = sorted(tuple(r) for r in spark.sql(t).collect())
        assert got == exp, f"{duck_sql}\nspark={got[:3]}\nduck={exp[:3]}"
        assert list(spark.sql(t).columns) == [
            d[0] for d in con.execute(duck_sql).description
        ], duck_sql
    # RECURSIVE: untouched (loud if a COLUMNS is inside)
    assert "COLUMNS(" in transpile_statement(
        "WITH RECURSIVE r AS (SELECT COLUMNS('o_.*key') FROM orders) "
        "SELECT * FROM r",
        spark,
    )


def test_positional_join_raises_targeted_error(spark):
    """Round-10: POSITIONAL JOIN pairs rows by physical order (probed:
    row-by-row with NULL padding), which a distributed DataFrame does
    not have — the shim raises a targeted error naming the construct
    and the deterministic alternatives, not a generic parse failure.
    Mentions in strings/comments must not trigger."""
    import pytest as _pytest

    from arnab_spark.errors import ArnabError

    with _pytest.raises(ArnabError) as exc:
        transpile_statement("SELECT * FROM a POSITIONAL JOIN b")
    assert "row_number" in str(exc.value)
    assert "POSITIONAL JOIN" in str(exc.value)
    assert " AS v" in transpile_statement(
        "SELECT 'use POSITIONAL JOIN later' AS v -- positional join note"
    )


def test_const_format_fold_matches_duckdb(spark, con):
    """Round-11 lift (r10 verdict ask #5): a CASE-built / boolean-
    guarded ALL-LITERAL format expression folds at rewrite time exactly
    as DuckDB's binder constant-folds it — searched and operand CASE,
    three-valued logic, || chains inside branches, and the NULL-folding
    format (DuckDB: strftime→NULL VARCHAR, strptime→NULL TIMESTAMP,
    probed)."""
    cases = [
        "strftime(TIMESTAMP '2024-03-07 14:05:09', CASE WHEN 'daily' = 'daily' THEN '%Y-%m-%d' ELSE '%Y-%m' END)",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', CASE 2 WHEN 1 THEN '%Y' WHEN 2 THEN '%m' END)",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', CASE WHEN 3 <> 2 AND NOT (1 >= 2) THEN 'wk %W' ELSE '%j' END)",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', '%Y' || CASE WHEN 1 = 1 THEN '-%m' ELSE '' END)",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', CASE WHEN NULL THEN '%Y' ELSE '%H:%M' END)",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', CASE 'w' WHEN 'd' THEN '%d' WHEN 'w' THEN '%W' ELSE '%m' END)",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', CASE WHEN 1.5 < 2 OR false THEN '%A' ELSE '%a' END)",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', CASE WHEN NULL IS NULL THEN '%p' ELSE '%a' END)",
        # NULL-folded formats (constant NULL, not 'unfoldable')
        "strftime(TIMESTAMP '2024-03-07 14:05:09', CASE WHEN 1 > 2 THEN '%Y' END)",
        "strftime(TIMESTAMP '2024-03-07 14:05:09', NULL)",
        "CAST(strptime('2024-03-07', CASE WHEN true THEN '%Y-%m-%d' ELSE '%d' END) AS TIMESTAMP)",
        "try_strptime('x', CASE WHEN 1 = 2 THEN '%Y' END)",
        "strptime('2024-03-07', '%Y' || NULL)",
    ]
    for expr in cases:
        duck_sql = f"SELECT {expr} AS v"
        exp = con.execute(duck_sql).fetchone()[0]
        got = spark.sql(transpile_statement(duck_sql)).collect()[0][0]
        assert got == exp, f"{expr}: spark={got!r} duck={exp!r}"


def test_const_format_fold_residue_stays_loud():
    """Function calls inside an otherwise-constant format (DuckDB's
    binder folds those too; the shim deliberately does not replicate
    engine function semantics blind), identifiers, and mixed-type
    literal comparisons (DuckDB casts) all stay loud — the documented
    residue of the round-11 fold."""
    loud = [
        "SELECT strftime(ts, upper('%y')) FROM t",
        "SELECT strftime(ts, CASE WHEN length('ab') = 2 THEN '%Y' ELSE '%m' END) FROM t",
        "SELECT strftime(ts, CASE WHEN flag THEN '%Y' ELSE '%m' END) FROM t",
        "SELECT strftime(ts, CASE WHEN 1 = 'a' THEN '%Y' ELSE '%m' END) FROM t",
        "SELECT strptime(s, CASE WHEN col = 1 THEN '%Y' ELSE '%m' END) FROM t",
    ]
    for stmt in loud:
        out = transpile_statement(stmt)
        assert "strftime" in out or "strptime" in out, stmt


def test_series_emit_bigint_type_contract(spark, con):
    """Round-10 advice (medium): DuckDB's integer series contract is
    BIGINT[] (scalar) / a BIGINT column (table form) regardless of
    argument widths; the emitted sequence() must pin BIGINT, not
    inherit array<int> from integer literals."""
    checks = [
        ("SELECT generate_series(1, 5) AS g", "array<bigint>"),
        ("SELECT range(4) AS g", "array<bigint>"),
        ("SELECT generate_series(1, 10, 3) AS g", "array<bigint>"),
        ("SELECT * FROM generate_series(3)", "bigint"),
        ("SELECT * FROM range(1, 10, 2)", "bigint"),
    ]
    for duck_sql, want in checks:
        df = spark.sql(transpile_statement(duck_sql, spark))
        got = df.schema.fields[0].dataType.simpleString()
        assert got == want, f"{duck_sql}: {got} != {want}"
        # values still match DuckDB exactly
        exp = [tuple(r) for r in con.execute(duck_sql).fetchall()]
        assert [tuple(r) for r in df.collect()] == exp, duck_sql


def test_columns_exclude_missing_column_raises(spark):
    """Probed: DuckDB raises 'Binder Error: Column "x" in EXCLUDE list
    not found in FROM clause' — silently ignoring the name (the
    round-10 behavior) would diverge. Found by the round-11 fixture
    probe: region has no r_comment column."""
    from arnab_spark.errors import ArnabError

    _views(spark)
    with pytest.raises(ArnabError, match="EXCLUDE"):
        transpile_statement(
            "SELECT max(COLUMNS(* EXCLUDE (no_such_col))) FROM region", spark
        )


def test_describe_as_table_expression_matches_duckdb(spark, con):
    """Round-11: DuckDB accepts DESCRIBE as a table expression —
    ``SELECT … FROM (DESCRIBE t)`` (probed) — the only record-
    classifier-compatible way a reference model can query a schema.
    Both the bare-table and inline-SELECT relation forms must match
    DuckDB's six-column output exactly."""
    _views(spark)
    for duck_sql in (
        "SELECT column_name, column_type FROM (DESCRIBE region) ORDER BY column_name",
        "SELECT count(*) AS n FROM (DESCRIBE SELECT o_orderkey, "
        "CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders)",
        "SELECT column_name FROM (DESC orders) WHERE column_type = 'DATE'",
    ):
        got = [tuple(r) for r in spark.sql(transpile_statement(duck_sql, spark)).collect()]
        exp = [tuple(r) for r in con.execute(duck_sql).fetchall()]
        assert got == exp, f"{duck_sql}: {got} != {exp}"


def test_pragma_table_info_matches_duckdb(spark, con):
    """PRAGMA table_info / CALL pragma_table_info emit DuckDB's probed
    six-column layout from the analyzed schema."""
    con.execute("CREATE TABLE prag_t (a INTEGER, b VARCHAR, c DOUBLE)")
    transpile_statement("CREATE TEMP TABLE prag_t (a INTEGER, b VARCHAR, c DOUBLE)", spark)
    try:
        exp = con.execute("PRAGMA table_info('prag_t')").fetchall()
        for stmt in ("PRAGMA table_info('prag_t')", "CALL pragma_table_info('prag_t')"):
            got = [tuple(r) for r in spark.sql(transpile_statement(stmt, spark)).collect()]
            assert got == exp, (stmt, got, exp)
    finally:
        transpile_statement("DROP TABLE prag_t", spark)
        con.execute("DROP TABLE prag_t")


def test_checkpoint_consumed_and_pragma_show_tables(spark):
    assert transpile_statement("CHECKPOINT", spark) == ""
    assert transpile_statement("FORCE CHECKPOINT;", spark) == ""
    out = transpile_statement("PRAGMA show_tables", spark)
    assert "name" in out.lower()  # routed through the SHOW TABLES pass
    # unknown pragmas stay loud (left for Spark to reject)
    assert transpile_statement("PRAGMA memory_limit='1GB'", spark).strip().upper().startswith("PRAGMA")


def test_set_statements_duckdb_semantics(spark):
    """timezone maps to Spark's session timezone; perf hints consume;
    result-affecting DuckDB settings raise targeted."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        out = transpile_statement("SET timezone='America/New_York'", spark)
        spark.sql(out)
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        assert transpile_statement("SET threads=4", spark) == ""
        assert transpile_statement("SET memory_limit='1GB'", spark) == ""
        import pytest as _pytest

        from arnab_spark.errors import ArnabError

        with _pytest.raises(ArnabError, match="changes query RESULTS"):
            transpile_statement("SET default_null_order='nulls_last'", spark)
        # spark confs pass through untouched
        out = transpile_statement("SET spark.sql.shuffle.partitions=8", spark)
        assert out.strip().startswith("SET spark.sql")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_transaction_statements(spark):
    """BEGIN/COMMIT/END consume (per-statement durability makes a
    clean-run script identical); ROLLBACK raises targeted (persisted
    statements have no undo log — silently keeping discarded changes
    would be worse than loud)."""
    for stmt in ("BEGIN", "BEGIN TRANSACTION", "COMMIT", "END WORK"):
        assert transpile_statement(stmt, spark) == "", stmt
    from arnab_spark.errors import ArnabError

    import pytest as _pytest

    with _pytest.raises(ArnabError, match="cannot be undone"):
        transpile_statement("ROLLBACK", spark)
    with _pytest.raises(ArnabError, match="cannot be undone"):
        transpile_statement("ABORT;", spark)


def test_install_load_and_maintenance_statements(spark):
    for stmt in (
        "INSTALL httpfs",
        "LOAD httpfs;",
        "LOAD 'parquet'",
        "INSTALL json",
        "VACUUM",
        "VACUUM ANALYZE",
        "ANALYZE",
        "ANALYZE my_table",
    ):
        assert transpile_statement(stmt, spark) == "", stmt
    import pytest as _pytest

    from arnab_spark.errors import ArnabError

    with _pytest.raises(ArnabError, match="no engine equivalent"):
        transpile_statement("LOAD spatial", spark)
