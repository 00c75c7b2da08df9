"""Unit tests for the orchestrator core, mirroring and extending the
reference's own tests (reference: src/node.rs:274-295) per SURVEY.md §5.
"""

import pytest

from arnab_spark.depparse import get_sql_references
from arnab_spark.dialect import transpile_statement
from arnab_spark.errors import ArnabError
from arnab_spark.node import Node, format_elapsed


# --- dependency extraction (reference tests node.rs:280-294) ---------

def test_get_ref():
    # reference: node.rs:280-284 `get_ref`
    assert get_sql_references("SELECT * FROM abc") == {"abc"}


def test_get_ref_subtable():
    # reference: node.rs:286-294 `get_ref_subtable` — derived subquery +
    # comma join
    sql = "SELECT * FROM (SELECT a, b FROM my_sub_table), my_table"
    assert get_sql_references(sql) == {"my_sub_table", "my_table"}


def test_get_ref_joins_and_ctes():
    sql = """
    WITH cte1 AS (SELECT * FROM base_model)
    SELECT * FROM cte1
    JOIN other_model ON cte1.id = other_model.id
    LEFT JOIN third ON third.id = cte1.id
    """
    refs = get_sql_references(sql)
    assert {"base_model", "other_model", "third", "cte1"} <= refs
    # intersect-with-known-models is what filters out the CTE name
    assert refs & {"base_model", "other_model"} == {"base_model", "other_model"}


def test_get_ref_ignores_strings():
    assert get_sql_references("SELECT * FROM t WHERE x = 'FROM fake'") == {"t"}


def test_get_ref_alias_not_collected():
    refs = get_sql_references("SELECT * FROM real_table rt, second s")
    assert refs == {"real_table", "second"}


def test_get_ref_describe_and_summarize():
    # DuckDB's inspection statements name the relation they inspect
    assert get_sql_references("SELECT column_name FROM (DESCRIBE series_stats)") == {
        "series_stats"
    }
    assert get_sql_references("SUMMARIZE series_stats") == {"series_stats"}
    assert get_sql_references("SELECT 1;\nDESC t1") == {"t1"}
    assert get_sql_references("SUMMARIZE (SELECT * FROM t2)") == {"t2"}
    # elsewhere DESC is a sort direction, not a relation head
    assert get_sql_references("SELECT * FROM t ORDER BY x DESC limit_model") == {"t"}


def test_get_ref_quoted_identifiers():
    # an apostrophe inside a quoted identifier opens no literal, so the
    # relation after it is still found
    assert get_sql_references('SELECT x AS "it\'s" FROM up') == {"up"}
    # FROM inside a quoted identifier or a comment names no relation
    assert get_sql_references('SELECT 1 AS "from b"') == set()
    assert get_sql_references("SELECT 1 AS x /* from b */ -- join c") == set()
    # a quoted identifier in relation position is still collected
    assert get_sql_references('SELECT * FROM "my tbl"') == {"my tbl"}
    assert get_sql_references("SELECT * FROM `up`") == {"up"}
    # each part of a qualifier chain is read back unquoted
    assert get_sql_references('SELECT * FROM main."up"') == {"main.up"}
    assert get_sql_references('SELECT * FROM main.up') == {"main.up"}


def test_lexer_brackets_skip_quoted_and_commented_brackets():
    from arnab_spark import lexer

    sql = "f(a, ')', \"b(\", g(c)) /* ( */ [1]"
    close = sql.index(") /*")
    assert lexer.group_end(sql, 1) == close + 1
    assert lexer.paren_groups(sql) == [(sql.index("g(") + 1, close - 1), (1, close)]
    assert lexer.split_top_level(sql[2:close]) == ["a", " ')'", ' "b("', " g(c)"]
    assert lexer.find_top_level(sql, ("c",)) == (-1, None)
    assert lexer.find_top_level("(a) ')' AS b", ("as",)) == (8, "as")
    assert lexer.balanced(sql) and not lexer.balanced(sql + ")")


def test_quoted_identifiers_keep_dag_edges(tmp_path):
    """No Spark needed: an apostrophe inside a quoted identifier hides
    no edge, and FROM inside one invents none."""
    from arnab_spark.config import load_config
    from arnab_spark.session import Session

    models = tmp_path / "models"
    models.mkdir()
    (models / "up.sql").write_text("SELECT 1 AS x")
    (models / "down.sql").write_text('SELECT x AS "it\'s" FROM up')
    (models / "a.sql").write_text('SELECT 1 AS "from b"')
    (models / "b.sql").write_text("SELECT * FROM a")
    session = Session(load_config(str(tmp_path)), None)
    order = session.build_graph()  # no CyclicDependencyError a -> b -> a
    assert session.nodes["down"].prevs == {"up"}
    assert session.nodes["a"].prevs == set() and session.nodes["b"].prevs == {"a"}
    assert order.index("up") < order.index("down")
    assert order.index("a") < order.index("b")
    waits = session._waits(order)
    assert "up" in waits["down"] and "a" in waits["b"]


# --- comment stripping (reference: node.rs:68-77) --------------------

def test_strip_comments():
    src = "-- line comment\nSELECT 1 /* block\ncomment */ AS x\n  -- another"
    out = Node.strip_comments(src)
    assert "line comment" not in out and "block" not in out
    assert "SELECT 1" in out and "AS x" in out


# --- statement splitting (reference: node.rs:127-131, improved) ------

def test_split_statements_quote_aware():
    stmts = Node.split_statements("SELECT 'a;b' AS x; SELECT 2;")
    assert stmts == ["SELECT 'a;b' AS x", "SELECT 2"]


def test_split_statements_drops_empty():
    assert Node.split_statements(";;SELECT 1;;") == ["SELECT 1"]


def test_split_statements_skips_quoted_identifiers():
    assert Node.split_statements('SELECT "a;b" AS x FROM t') == ['SELECT "a;b" AS x FROM t']
    assert Node.split_statements("SELECT `a;b` FROM t; SELECT 2") == [
        "SELECT `a;b` FROM t",
        "SELECT 2",
    ]


# --- record classifier (reference: node.rs:112-123) ------------------

def test_will_produce_records():
    assert Node.will_produce_records("  select 1")
    assert Node.will_produce_records("WITH t AS (SELECT 1) SELECT * FROM t")
    assert not Node.will_produce_records("SET x = 1")


# --- materialization rewrite (reference: node.rs:156-174) ------------

def test_materialization_view():
    n = Node(path="m.sql", id="m", raw_src="", materialize="view")
    ddl, pq = n.materialization_sql("SELECT 1", None)
    assert ddl == "CREATE OR REPLACE TEMPORARY VIEW m AS (SELECT 1)" and pq is None


def test_materialization_table_requires_db_path():
    n = Node(path="m.sql", id="m", raw_src="", materialize="table")
    with pytest.raises(ArnabError):
        n.materialization_sql("SELECT 1", None)
    sql, pq = n.materialization_sql("SELECT 1", "/tmp/wh")
    assert sql == "SELECT 1" and pq == "/tmp/wh/m"


def test_materialization_unknown_kind():
    # (incremental, rejected by the reference, IS supported here —
    # tests/test_incremental.py)
    n = Node(path="m.sql", id="m", raw_src="", materialize="ephemeral")
    with pytest.raises(ArnabError):  # reference: node.rs:170-173
        n.materialization_sql("SELECT 1", "/tmp/wh")


# --- dialect shim ----------------------------------------------------

def test_transpile_count_zero_arg():
    # reference example model uses count() (examples/basic/orders_per_product.sql:2)
    assert (
        transpile_statement("SELECT product_name, count() AS c FROM t GROUP BY 1")
        == "SELECT product_name, count(*) AS c FROM t GROUP BY 1"
    )


def test_transpile_count_zero_arg_skips_quotes(spark):
    # a literal is a value and a quoted alias a name: neither is a call
    assert transpile_statement("SELECT 'count()' AS s") == "SELECT 'count()' AS s"
    assert (
        transpile_statement('SELECT x AS "count()" FROM t')
        == 'SELECT x AS "count()" FROM t'
    )
    # a bare call beside them is still rewritten
    assert (
        transpile_statement("SELECT count() AS n, 'count()' AS s FROM t")
        == "SELECT count(*) AS n, 'count()' AS s FROM t"
    )
    row = spark.sql(transpile_statement("SELECT 'count()' AS s, count() AS n")).collect()
    assert [tuple(r) for r in row] == [("count()", 1)]


def test_transpile_read_parquet():
    assert (
        transpile_statement("SELECT * FROM read_parquet('/data/cart.parquet')")
        == "SELECT * FROM parquet.`/data/cart.parquet`"
    )
    # plain read_csv (no sniffing promise) still maps without a session
    assert (
        transpile_statement("SELECT * FROM read_csv('/d/x.csv')")
        == "SELECT * FROM csv.`/d/x.csv`"
    )


def test_transpile_csv_auto_requires_session():
    """*_auto promises DuckDB sniffing; without a session that cannot be
    honored — must raise, not silently degrade to headerless strings."""
    from arnab_spark.errors import ArnabError

    with pytest.raises(ArnabError, match="read_csv_auto"):
        transpile_statement("SELECT * FROM read_csv_auto('/d/x.csv')")


def test_transpile_star_exclude():
    assert (
        transpile_statement("SELECT * EXCLUDE (o_comment) FROM orders")
        == "SELECT * EXCEPT (o_comment) FROM orders"
    )
    assert (
        transpile_statement("SELECT t.* exclude(a, b) FROM t")
        == "SELECT t.* EXCEPT(a, b) FROM t"
    )
    # the word elsewhere is untouched
    sql = "SELECT 'EXCLUDE (x)' AS s FROM t"
    assert transpile_statement(sql) == sql


def test_transpile_qualify_alias_predicate():
    out = transpile_statement(
        "SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn "
        "FROM events QUALIFY rn <= 3 ORDER BY user_id LIMIT 10"
    )
    assert out.startswith("SELECT * EXCEPT (__arnab_qualify) FROM (")
    assert "(rn <= 3) AS __arnab_qualify" in out
    assert out.rstrip().endswith("WHERE __arnab_qualify ORDER BY user_id LIMIT 10")


def test_transpile_qualify_ignores_nested_and_strings():
    # QUALIFY inside a subquery or a string literal is not top-level
    sql = "SELECT * FROM (SELECT 'QUALIFY x' AS s FROM t) u"
    assert transpile_statement(sql) == sql


# --- misc ------------------------------------------------------------

def test_format_elapsed():
    assert format_elapsed(0.05).endswith("ms")
    assert format_elapsed(5.2) == "5.20s"
    assert format_elapsed(75) == "1m15s"


def test_strip_comments_trailing_inline():
    out = Node.strip_comments("SELECT * FROM b -- fallback join a\nWHERE x = 1")
    assert "join a" not in out and "WHERE x = 1" in out


def test_strip_comments_preserves_strings():
    src = "SELECT '--not a comment' AS a, '/*still*/' AS b FROM t"
    assert Node.strip_comments(src) == src


def test_strip_comments_skips_quoted_identifiers():
    assert Node.strip_comments('SELECT "x--y" FROM t') == 'SELECT "x--y" FROM t'
    assert Node.strip_comments("SELECT `a/*b` FROM t") == "SELECT `a/*b` FROM t"
    # doubled delimiters stay inside the identifier
    src = 'SELECT "a""--b" AS c -- gone'
    assert Node.strip_comments(src) == 'SELECT "a""--b" AS c '


def test_load_config_rejects_uri_db_path(tmp_path):
    from arnab_spark.config import load_config

    for uri in ("s3a://bucket/wh", "file:///tmp/wh", "hdfs://nn:8020/wh"):
        with pytest.raises(ArnabError, match="URI"):
            load_config(str(tmp_path), None, uri)
    (tmp_path / "config.yaml").write_text("db_path: s3a://bucket/wh\n")
    with pytest.raises(ArnabError, match="s3a://bucket/wh"):
        load_config(str(tmp_path))
    assert load_config(str(tmp_path), None, "wh").db_path == str(tmp_path / "wh")


def test_strip_comments_semicolon_in_comment():
    out = Node.strip_comments("SELECT 1 AS x -- done; see note")
    assert Node.split_statements(out) == ["SELECT 1 AS x"]


def test_transpile_distinct_on_with_order():
    from arnab_spark.dialect import transpile_statement

    out = transpile_statement(
        "SELECT DISTINCT ON (user_id) user_id, ts, value "
        "FROM events ORDER BY user_id, ts DESC LIMIT 7"
    )
    assert out.startswith("SELECT * EXCEPT (__arnab_rn, __arnab_ob0, __arnab_ob1)")
    assert "PARTITION BY user_id ORDER BY user_id, ts DESC" in out
    # output order rides on hidden materialized sort columns (the sort
    # exprs may not survive the user's projection)
    assert out.rstrip().endswith(
        "WHERE __arnab_rn = 1 ORDER BY __arnab_ob0, __arnab_ob1 DESC LIMIT 7"
    )


def test_transpile_distinct_on_no_order_uses_keys():
    from arnab_spark.dialect import transpile_statement

    out = transpile_statement("SELECT DISTINCT ON (a, b) a, b, c FROM t")
    assert "PARTITION BY a, b ORDER BY a, b" in out
    assert out.rstrip().endswith("WHERE __arnab_rn = 1")
    assert "__arnab_ob" not in out  # no ORDER BY → no hidden sort cols


def test_transpile_distinct_on_ignores_nested_and_plain_distinct():
    from arnab_spark.dialect import transpile_statement

    nested = "SELECT * FROM (SELECT DISTINCT ON (a) a FROM t) u"
    assert transpile_statement(nested) == nested
    plain = "SELECT DISTINCT a, b FROM t"
    assert transpile_statement(plain) == plain


def test_transpile_asof_join_backward():
    from arnab_spark.dialect import transpile_statement

    out = transpile_statement(
        "SELECT p.id, s.ts FROM purchases p "
        "ASOF LEFT JOIN signups s ON p.user_id = s.user_id AND p.ts >= s.ts "
        "WHERE p.id > 0"
    )
    assert "LEFT JOIN LATERAL (SELECT * FROM signups s WHERE" in out
    assert "ORDER BY s.ts DESC LIMIT 1) s ON true" in out
    assert out.rstrip().endswith("WHERE p.id > 0")


def test_transpile_asof_join_forward_and_flipped_operands():
    from arnab_spark.dialect import transpile_statement

    # right operand on the LEFT of the operator: s.ts <= p.ts ≡ p.ts >= s.ts
    out = transpile_statement(
        "SELECT * FROM p ASOF JOIN signups s ON s.user_id = p.user_id AND s.ts <= p.ts"
    )
    assert "JOIN LATERAL" in out and "LEFT JOIN LATERAL" not in out
    assert "ORDER BY s.ts DESC LIMIT 1" in out
    # forward join: left.ts <= right.ts wants the EARLIEST right row
    out2 = transpile_statement(
        "SELECT * FROM p ASOF JOIN signups s ON p.user_id = s.user_id AND p.ts <= s.ts"
    )
    assert "ORDER BY s.ts ASC LIMIT 1" in out2


def test_transpile_asof_join_bails_on_hard_shapes():
    from arnab_spark.dialect import transpile_statement

    # two inequalities — ambiguous time axis
    two = "SELECT * FROM p ASOF JOIN s ON p.u = s.u AND p.a >= s.a AND p.b >= s.b"
    assert transpile_statement(two) == two
    # a second join follows
    chain = ("SELECT * FROM p ASOF JOIN s ON p.u = s.u AND p.t >= s.t "
             "JOIN q ON q.u = p.u")
    assert transpile_statement(chain) == chain


def test_transpile_star_replace_needs_session_and_bails_on_joins():
    from arnab_spark.dialect import transpile_statement

    # without a session the text passes through (Spark rejects * REPLACE)
    sql = "SELECT * REPLACE (a * 2 AS a) FROM t"
    assert transpile_statement(sql) == sql
    # joins are ambiguous → untouched even with a session-like object
    join_sql = "SELECT * REPLACE (a AS a) FROM t JOIN u ON t.id = u.id"
    assert transpile_statement(join_sql) == join_sql
    comma_sql = "SELECT * REPLACE (a AS a) FROM t, u"
    assert transpile_statement(comma_sql) == comma_sql


def test_run_file_applies_engine_settings(tmp_path, monkeypatch, spark):
    """run-file must apply config spark_settings before executing
    scripts — the reference's SET loop runs at connection open for
    every subcommand (main.rs:135-155)."""
    import arnab_spark.cli as cli

    (tmp_path / "config.yaml").write_text(
        "models_dir: models\nspark_settings:\n  spark.sql.shuffle.partitions: '7'\n"
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "script.sql").write_text("SELECT 1 AS one")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(cli, "_get_spark", lambda master: spark)
    args = cli._build_parser().parse_args(
        ["run-file", str(tmp_path / "script.sql")]
    )
    assert cli.cmd_run_file(args) == 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    spark.conf.set("spark.sql.shuffle.partitions", "32")  # restore


@pytest.mark.parametrize("command", [["run"], ["run-file", "script.sql"]])
def test_unsettable_spark_setting_fails_cli(tmp_path, monkeypatch, capsys, spark, command):
    """A static conf in spark_settings cannot be set on a live session;
    both subcommands that open a connection must exit 1 with the
    setting named, before running anything (main.rs:135-155 is fatal)."""
    import arnab_spark.cli as cli

    (tmp_path / "config.yaml").write_text(
        "models_dir: models\nspark_settings:\n"
        f"  spark.sql.warehouse.dir: '{tmp_path / 'elsewhere'}'\n"
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "one.sql").write_text("SELECT 1 AS x")
    (tmp_path / "script.sql").write_text("SELECT 1 AS one")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(cli, "_get_spark", lambda master: spark)
    assert cli.main(command) == 1
    captured = capsys.readouterr()
    assert "error: failed to apply spark_settings spark.sql.warehouse.dir=" in captured.err
    assert "OK" not in captured.out


def test_run_file_strips_comments(tmp_path, monkeypatch, capsys, spark):
    """run-file strips comments before splitting, as the model path
    does: an apostrophe or a ``;`` inside a comment neither merges nor
    splits statements (DuckDB's execute_batch runs both scripts,
    main.rs:165)."""
    import arnab_spark.cli as cli

    (tmp_path / "config.yaml").write_text("models_dir: models\n")
    (tmp_path / "models").mkdir()
    (tmp_path / "apostrophe.sql").write_text(
        "SELECT 1 AS x;\n-- don't stop here\nSELECT 2 AS y;\nSELECT 3 AS z;\n"
    )
    (tmp_path / "block.sql").write_text("SELECT 1 AS x; /* note; see */ SELECT 2 AS y;")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(cli, "_get_spark", lambda master: spark)
    assert cli.main(["--strict", "run-file", "apostrophe.sql", "block.sql"]) == 0
    out = capsys.readouterr().out
    assert "apostrophe.sql: OK" in out and "block.sql: OK" in out


def test_transpile_bare_path_table(spark, tmp_path):
    """DuckDB's bare-string table shorthand — FROM 'x.parquet' — must
    rewrite to Spark's file-query syntax and actually scan."""
    from arnab_spark.dialect import transpile_statement

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,), (2,)], "x bigint").write.parquet(p)
    sql = transpile_statement(f"SELECT count(*) AS n FROM '{p}'")
    assert f"parquet.`{p}`" in sql
    assert spark.sql(sql).collect()[0].n == 2
    # non-data extensions are left alone for Spark to reject clearly
    assert transpile_statement("SELECT * FROM 'x.txt'") == "SELECT * FROM 'x.txt'"
    # csv shorthand maps to the csv reader
    assert "csv.`data.csv`" in transpile_statement("SELECT * FROM 'data.csv'")


def test_union_by_name_untouched_without_session():
    sql = "SELECT a FROM t UNION BY NAME SELECT b FROM u"
    assert transpile_statement(sql) == sql  # no session → loud Spark error later


def test_union_by_name_leaves_order_by_name_alone():
    # a column literally named "name" after ORDER BY must not trigger it
    sql = "SELECT name FROM t ORDER BY name"
    assert transpile_statement(sql) == sql
