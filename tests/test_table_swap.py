"""Table-dir replacement (``catalog.replace_dir``): every writer of a
table dir swaps a staged copy in, so a rebuild that fails, or a process
that dies between the swap's two renames, leaves the old table or the
new one, never neither. A fresh session is ``spark.newSession()`` (its
own temp-view namespace) through ``Session``, which attaches the
warehouse as a new process would."""

import os
from contextlib import contextmanager

import duckdb
import pytest

from arnab_spark.config import load_config
from arnab_spark.dialect import transpile_statement
from arnab_spark.session import Session
from tests.test_incremental import _write

OLD = [(1, "a"), (2, "b")]
NEW = [(2, "B2"), (3, "c")]


def _project(tmp_path, materialize, extra=""):
    root = str(tmp_path)
    src = os.path.join(root, "src.parquet")
    _write(root, "models/t.sql", f"SELECT * FROM read_parquet('{src}')")
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: warehouse\nmodels:\n  t:\n"
        f"    materialize: {materialize}\n{extra}",
    )
    return root, src


def _put(src, rows):
    values = ", ".join(f"({i}, '{tag}')" for i, tag in rows)
    duckdb.sql(f"COPY (SELECT * FROM (VALUES {values}) v(id, tag)) TO '{src}'")


def _rows(spark, name="t"):
    return sorted(tuple(r) for r in spark.table(name).collect())


def _fresh(spark, root):
    return Session(load_config(root), spark.newSession()).spark


def _siblings(root, name="t"):
    return sorted(
        d for d in os.listdir(os.path.join(root, "warehouse")) if d.startswith(name + "__")
    )


@contextmanager
def _crash_at_rename(monkeypatch, n):
    """Make the ``n``-th ``os.rename`` and every later one raise, as if
    the process died there; yield the list of calls made."""
    calls = []
    real = os.rename

    def rename(a, b):
        calls.append((a, b))
        if len(calls) >= n:
            raise OSError(f"injected crash at rename {len(calls)}")
        return real(a, b)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", rename)
        yield calls


def test_failed_rebuild_keeps_old_table(spark, tmp_path):
    """A table model whose rebuild fails while it executes keeps its
    rows and schema, in the session that ran it and in a fresh one."""
    root = str(tmp_path)
    src = os.path.join(root, "src.parquet")
    _write(
        root,
        "models/t.sql",
        f"SELECT id, tag FROM read_parquet('{src}') WHERE assert_true(id > 0) IS NULL",
    )
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: warehouse\nmodels:\n  t:\n    materialize: table\n",
    )
    _put(src, OLD)
    session = Session(load_config(root), spark)
    assert session.run(quiet=True).ok
    schema = spark.table("t").schema
    _put(src, [(0, "boom")])
    report = Session(load_config(root), spark).run(quiet=True)
    assert "t" in report.errors
    assert _rows(spark) == OLD and spark.table("t").schema == schema
    fresh = _fresh(spark, root)
    assert _rows(fresh) == OLD and fresh.table("t").schema == schema
    assert _siblings(root) == []


@pytest.mark.parametrize("materialize", ["table", "incremental"])
@pytest.mark.parametrize("n", [1, 2])
def test_model_swap_crash_keeps_old_or_new(spark, tmp_path, monkeypatch, materialize, n):
    """A rebuild cut at the swap's first or second rename leaves a table
    a fresh session reads whole: the old rows or the new ones."""
    root, src = _project(tmp_path, materialize, "    unique_key: id\n")
    _put(src, OLD)
    assert Session(load_config(root), spark).run(quiet=True).ok
    _put(src, NEW)
    with _crash_at_rename(monkeypatch, n) as calls:
        report = Session(load_config(root), spark).run(quiet=True)
    assert len(calls) >= n and "t" in report.errors
    merged = [(1, "a"), (2, "B2"), (3, "c")] if materialize == "incremental" else NEW
    assert _rows(_fresh(spark, root)) in (OLD, merged)
    # the next run completes the rebuild and leaves no swap sibling
    assert Session(load_config(root), spark).run(quiet=True).ok
    assert _rows(spark) == merged and _siblings(root) == []


@pytest.mark.parametrize("n", [1, 2])
def test_dml_swap_crash_keeps_old_or_new(spark, tmp_path, monkeypatch, n):
    """A DELETE cut at its swap's first or second rename leaves a table
    a fresh session reads whole."""
    root, src = _project(tmp_path, "table")
    _put(src, OLD)
    session = Session(load_config(root), spark.newSession())
    assert session.run(quiet=True).ok
    with _crash_at_rename(monkeypatch, n) as calls:
        with pytest.raises(OSError, match="injected crash"):
            transpile_statement("DELETE FROM t WHERE id = 1", session.spark)
    assert len(calls) == n
    assert _rows(_fresh(spark, root)) in (OLD, [(2, "b")])
    assert _siblings(root) == []


def test_empty_partitioned_result_keeps_partition_column(spark, tmp_path):
    """An empty ``partition_by`` result still has its partition column:
    a dependent model resolves it, and an incremental successor whose
    first run was empty merges on its second."""
    root = str(tmp_path)
    src = os.path.join(root, "src.parquet")
    _write(root, "models/e.sql", "SELECT * FROM VALUES (1, 'x') AS v(id, p) WHERE false")
    _write(root, "models/dep.sql", "SELECT p FROM e")
    _write(root, "models/inc.sql", f"SELECT id, tag AS p FROM read_parquet('{src}')")
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: warehouse\nmodels:\n"
        "  e:\n    materialize: table\n    partition_by: p\n"
        "  inc:\n    materialize: incremental\n    unique_key: id\n    partition_by: p\n",
    )
    duckdb.sql(f"COPY (SELECT 1 AS id, 'a' AS tag WHERE false) TO '{src}'")
    report = Session(load_config(root), spark).run(quiet=True)
    assert report.ok, report.errors
    assert spark.table("dep").columns == ["p"] and spark.table("dep").count() == 0
    assert report.results["inc"].n_rows == 0
    _put(src, OLD)
    report = Session(load_config(root), spark).run(quiet=True)
    assert report.ok, report.errors
    assert report.results["inc"].n_rows == 2
    assert sorted((r.id, r.p) for r in spark.table("inc").collect()) == OLD
    assert sorted(d for d in os.listdir(os.path.join(root, "warehouse", "inc")) if "=" in d) == [
        "p=a",
        "p=b",
    ]


def test_string_partition_values_keep_their_type(spark, tmp_path):
    """Partition values ``'1'`` and ``'01'`` stay two distinct strings,
    in the session that wrote them and after a fresh session attaches."""
    root = str(tmp_path)
    _write(root, "models/s.sql", "SELECT * FROM VALUES ('1', 10), ('01', 20) AS v(p, x)")
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: warehouse\nmodels:\n"
        "  s:\n    materialize: table\n    partition_by: p\n",
    )
    assert Session(load_config(root), spark).run(quiet=True).ok
    for sess in (spark, _fresh(spark, root)):
        assert dict(sess.table("s").dtypes)["p"] == "string"
        assert sorted((r.p, r.x) for r in sess.table("s").collect()) == [("01", 20), ("1", 10)]
