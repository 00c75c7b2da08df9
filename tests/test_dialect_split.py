"""Guards for the dialect module split.

`dialect.py` imports its submodules, and each submodule imports the
leaf `_dialect_base` (per-session state and shared text helpers), never
`dialect` at module level. Three failure modes are cheap to pin:

1. a moved function referencing a name that neither its own module nor
   its import list defines (caught at CALL time only — the round-12
   extraction itself shipped one: `_rewrite_asof_join` missing from
   `_dialect_unnest`, a NameError only the deep-unnest probe path hit);
2. an import cycle: a submodule that needs `dialect` to have run first
   fails to import on its own;
3. a dispatch structure that misses an entry of `_ARG_CALL_REWRITES`
   (`_ARG_CALL` was once a snapshot regex taken before `strftime`,
   `substr`, … were registered);
4. a reordering of `dialect.PASSES` that breaks a rule between passes.
"""

import ast
import builtins
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SUBMODULES = (
    "_dialect_base",
    "_dialect_statements",
    "_dialect_dml",
    "_dialect_datetime",
    "_dialect_unnest",
)

#: names a module may use without binding them
ALLOWED_UNDEFINED: set = set()


@pytest.mark.parametrize("mod", SUBMODULES)
def test_submodule_has_no_unbound_names(mod):
    src = open(os.path.join(REPO, "arnab_spark", f"{mod}.py")).read()
    tree = ast.parse(src)
    defined = set(dir(builtins)) | {"__name__", "__file__", "__doc__"}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            defined |= {a.asname or a.name.split(".")[0] for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            defined |= {a.asname or a.name for a in node.names}
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defined.add(node.name)
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            defined.add(node.id)
        elif isinstance(node, ast.arg):
            defined.add(node.arg)
        elif isinstance(node, ast.ExceptHandler) and node.name:
            defined.add(node.name)
    used = {
        n.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }
    unbound = sorted(used - defined - ALLOWED_UNDEFINED)
    assert not unbound, f"{mod}: names with no binding anywhere: {unbound}"


def test_each_dialect_module_imports_alone():
    """Every submodule imports in a fresh interpreter, before and
    without `arnab_spark.dialect`: the modules import in one direction."""
    for mod in SUBMODULES:
        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                f"import sys, arnab_spark.{mod}; "
                "assert 'arnab_spark.dialect' not in sys.modules",
            ],
            cwd=REPO,
            capture_output=True,
            text=True,
        )
        assert proc.returncode == 0, f"{mod}: {proc.stderr}"


def test_late_registrations_dispatch():
    """The arg-call dispatch regex must cover every entry of the table,
    including the ones built by _dialect_datetime and the ones added
    after the table literal (the snapshot-regex bug the split exposed:
    strftime silently passed through)."""
    from arnab_spark.dialect import _ARG_CALL_REWRITES, transpile_statement

    for late in ("strftime", "strptime", "substr", "left", "dayofweek"):
        assert late in _ARG_CALL_REWRITES, late
    out = transpile_statement(
        "SELECT strftime(CAST('2024-02-29' AS TIMESTAMP), '%Y-%m-%d') AS x"
    )
    assert "date_format" in out, out


#: (earlier pass, later pass, why the order matters)
PASS_ORDER = (
    ("_rewrite_read_file_lists", "_rewrite_list_literals",
     "the list-literal pass would turn a read_*([...]) path list into an "
     "array(...) constructor"),
    ("_rewrite_array_type_spellings", "_rewrite_list_literals",
     "the list-literal pass would misread the empty bracket pair of T[]"),
    ("_rewrite_array_type_spellings", "_rewrite_subscripts",
     "the subscript pass would misread the empty bracket pair of T[]"),
    ("_rewrite_power_ops", "_rewrite_arg_transform_calls",
     "xor() expands to Spark's ^, which must not be re-read as DuckDB power"),
    ("_rewrite_read_functions", "_rewrite_pivot",
     "file queries must resolve as relations for the dynamic pivot's "
     "bind-time DISTINCT to run on Spark"),
)


@pytest.mark.parametrize(
    "earlier,later,why", PASS_ORDER, ids=[f"{a}<{b}" for a, b, _ in PASS_ORDER]
)
def test_pass_order(earlier, later, why):
    from arnab_spark import dialect

    passes = dialect.PASSES
    assert passes.index(getattr(dialect, earlier)) < passes.index(
        getattr(dialect, later)
    ), why


def test_probe_passes_follow_every_probing_pass():
    """A schema probe is taken during the passes that call
    `_probe_schema`; the slice it applies to its text is the passes
    that would run after them, up to the read rewrite."""
    from arnab_spark import dialect

    passes, probe = dialect.PASSES, dialect.PROBE_PASSES
    first = passes.index(probe[0])
    assert passes[first: first + len(probe)] == probe
    assert probe[-1] is dialect._rewrite_read_functions
    for probing in (
        dialect._rewrite_columns_expr,
        dialect._rewrite_length_on_lists,
        dialect._rewrite_struct_recursive_unnest,
    ):
        assert passes.index(probing) < first, probing.__name__
