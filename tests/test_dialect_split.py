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
   `substr`, … were registered).
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
