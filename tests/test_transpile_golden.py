"""Pins the text ``transpile_statement`` produces on 62 statements.

33 statements are the model-level calls of a first run of the four
``examples/`` projects, and 29 are the calls the
``queries/dialect_parity.py`` queries make. Each is captured by wrapping
``transpile_statement`` on a fresh ``spark.newSession()`` with a temp
warehouse, and only the outermost call of a thread counts (a handler's
inner transpile of a view body is part of its statement). Models run
on a thread pool, so a capture is keyed by owner (``example/<project>/
<model>`` or ``query/<name>``) and input statement, never by call
order. The repo root, the temp dir, the fixture dir and the hex of
``__arnab_returning_<hex>`` views are normalised.

A dialect change that alters transpiled text on purpose regenerates the
golden file, and its commit says why:

    python tests/test_transpile_golden.py
"""

import json
import os
import re
import sys
import tempfile
import threading
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "transpile_golden.json")
EXAMPLES = ("basic", "corpus_prep", "duckdb_dialect", "event_analytics")


def _normaliser(tmp_dir: str):
    from arnab_spark.spark_utils import DEFAULT_SF_DIR

    subs = [
        (os.path.realpath(tmp_dir), "<TMP>"),
        (tmp_dir, "<TMP>"),
        (ROOT, "<REPO>"),
        (os.path.dirname(DEFAULT_SF_DIR), "<DATA>"),
    ]

    def norm(text: str) -> str:
        for old, new in subs:
            text = text.replace(old, new)
        return re.sub(r"__arnab_returning_[0-9a-f]+", "__arnab_returning_<hex>", text)

    return norm


def capture(spark, tmp_dir: str) -> dict:
    """``{owner: {input statement: [outputs in call order]}}``."""
    from arnab_spark import dialect, node
    from arnab_spark.config import load_config
    from arnab_spark.queries import all_queries
    from arnab_spark.session import Session
    from arnab_spark.spark_utils import DEFAULT_SF_DIR

    norm = _normaliser(tmp_dir)
    local = threading.local()
    lock = threading.Lock()
    seen: dict = {}
    original = dialect.transpile_statement

    def traced(sql, spark=None):
        if getattr(local, "inside", False):
            return original(sql, spark)
        local.inside = True
        try:
            out = original(sql, spark)
        finally:
            local.inside = False
        with lock:
            per_owner = seen.setdefault(local.owner, {})
            per_owner.setdefault(norm(sql), []).append(norm(out))
        return out

    node_execute = node.Node.execute

    def execute(self, spark, db_path):
        local.owner = f"example/{project}/{self.id}"
        return node_execute(self, spark, db_path)

    with mock.patch.object(dialect, "transpile_statement", traced), \
            mock.patch.object(node, "transpile_statement", traced), \
            mock.patch.object(node.Node, "execute", execute):
        for project in EXAMPLES:
            cfg = load_config(
                os.path.join(ROOT, "examples", project),
                db_path_override=os.path.join(tmp_dir, project),
            )
            Session(cfg, spark.newSession()).run(quiet=True)
        parity = spark.newSession()
        sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
        for name, q in all_queries().items():
            if q.fn.__module__.endswith(".dialect_parity"):
                local.owner = f"query/{name}"
                q.fn(parity, sf_dir)
    return seen


def test_transpiled_text_matches_golden(spark, tmp_path):
    got = capture(spark, str(tmp_path))
    with open(GOLDEN, encoding="utf-8") as f:
        want = json.load(f)
    assert sorted(got) == sorted(want)
    diff = [
        (owner, stmt)
        for owner in want
        for stmt in set(want[owner]) | set(got[owner])
        if want[owner].get(stmt) != got[owner].get(stmt)
    ]
    assert not diff, f"transpiled text moved for: {diff}"


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    os.environ.setdefault("XDG_CACHE_HOME", os.path.join(ROOT, ".test_cache"))
    from arnab_spark.spark_utils import get_spark

    session = get_spark("transpile_golden", cpus="4")
    with tempfile.TemporaryDirectory() as tmp:
        captured = capture(session, tmp)
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump(captured, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {GOLDEN}: {sum(len(v) for s in captured.values() for v in s.values())} calls")
