"""Concurrent model runs on one SparkSession: independent models
overlap, scripts run alone, and the result equals a one-worker
(sequential) run of the same projects."""

import os
import shutil
import textwrap
import threading
import time

import pytest

from arnab_spark.catalog import attach_warehouse, load_catalog
from arnab_spark.config import load_config
from arnab_spark.node import Node
from arnab_spark.session import Session
from test_engine_pipeline import SF  # the engine tests' fixture dir
EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")


def write(root, rel, content):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(textwrap.dedent(content))


def copy_example(name, dest):
    shutil.copytree(
        os.path.join(EXAMPLES, name), dest, ignore=shutil.ignore_patterns("warehouse")
    )
    return str(dest)


@pytest.fixture()
def intervals(monkeypatch):
    """Model id → (start, end) of each ``Node.execute`` call."""
    seen: dict[str, tuple[float, float]] = {}
    orig = Node.execute

    def timed(self, spark, db_path):
        start = time.perf_counter()
        try:
            return orig(self, spark, db_path)
        finally:
            seen[self.id] = (start, time.perf_counter())

    monkeypatch.setattr(Node, "execute", timed)
    return seen


@pytest.fixture()
def one_worker(monkeypatch, spark):
    """Make the scheduler size its pool to one worker: the sequential
    run, one model at a time in topological order."""
    def use():
        monkeypatch.setattr(type(spark.sparkContext), "defaultParallelism", property(lambda _: 1))
    return use


def overlap(a, b):
    return a[0] < b[1] and b[0] < a[1]


def test_independent_table_models_overlap(spark, tmp_path, intervals):
    root = str(tmp_path)
    for name, col in (("qty_by_part", "l_partkey"), ("qty_by_supp", "l_suppkey")):
        write(root, f"models/{name}.sql", f"""\
            SELECT {col} AS k, sum(l_quantity) AS qty
            FROM read_parquet('{SF}/lineitem.parquet') GROUP BY {col}
            """)
    write(root, "config.yaml", """\
        models_dir: models
        db_path: warehouse
        models:
          qty_by_part: {materialize: table}
          qty_by_supp: {materialize: table}
        """)
    report = Session(load_config(root), spark.newSession()).run(quiet=True)
    assert report.ok, report.errors
    assert overlap(intervals["qty_by_part"], intervals["qty_by_supp"])


def test_script_model_runs_alone(spark, tmp_path, intervals):
    """``revenue_adjusted`` (CREATE TEMP TABLE, DML, SELECT) overlaps no
    other model; a later model that reads its temp table ``adj``
    without naming it as a model sees it."""
    root = copy_example("duckdb_dialect", tmp_path / "proj")
    write(root, "models/adj_rows.sql", """\
        SELECT (SELECT count(*) FROM adj) AS adj_rows, count(*) AS top_rows
        FROM top_months
        """)
    session = Session(load_config(root), spark.newSession())
    report = session.run(quiet=True)
    assert report.ok, report.errors
    order = report.executed
    assert order.index("revenue_adjusted") < order.index("adj_rows")
    assert "revenue_adjusted" not in session.nodes["adj_rows"].prevs
    alone = intervals["revenue_adjusted"]
    for nid, span in intervals.items():
        if nid == "revenue_adjusted":
            continue
        assert not overlap(alone, span), nid
        if order.index(nid) < order.index("revenue_adjusted"):
            assert span[1] <= alone[0], nid
        else:
            assert span[0] >= alone[1], nid
    row = session.spark.table("adj_rows").collect()[0]
    assert row.adj_rows == session.spark.table("adj").count() > 0


def _table_rows(spark, db_path, catalog):
    return {
        mid: sorted(spark.read.parquet(os.path.join(db_path, mid)).collect(), key=repr)
        for mid, entry in catalog.items()
        if entry["materialize"] in ("table", "incremental")
    }


EXAMPLE_NAMES = ("basic", "corpus_prep", "duckdb_dialect", "event_analytics")


def test_examples_concurrent_equal_sequential(spark, tmp_path, one_worker):
    runs = {}
    for name in EXAMPLE_NAMES:
        root = copy_example(name, tmp_path / "concurrent" / name)
        session = Session(load_config(root), spark.newSession())
        report = session.run(quiet=True)
        assert report.ok, (name, report.errors)
        cfg = session.config
        catalog = load_catalog(cfg.db_path)
        assert set(catalog) == set(session.nodes), name
        pos = {mid: i for i, mid in enumerate(catalog)}
        for mid in catalog:
            for up in session.nodes[mid].prevs:
                assert pos[up] < pos[mid], (name, up, mid)
        attached = attach_warehouse(spark.newSession(), cfg.db_path)
        # revenue_adjusted reads the temp table `adj`, which dies with
        # its session: no session can reattach it, run concurrently or not
        missing = {"revenue_adjusted"} if name == "duckdb_dialect" else set()
        assert set(attached) == set(catalog) - missing, name
        runs[name] = (report.executed, _table_rows(spark, cfg.db_path, catalog))
    one_worker()
    for name in EXAMPLE_NAMES:
        root = copy_example(name, tmp_path / "sequential" / name)
        session = Session(load_config(root), spark.newSession())
        report = session.run(quiet=True)
        assert report.ok, (name, report.errors)
        executed, rows = runs[name]
        assert report.executed == executed, name
        db_path = session.config.db_path
        assert _table_rows(spark, db_path, load_catalog(db_path)) == rows, name


def test_one_worker_runs_in_topological_order(spark, tmp_path, one_worker, monkeypatch):
    one_worker()
    calls: list[tuple[str, str]] = []
    orig = Node.execute

    def traced(self, spark_, db_path):
        calls.append((self.id, threading.current_thread().name))
        return orig(self, spark_, db_path)

    monkeypatch.setattr(Node, "execute", traced)
    root = copy_example("event_analytics", tmp_path / "proj")
    session = Session(load_config(root), spark.newSession())
    report = session.run(quiet=True)
    assert report.ok, report.errors
    order = session.build_graph()
    assert report.executed == order
    assert [nid for nid, _ in calls] == order
    assert len({thread for _, thread in calls}) == 1
    assert [r.n_rows for r in report.results.values()] == [
        None if session.nodes[nid].materialize == "view" else spark.read.parquet(
            os.path.join(session.config.db_path, nid)).count()
        for nid in order
    ]


@pytest.mark.parametrize("workers", ["one", "pool"])
def test_describe_reference_orders_models(spark, tmp_path, one_worker, workers):
    """``a_schema`` describes ``z_stats``, which sorts after it: only
    the dependency parser's DESCRIBE reference orders the two."""
    if workers == "one":
        one_worker()
    root = str(tmp_path)
    write(root, "models/z_stats.sql", f"""\
        SELECT o_orderstatus, count() AS n
        FROM read_parquet('{SF}/orders.parquet') GROUP BY o_orderstatus
        """)
    write(root, "models/a_schema.sql", "SELECT column_name, column_type FROM (DESCRIBE z_stats)")
    write(root, "config.yaml", """\
        models_dir: models
        db_path: warehouse
        models:
          z_stats: {materialize: table}
          a_schema: {materialize: table}
        """)
    session = Session(load_config(root), spark.newSession())
    report = session.run(quiet=True)
    assert report.ok, report.errors
    assert report.executed == ["z_stats", "a_schema"]
    got = {r.column_name: r.column_type for r in session.spark.table("a_schema").collect()}
    assert got == {"o_orderstatus": "VARCHAR", "n": "BIGINT"}


def test_failed_model_skips_dependents(spark, tmp_path, capsys):
    root = str(tmp_path)
    write(root, "models/up.sql", "SELECT 1 AS x")
    write(root, "models/down.sql", "SELECT x * 10 AS y FROM up")
    write(root, "models/down2.sql", "SELECT y + 1 AS z FROM down")
    write(root, "models/side.sql", "SELECT 2 AS w")
    write(root, "config.yaml", """\
        models_dir: models
        db_path: warehouse
        models:
          up: {materialize: table}
        """)
    first = Session(load_config(root), spark.newSession()).run(quiet=True)
    assert first.ok, first.errors
    db_path = load_config(root).db_path
    before = load_catalog(db_path)
    write(root, "models/up.sql", "SELECT * FROM no_such_relation_anywhere")
    session = Session(load_config(root), spark.newSession())
    report = session.run()
    assert list(report.errors) == ["up"]
    assert report.skipped == {"down": "up", "down2": "up"}
    assert report.executed == ["side"]
    out = capsys.readouterr().out
    assert "SKIPPED (upstream up failed)" in out
    assert "[down2]" in out and "2 model(s) skipped" in out
    after = load_catalog(db_path)
    assert after["down"] == before["down"] and after["down2"] == before["down2"]


def test_model_jobs_carry_their_job_group(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    wrong: list[tuple[str, str]] = []
    orig = Node.execute

    def checked(self, spark_, db_path):
        try:
            return orig(self, spark_, db_path)
        finally:
            group = sc.getLocalProperty("spark.jobGroup.id")
            if group != f"arnab:{self.id}":
                wrong.append((self.id, group))

    monkeypatch.setattr(Node, "execute", checked)
    tracker = sc.statusTracker()
    root = copy_example("event_analytics", tmp_path / "proj")
    session = Session(load_config(root), spark.newSession())
    ids = sorted(os.path.splitext(f)[0] for f in os.listdir(os.path.join(root, "models")))
    # other runs of this project in the test session used the same groups
    before = {nid: set(tracker.getJobIdsForGroup(f"arnab:{nid}")) for nid in ids}
    report = session.run(quiet=True)
    assert report.ok, report.errors
    assert wrong == []
    groups = {nid: set(tracker.getJobIdsForGroup(f"arnab:{nid}")) - before[nid] for nid in ids}
    for nid, node in session.nodes.items():
        if node.materialize == "table":
            assert groups[nid], nid
    tagged = [j for ids in groups.values() for j in ids]
    assert len(tagged) == len(set(tagged))


def test_catalog_records_survive_concurrent_writers(tmp_path):
    """Many threads upserting catalog entries at once lose none of
    them: each read-modify-write of the catalog file is locked."""
    import sys

    from arnab_spark.catalog import record_model

    db_path = str(tmp_path / "wh")
    errors: list[BaseException] = []

    def writer(t):
        try:
            for i in range(25):
                record_model(db_path, f"m{t}_{i}", "view", f"SELECT {i}")
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(t,)) for t in range(12)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    catalog = load_catalog(db_path)
    assert len(catalog) == 12 * 25
    for t in range(12):
        ids = [mid for mid in catalog if mid.startswith(f"m{t}_")]
        assert ids == [f"m{t}_{i}" for i in range(25)]


def test_catalog_records_survive_concurrent_processes(tmp_path):
    """Two processes upserting disjoint entries into one warehouse's
    catalog at once lose none of them: the catalog lock is a file lock,
    held across processes."""
    import subprocess
    import sys

    db_path = str(tmp_path / "wh")
    worker = textwrap.dedent(
        """
        import os, sys, time
        from arnab_spark.catalog import record_model
        db_path, tag, tmp = sys.argv[1:]
        open(os.path.join(tmp, "ready_" + tag), "w").close()
        while not os.path.exists(os.path.join(tmp, "go")):
            time.sleep(0.001)
        for i in range(150):
            record_model(db_path, f"{tag}_{i}", "view", f"SELECT {i}")
        """
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen([sys.executable, "-c", worker, db_path, tag, str(tmp_path)], cwd=repo)
        for tag in ("a", "b")
    ]
    try:
        deadline = time.monotonic() + 60
        while not all((tmp_path / f"ready_{tag}").exists() for tag in ("a", "b")):
            assert time.monotonic() < deadline, "workers did not start"
            time.sleep(0.01)
        (tmp_path / "go").touch()
        assert [p.wait(timeout=120) for p in procs] == [0, 0]
    finally:
        for p in procs:
            p.kill()
    catalog = load_catalog(db_path)
    for tag in ("a", "b"):
        assert [mid for mid in catalog if mid.startswith(tag + "_")] == [
            f"{tag}_{i}" for i in range(150)
        ]


def test_waits_cover_mentions_and_scripts(tmp_path):
    """A model waits for earlier models it names in a way the dependency
    parser misses (``TABLE a_more``), never for a word in a literal;
    a script waits for every model before it, and later models wait
    for the script."""
    root = str(tmp_path)
    write(root, "models/a_more.sql", "SELECT 1 AS x")
    write(root, "models/base.sql", "SELECT 2 AS x")
    write(root, "models/z_union.sql", "SELECT x FROM base UNION ALL TABLE a_more")
    write(root, "models/z_literal.sql", "SELECT 'a_more' AS s, x FROM base")
    write(root, "models/m_script.sql", "SET spark.sql.shuffle.partitions = 4;\nSELECT x FROM base")
    write(root, "models/zz_after.sql", "SELECT x FROM z_union")
    session = Session(load_config(root), None)
    order = session.build_graph()
    waits = session._waits(order)
    assert session.nodes["z_union"].prevs == {"base"}
    assert waits["z_union"] >= {"base", "a_more"}
    assert "a_more" not in waits["z_literal"]
    before = set(order[:order.index("m_script")])
    assert waits["m_script"] == before
    assert "m_script" in waits["zz_after"]
