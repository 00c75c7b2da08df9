"""Parquet scans resolved once per session on the model-DAG path.

``spark_utils.bind_file_scans`` turns each ``parquet.`path``` that is
about to reach ``spark.sql`` into a per-session view over the file, so
Spark infers its schema once instead of at every reference. Table,
incremental and Python models register their written parquet with the
schema just written instead of re-inferring it.
"""

import json
import os
import textwrap

import duckdb
import pytest

from arnab_spark.catalog import CATALOG_FILE, attach_warehouse, load_catalog
from arnab_spark.config import load_config
from arnab_spark.dialect import transpile_statement
from arnab_spark.session import Session
from arnab_spark.spark_utils import bind_file_scans


def _max_job_id(spark) -> int:
    """Highest job id in Spark's status store, after the listener bus
    has delivered every event (the store is filled asynchronously)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().jobsList(None)
    )
    return max((j.jobId() for j in jobs), default=-1)


def _write_rows(path, n):
    duckdb.sql(f"COPY (SELECT range AS id, range * 10 AS v FROM range({n})) TO '{path}'")


def _run(spark, sql, bind=True):
    sql = transpile_statement(sql, spark)
    return spark.sql(bind_file_scans(spark, sql) if bind else sql)


def _write(root, rel, content):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(textwrap.dedent(content))


_CHAIN = [
    "CREATE OR REPLACE TEMP VIEW sb_a AS SELECT * FROM read_parquet('{p}')",
    "CREATE OR REPLACE TEMP VIEW sb_b AS SELECT id, v FROM sb_a WHERE id >= 0",
    "CREATE OR REPLACE TEMP VIEW sb_c AS SELECT id, v * 2 AS v2 FROM sb_b",
    "SELECT c.id, c.v2, l.v FROM sb_c c JOIN read_parquet('{p}') l USING (id) "
    "UNION ALL SELECT id, v, v FROM read_parquet('{p}')",
]


def test_view_chain_infers_schema_once(spark, tmp_path):
    p = str(tmp_path / "leaf.parquet")
    _write_rows(p, 5)
    # control: as plain file queries every reference re-infers the schema
    plain = spark.newSession()
    before = _max_job_id(plain)
    for stmt in _CHAIN:
        _run(plain, stmt.format(p=p), bind=False).schema
    assert _max_job_id(plain) - before > 1

    bound = spark.newSession()
    before = _max_job_id(bound)
    for stmt in _CHAIN:
        df = _run(bound, stmt.format(p=p))
    df.schema
    assert _max_job_id(bound) - before == 1  # the one inference job
    assert df.count() == 10


def test_overwritten_scan_is_seen_by_next_statement(spark, tmp_path):
    s = spark.newSession()
    f = str(tmp_path / "single.parquet")
    _write_rows(f, 2)
    _run(s, f"CREATE OR REPLACE TEMP VIEW sb_single AS SELECT * FROM read_parquet('{f}')")
    assert _run(s, "SELECT count(*) FROM sb_single").first()[0] == 2
    _write_rows(f, 5)  # the same file, new rows
    assert _run(s, "SELECT count(*) FROM sb_single").first()[0] == 5
    assert _run(s, f"SELECT count(*) FROM read_parquet('{f}')").first()[0] == 5

    d = str(tmp_path / "dir.parquet")
    _run(s, f"COPY (SELECT id FROM VALUES (1), (2), (3) AS t(id)) TO '{d}' (FORMAT PARQUET)")
    _run(s, f"CREATE OR REPLACE TEMP VIEW sb_dir AS SELECT * FROM read_parquet('{d}')")
    assert _run(s, "SELECT sum(id) FROM sb_dir").first()[0] == 6
    _run(s, f"COPY (SELECT id FROM VALUES (10), (20) AS t(id)) TO '{d}' (FORMAT PARQUET)")
    assert _run(s, "SELECT sum(id) FROM sb_dir").first()[0] == 30


def test_catalog_keeps_file_queries_and_reattaches(spark, tmp_path):
    root = str(tmp_path)
    p = os.path.join(root, "events.parquet")
    _write_rows(p, 4)
    _write(root, "models/src.sql", f"SELECT * FROM read_parquet('{p}')")
    _write(root, "models/big.sql", "SELECT id, v FROM src WHERE id >= 2")
    _write(root, "models/total.sql", "SELECT count(*) AS n FROM big")
    _write(
        root,
        "config.yaml",
        "models_dir: models\ndb_path: warehouse\nmodels:\n  total:\n    materialize: table\n",
    )
    cfg = load_config(root)
    run = spark.newSession()
    assert Session(cfg, run).run(quiet=True).ok
    assert any(t.name.startswith("_arnab_scan_") for t in run.catalog.listTables())

    with open(os.path.join(cfg.db_path, CATALOG_FILE), encoding="utf-8") as fh:
        text = fh.read()
    assert "_arnab_scan_" not in text
    assert f"parquet.`{p}`" in json.loads(text)["src"]["select"]

    fresh = spark.newSession()
    Session(cfg, fresh)  # constructing a Session attaches the warehouse
    assert sorted(r.id for r in fresh.table("big").collect()) == [2, 3]
    assert fresh.table("total").first().n == 2


def test_unsignable_paths_stay_file_queries(spark, tmp_path):
    s = spark.newSession()
    real = str(tmp_path / "real.parquet")
    _write_rows(real, 1)
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    for path in (
        str(tmp_path / "*.parquet"),  # glob
        "s3a://bucket/t.parquet",
        "hdfs://nn:8020/t.parquet",
        str(tmp_path / "missing.parquet"),
        str(empty),  # no data file
        "relative/t.parquet",
    ):
        sql = f"SELECT * FROM parquet.`{path}`"
        assert bind_file_scans(s, sql) == sql
    # only scans in positions Spark reads as file queries are bound
    for sql in (
        f"SELECT 'parquet.`{real}`' AS s",
        f"SELECT 1 -- parquet.`{real}`",
        f"CREATE OR REPLACE VIEW sb_perm AS SELECT * FROM parquet.`{real}`",
    ):
        assert bind_file_scans(s, sql) == sql
    bound = bind_file_scans(s, f"SELECT * FROM parquet.`{real}` x")
    assert bound.startswith("SELECT * FROM _arnab_scan_") and bound.endswith(" x")


# -- schema-hinted registration ---------------------------------------

_WIDE_MODEL = '''
def model(spark):
    return spark.sql("""
        SELECT id,
               CAST('2024-01-02 03:04:05' AS TIMESTAMP_NTZ) AS ts_ntz,
               CAST(id * 1.25 AS DECIMAL(12, 3)) AS amount,
               named_struct('a', id, 'b', CAST(id AS STRING)) AS st,
               array(id, id + 1) AS arr,
               map(CAST(id AS STRING), id * 2) AS mp,
               CAST(id % 2 AS STRING) AS region,
               id % 3 AS bucket
        FROM VALUES (1), (2), (3), (4) AS t(id)
    """)
'''


@pytest.fixture
def wide_project(tmp_path):
    root = str(tmp_path)
    _write(root, "models/wide.py", _WIDE_MODEL)
    for name in ("tbl", "inc", "part"):
        _write(root, f"models/{name}.sql", "SELECT * FROM wide")
    _write(
        root,
        "config.yaml",
        """\
        models_dir: models
        db_path: warehouse
        models:
          wide: {materialize: table}
          tbl: {materialize: table}
          inc: {materialize: incremental, unique_key: id}
          part: {materialize: table, partition_by: "region, bucket"}
        """,
    )
    return root


@pytest.mark.parametrize("runs", [1, 2], ids=["first_write", "merge"])
def test_registered_schema_matches_inferred(spark, wide_project, runs):
    cfg = load_config(wide_project)
    for _ in range(runs):
        s = spark.newSession()
        report = Session(cfg, s).run(quiet=True)
        assert report.ok, report.errors
    assert report.results["inc"].n_rows == 4
    for model in ("wide", "tbl", "inc", "part"):
        inferred = s.read.parquet(os.path.join(cfg.db_path, model)).schema
        assert s.table(model).schema == inferred, model
        # the count observed on the write equals a readback
        assert report.results[model].n_rows == s.table(model).count(), model
    # the partition columns come from the directory names, typed as a
    # plain read types them (region '0'/'1' reads back as an integer)
    assert s.table("part").schema.names[-2:] == ["region", "bucket"]
    assert s.table("part").schema["region"].dataType.typeName() == "integer"


def test_attach_with_recorded_schemas_runs_no_job(spark, wide_project):
    """Table entries carry the schema their write recorded, so a fresh
    session attaches them without a Spark job, typed as a plain read
    of the files would type them."""
    cfg = load_config(wide_project)
    assert Session(cfg, spark.newSession()).run(quiet=True).ok
    cat = load_catalog(cfg.db_path)
    assert all("schema" in e for e in cat.values())
    fresh = spark.newSession()
    before = _max_job_id(spark)
    assert attach_warehouse(fresh, cfg.db_path) == list(cat)
    assert _max_job_id(spark) == before
    for model in cat:
        inferred = fresh.read.parquet(os.path.join(cfg.db_path, model)).schema
        assert fresh.table(model).schema == inferred, model
