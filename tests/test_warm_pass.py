"""A warm pass over the example projects repeats no work: it compiles
no generated code again and rewrites neither the catalog nor the macro
file of a warehouse whose content it leaves unchanged."""

import json
import os
import shutil

from arnab_spark import catalog
from arnab_spark.config import load_config
from arnab_spark.session import Session

EXAMPLES = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")


def copy_example(name, dest):
    shutil.copytree(
        os.path.join(EXAMPLES, name), dest, ignore=shutil.ignore_patterns("warehouse")
    )
    return str(dest)


def run(spark, root):
    report = Session(load_config(root), spark.newSession()).run(quiet=True)
    assert report.ok, (root, report.errors)


def empty_codegen_cache(spark):
    """Drop every compiled class from Spark's codegen cache, so the
    first pass below compiles as in a fresh JVM whatever other tests
    left in the cache."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(cls.getDeclaredField("MODULE$").get(None)).invalidateAll()


def test_warm_passes_recompile_almost_nothing(spark, tmp_path):
    roots = [copy_example(name, tmp_path / name) for name in sorted(os.listdir(EXAMPLES))]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    empty_codegen_cache(spark)
    compiled = []
    for _ in range(3):
        before = compiles.getCount()
        for root in roots:
            run(spark, root)
        compiled.append(compiles.getCount() - before)
    assert compiled[0] > 0 and compiled[2] < compiled[0] / 10, compiled


def test_catalog_and_macro_files_written_only_on_change(spark, tmp_path, monkeypatch):
    """A warm rerun of an unchanged project writes neither file; a run
    that changes one macro writes the macro file once."""
    root = copy_example("duckdb_dialect", tmp_path / "duckdb_dialect")
    writes = []
    write_json = catalog._write_json

    def counted(path, obj):
        writes.append(os.path.basename(path))
        write_json(path, obj)

    monkeypatch.setattr(catalog, "_write_json", counted)

    def written():
        writes.clear()
        run(spark, root)
        return sorted(writes)

    assert written().count(catalog.MACROS_FILE) == 1  # cold: one CREATE MACRO
    assert written() == []
    src = os.path.join(root, "models", "orders_src.sql")
    with open(src, encoding="utf-8") as f:
        text = f.read()
    with open(src, "w", encoding="utf-8") as f:
        f.write(text.replace("p * 1.1", "p * 1.2"))
    assert written() == [catalog.MACROS_FILE]
    with open(os.path.join(root, "warehouse", catalog.MACROS_FILE), encoding="utf-8") as f:
        assert "1.2" in json.load(f)["add_tax"]["body"]
