"""Persistent model catalog — parity with the reference's file-backed
DuckDB catalog.

In the reference, every model lands in the ``db_path`` DuckDB file
(``CREATE OR REPLACE VIEW/TABLE``, reference: node.rs:156-174) which the
next process reopens (reference: main.rs:126-132) — so ``run-file``
scripts and later sessions see previously materialized models without
re-running the pipeline. Spark temp views are session-scoped, so this
module records every materialized model in a JSON sidecar inside the
warehouse directory and re-applies it on attach:

- ``table`` / ``incremental`` models re-register as views over their
  persisted Parquet, typed by the schema the write recorded in the
  entry (``StructType.jsonValue()``, partition columns included: a
  string partition value ``'01'`` must not read back as the int 1).
  Attaching them reads no rows and runs no Spark job. A statement that
  rewrites a cataloged table's dir (DML, ALTER TABLE) records the
  schema it leaves. Entries without a schema, written by older
  versions, are inferred from the Parquet footers, one job each.
- ``view`` models re-create their (transpiled) SELECT as a temp view.
  Its ``parquet.`path``` scans are bound to the session's scan views
  (``spark_utils.bind_file_scans``), so the pipeline re-creating the
  same view later infers no schema again. The catalog keeps the
  file-query text; scan views exist in one session only.

Entries keep pipeline (topological) order: a view recorded after its
upstream table re-applies after it, so references resolve. Upserts
update in place — re-running one model must not move it past a
downstream view in the order. A view whose upstream vanished re-raises
only on *query*, like a DuckDB view over a dropped table; attach warns
and skips it.

The catalog and macro files are rewritten only when their content
changes, so a warm rerun of an unchanged project writes neither.

Every table dir is replaced through ``replace_dir``, so a failed or
interrupted rebuild leaves the old table or the new one, never neither.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
from contextlib import contextmanager

from arnab_spark import lexer
from arnab_spark._dialect_base import state_for

CATALOG_FILE = "_arnab_catalog.json"
LOCK_FILE = "_arnab_catalog.lock"


@contextmanager
def _locked(db_path: str):
    """Hold the warehouse's catalog lock. Each acquisition opens its own
    descriptor, so the ``flock`` serializes threads and processes."""
    os.makedirs(db_path, exist_ok=True)
    with open(os.path.join(db_path, LOCK_FILE), "a") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        yield  # closing the descriptor releases the lock


def _catalog_path(db_path: str) -> str:
    return os.path.join(db_path, CATALOG_FILE)


def load_catalog(db_path: str) -> dict[str, dict]:
    path = _catalog_path(db_path)
    if not os.path.isfile(path):
        return {}
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def record_model(
    db_path: str,
    model_id: str,
    materialize: str,
    select_sql: str | None = None,
    schema=None,
) -> None:
    """Upsert one model's catalog entry (atomic temp-file + rename, so a
    crash mid-write leaves the previous catalog intact). ``schema`` is
    the StructType a table or incremental write put in its Parquet
    files. An entry equal to the stored one is not rewritten."""
    entry = {"materialize": materialize}
    if select_sql is not None:
        entry["select"] = select_sql
    if schema is not None:
        entry["schema"] = schema.jsonValue()
    with _locked(db_path):
        cat = load_catalog(db_path)
        if cat.get(model_id) == entry:
            return
        # dict assignment keeps an existing key's insertion position —
        # exactly the in-place upsert the ordering contract needs
        cat[model_id] = entry
        _write_json(_catalog_path(db_path), cat)


def record_schema(db_path: str, model_id: str, schema) -> None:
    """Set the recorded schema of table entry ``model_id`` after a
    statement rewrote its Parquet dir outside the model write (DML;
    ALTER TABLE may change the schema). No-op if there is no such
    table entry or its schema is unchanged."""
    with _locked(db_path):
        cat = load_catalog(db_path)
        entry = cat.get(model_id)
        if entry is None or entry["materialize"] == "view":
            return
        if entry.get("schema") == schema.jsonValue():
            return
        entry["schema"] = schema.jsonValue()
        _write_json(_catalog_path(db_path), cat)


def recorded_schema(entry: dict | None):
    """The StructType a table entry recorded, or None (no entry, a view,
    or a catalog written before schemas were recorded)."""
    if not entry or "schema" not in entry:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(entry["schema"])


def read_table(spark, dest: str, schema=None):
    """DataFrame over a table's Parquet dir: typed by ``schema`` when it
    is known (no job), inferred from the footers otherwise."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(dest)


_STAGE, _ASIDE = "__staging", "__old"


def recover_dir(dest: str) -> bool:
    """Undo a swap of ``dest`` cut short: restore (or, if ``dest`` is
    there, drop) the copy renamed aside, remove a stale stage. Returns
    whether ``dest`` exists."""
    aside = dest + _ASIDE
    if os.path.isdir(aside):
        if os.path.isdir(dest):
            shutil.rmtree(aside, ignore_errors=True)
        else:
            os.rename(aside, dest)
    shutil.rmtree(dest + _STAGE, ignore_errors=True)
    return os.path.isdir(dest)


def has_part_files(root: str) -> bool:
    """Whether ``root`` holds a ``.parquet`` part file (``_SUCCESS``
    does not count): a dir without one cannot be read."""
    return any(
        f.endswith(".parquet") for _r, _d, files in os.walk(root) for f in files
    )


def replace_dir(df, dest: str, pcols=()):
    """Replace the table dir ``dest`` with ``df``, hive-partitioned by
    ``pcols``. Returns ``(schema, n_rows)``: ``df``'s schema, partition
    columns included, and the rows an ``Observation`` counted on the
    write. ``df`` goes to a stage; then ``dest`` is renamed aside, the
    stage takes its place and the old copy is dropped. A failed write
    leaves ``dest`` untouched (``df`` may read it); a crash between the
    renames is undone by ``recover_dir``. An empty partitioned write
    leaves no part file and could not be read, so it is written flat."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    recover_dir(dest)
    stage = dest + _STAGE
    written = Observation()
    writer = df.observe(written, F.count(F.lit(1)).alias("n")).write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    try:
        writer.parquet(stage)
        if not has_part_files(stage):
            df.sparkSession.createDataFrame([], df.schema).write.mode(
                "overwrite"
            ).parquet(stage)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    if os.path.isdir(dest):
        os.rename(dest, dest + _ASIDE)
    os.rename(stage, dest)
    shutil.rmtree(dest + _ASIDE, ignore_errors=True)
    return df.schema, written.get["n"]


def _write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def remove_model(db_path: str, model_id: str) -> None:
    """Delete one model/table's catalog entry (script-level DROP TABLE;
    same atomic temp-file + rename discipline as record_model)."""
    with _locked(db_path):
        cat = load_catalog(db_path)
        if cat.pop(model_id, None) is not None:
            _write_json(_catalog_path(db_path), cat)


MACROS_FILE = "_arnab_macros.json"


def record_macros(db_path: str, macros: dict, dropped: set | None = None) -> None:
    """Persist the session's NON-TEMP DuckDB-style macros (parity: the
    reference's CREATE MACRO lands in the db_path DuckDB file and is
    visible to every later process, while CREATE TEMP MACRO dies with
    the connection). ``dropped`` names are REMOVED from the persisted
    file — DROP MACRO must be durable like DuckDB's, not resurrect on
    the next session (round-5 advice). The file is rewritten (atomic
    rename) only when the merged set differs from what it holds."""
    # in the form the file holds (tuples read back as lists), so an
    # unchanged set compares equal to what is stored
    persistent = json.loads(json.dumps({
        name: {"params": params, "body": body, "is_table": is_table}
        for name, (params, body, is_table, is_temp) in macros.items()
        if not is_temp
    }))
    dropped = dropped or set()
    if not persistent and not dropped:
        return
    path = os.path.join(db_path, MACROS_FILE)
    with _locked(db_path):
        existing = {}
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                existing = json.load(f)
        merged = {k: v for k, v in existing.items() if k not in dropped}
        merged.update(persistent)
        if merged == existing:
            return  # unchanged, or nothing persisted and nothing to erase
        _write_json(path, merged)


def _attach_macros(spark, db_path: str) -> list[str]:
    path = os.path.join(db_path, MACROS_FILE)
    if not os.path.isfile(path):
        return []
    with open(path, encoding="utf-8") as f:
        stored = json.load(f)
    reg = state_for(spark).macros
    for name, e in stored.items():
        reg.setdefault(name, (e["params"], e["body"], e["is_table"], False))
    return sorted(stored)


def _replace_model_ref(sql: str, name: str, repl: str) -> str:
    """Replace whole-word, unqualified, non-call references to model
    ``name`` in the code of ``sql`` with ``repl``, skipping ``x.name``
    member access and ``name(...)`` function calls."""

    def sub(m: re.Match) -> str:
        if m.group().lower() != name.lower():
            return m.group()
        before = m.string[: m.start()].rstrip()
        after = m.string[m.end() :].lstrip()
        return m.group() if before.endswith(".") or after.startswith("(") else repl

    return lexer.sub(lexer.WORD, sub, sql)


def attach_warehouse(spark, db_path: str, prefix: str = "") -> list[str]:
    """Re-expose every cataloged model in ``spark``'s session — the
    Spark twin of reopening the reference's DuckDB file. Returns the
    attached model ids; broken entries (e.g. a table dir deleted out
    from under the catalog) are warned and skipped, never fatal.

    ``prefix`` namespaces the registered views (the ATTACH … AS alias
    path registers ``alias__model``): view-model SELECTs get their
    sibling-model references rewritten to the prefixed names so the
    chain still resolves (the same over-approximate-then-intersect dep
    extraction the engine uses, reference: node.rs:94-98)."""
    attached: list[str] = []
    # macros first: a cataloged view's SELECT may call one
    _attach_macros(spark, db_path)
    cat = load_catalog(db_path)
    for model_id, entry in cat.items():
        try:
            if entry["materialize"] in ("table", "incremental"):
                dest = os.path.join(db_path, model_id)
                if not prefix:
                    recover_dir(dest)
                read_table(spark, dest, recorded_schema(entry)).createOrReplaceTempView(
                    prefix + model_id
                )
                if not prefix:
                    # the session's OWN warehouse is writable: record the
                    # backing dir so dialect-level DML persists through a
                    # staged swap (ATTACH-aliased catalogs stay read-only)
                    state_for(spark).backing[model_id.lower()] = dest
            else:
                select = entry["select"]
                if prefix:
                    from arnab_spark.depparse import get_sql_references

                    for ref in get_sql_references(select) & set(cat):
                        select = _replace_model_ref(select, ref, prefix + ref)
                from arnab_spark.spark_utils import bind_file_scans

                spark.sql(bind_file_scans(
                    spark,
                    f"CREATE OR REPLACE TEMPORARY VIEW {prefix + model_id} AS ({select})",
                ))
            attached.append(model_id)
        except Exception as exc:  # noqa: BLE001 — attach is best-effort
            print(f"warning: could not attach model '{model_id}': {exc}")
    return attached
