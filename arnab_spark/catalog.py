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
  persisted Parquet. No rows are read, but each entry runs one
  schema-inference job over its Parquet footers.
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
"""

from __future__ import annotations

import json
import os
import re
import threading

from arnab_spark import lexer

CATALOG_FILE = "_arnab_catalog.json"
#: held around every read-modify-write of the catalog and macro files:
#: models of one run may finish, and record themselves, concurrently
_FILE_LOCK = threading.Lock()


def _catalog_path(db_path: str) -> str:
    return os.path.join(db_path, CATALOG_FILE)


def load_catalog(db_path: str) -> dict[str, dict]:
    path = _catalog_path(db_path)
    if not os.path.isfile(path):
        return {}
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def record_model(
    db_path: str, model_id: str, materialize: str, select_sql: str | None = None
) -> None:
    """Upsert one model's catalog entry (atomic temp-file + rename, so a
    crash mid-write leaves the previous catalog intact)."""
    entry = {"materialize": materialize}
    if select_sql is not None:
        entry["select"] = select_sql
    with _FILE_LOCK:
        os.makedirs(db_path, exist_ok=True)
        cat = load_catalog(db_path)
        # dict assignment keeps an existing key's insertion position —
        # exactly the in-place upsert the ordering contract needs
        cat[model_id] = entry
        _write_json(_catalog_path(db_path), cat)


def _write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def remove_model(db_path: str, model_id: str) -> None:
    """Delete one model/table's catalog entry (script-level DROP TABLE;
    same atomic temp-file + rename discipline as record_model)."""
    with _FILE_LOCK:
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
    the next session (round-5 advice). Snapshot-write is idempotent;
    atomic rename."""
    persistent = {
        name: {"params": params, "body": body, "is_table": is_table}
        for name, (params, body, is_table, is_temp) in macros.items()
        if not is_temp
    }
    dropped = dropped or set()
    if not persistent and not dropped:
        return
    path = os.path.join(db_path, MACROS_FILE)
    with _FILE_LOCK:
        existing = {}
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                existing = json.load(f)
        for name in dropped:
            existing.pop(name, None)
        existing.update(persistent)
        if not existing and not os.path.isfile(path):
            return  # nothing persisted and nothing to erase
        os.makedirs(db_path, exist_ok=True)
        _write_json(path, existing)


def _attach_macros(spark, db_path: str) -> list[str]:
    path = os.path.join(db_path, MACROS_FILE)
    if not os.path.isfile(path):
        return []
    from arnab_spark.dialect import _macros_for

    with open(path, encoding="utf-8") as f:
        stored = json.load(f)
    reg = _macros_for(spark)
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
                spark.read.parquet(dest).createOrReplaceTempView(prefix + model_id)
                if not prefix:
                    # the session's OWN warehouse is writable: record the
                    # backing dir so dialect-level DML persists through a
                    # staged swap (ATTACH-aliased catalogs stay read-only)
                    from arnab_spark.dialect import table_backing_for

                    table_backing_for(spark)[model_id.lower()] = dest
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
