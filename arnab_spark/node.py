"""Model node: source rendering, dependency population, statement
execution (reference: src/node.rs).

A node is one ``.sql`` model file. Life cycle (reference: node.rs:62-107
``render_and_populate_refs`` then node.rs:125-207
``execute_sql_statements``):

1. strip comments (``lexer.strip_comments``: ``--`` and ``/* */``
outside literals and quoted identifiers) → 2. concat macros + source
and Jinja-render with an EMPTY context (only ``{% macro %}``
definitions and their calls expand — no vars, no ``ref()``; reference:
node.rs:100-106) → 3. extract referenced relations and intersect with
known model ids → 4. at run time: split statements at each ``;``
outside literals and quoted identifiers (``lexer.split_statements``),
validate exactly one record-returning statement, wrap it in the
materialization DDL, execute via ``spark.sql``.

The Spark materialization mapping (reference: node.rs:156-174):

- ``view``  → ``CREATE OR REPLACE TEMP VIEW {id} AS (...)`` — a lazy
  plan; chained views collapse into one Catalyst plan, so filters cross
  model boundaries (the reference gets this via DuckDB view inlining).
- ``table`` → execute the SELECT and write Parquet under
  ``{db_path}/{id}``, then register a view over the Parquet. This
  persists across sessions like the reference's file-backed DuckDB
  catalog (reference: main.rs:126-132), and at scale gives downstream
  models a pruned columnar scan instead of a recomputation. Like the
  reference's transactional ``CREATE OR REPLACE TABLE``, the swap
  (``catalog.replace_dir``) leaves the old table or the new, never neither.

Each parquet schema is resolved once per SparkSession:

- Scan binding. Spark resolves a ``parquet.`path``` file query, with a
  schema-inference job, every time a statement names it, directly or
  through a chain of views. Before a statement reaches ``spark.sql``,
  ``spark_utils.bind_file_scans`` swaps each such scan for a session
  view over ``spark.read.parquet(path)``, valid while the path's file
  signature (size, mtime, inode) holds. The catalog records the transpiled
  text, never the bound one.
- Schema-hinted registration. ``_write_table`` and
  ``_write_incremental`` return the schema they wrote, partition
  columns included, and the model's view is
  ``spark.read.schema(schema).parquet(dest)``: no job re-reads the
  footers just written, and partition columns keep their types. The
  schema goes into the model's catalog entry, so a later session's
  attach and the next incremental merge read the existing rows
  without inferring it either.

A table or incremental model's row count (the reference reads it back
after its ``CREATE TABLE``, node.rs:179-189) comes from an
``Observation`` on the write itself; no job reads the table back.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field
from enum import Enum

from arnab_spark import lexer
from arnab_spark._dialect_base import state_for
from arnab_spark.catalog import (
    load_catalog,
    read_table,
    record_macros,
    record_model,
    recorded_schema,
    recover_dir,
    replace_dir,
)
from arnab_spark.depparse import get_sql_references
from arnab_spark.dialect import transpile_statement
from arnab_spark.errors import ArnabError, StatementExecutionError


class NodeKind(Enum):
    """Reference: node.rs:17-22 — only Sql is implemented there; PYTHON
    was commented out pending "how to pass data to-from python", a
    blocker that evaporates on PySpark (a Python model is a function
    returning a DataFrame)."""

    SQL = "sql"
    PYTHON = "python"


@dataclass
class NodeExecutionResult:
    """Reference: node.rs:24-26 ``NodeExecutionResult::Sql{n_rows}``."""

    n_rows: int | None = None  # None for views (no action executed)
    materialize: str = "view"


@dataclass
class Node:
    """Reference: node.rs:29-38."""

    path: str
    id: str
    raw_src: str
    rendered_src: str = ""
    prevs: set[str] = field(default_factory=set)
    nexts: set[str] = field(default_factory=set)
    kind: NodeKind = NodeKind.SQL
    materialize: str = "view"
    unique_key: str | None = None  # incremental merge key(s), comma-separated
    #: physical-layout hints for table/incremental materializations
    #: (beyond-reference, essential at warehouse scale): hive-style
    #: directory partitioning and within-partition clustering, both
    #: comma-separated column lists
    partition_by: str | None = None
    cluster_by: str | None = None
    python_fn: object | None = None  # PYTHON models: (spark) -> DataFrame

    # -- rendering ---------------------------------------------------

    strip_comments = staticmethod(lexer.strip_comments)

    def render(self, macro_sources: dict[str, str], known_ids: set[str]) -> None:
        """Render macros and populate ``prevs``
        (reference: node.rs:62-107 ``render_and_populate_refs``)."""
        cleaned = self.strip_comments(self.raw_src)
        combined = "\n".join(list(macro_sources.values()) + [cleaned])
        try:
            import jinja2

            env = jinja2.Environment(undefined=jinja2.StrictUndefined)
            rendered = env.from_string(combined).render()  # empty context
        except ImportError:  # pragma: no cover - jinja2 is available here
            rendered = combined
        except Exception as exc:
            raise ArnabError(f"macro rendering failed for {self.path}: {exc}") from exc
        self.rendered_src = rendered
        self.prevs = get_sql_references(rendered) & known_ids

    # -- execution ---------------------------------------------------

    split_statements = staticmethod(lexer.split_statements)

    @staticmethod
    def will_produce_records(stmt: str) -> bool:
        """First 50 chars, uppercased, starts with SELECT or WITH
        (reference: node.rs:112-123) — plus FROM and VALUES, which the
        reference's embedded DuckDB also treats as record-returning
        (FROM-first syntax; the dialect shim canonicalizes it to
        SELECT-first before execution)."""
        head = stmt[:50].upper().lstrip()
        return head.startswith(("SELECT", "WITH", "FROM", "VALUES"))

    def runs_alone(self) -> bool:
        """Whether the model may change session state other models see.
        Only a SQL model whose source is one statement, its SELECT, may
        overlap other models; Python models and scripts (SET, CREATE
        MACRO, DML, ATTACH/USE, temp tables, …) run alone."""
        if self.kind is not NodeKind.SQL:
            return True
        stmts = self.split_statements(self.rendered_src)
        return len(stmts) != 1 or not self.will_produce_records(stmts[0])

    def materialization_sql(self, select_stmt: str, db_path: str | None) -> tuple[str, str | None]:
        """Wrap the record-returning statement per the materialization
        (reference: node.rs:156-174). Returns (ddl_or_select, parquet_path):
        for views, a CREATE TEMP VIEW DDL; for tables, the bare SELECT
        plus the Parquet destination the caller writes to."""
        if self.materialize == "view":
            return f"CREATE OR REPLACE TEMPORARY VIEW {self.id} AS ({select_stmt})", None
        if self.materialize in ("table", "incremental"):
            if not db_path:
                raise ArnabError(
                    f"model {self.id}: materialize={self.materialize} requires "
                    f"db_path (warehouse dir)"
                )
            return select_stmt, f"{db_path}/{self.id}"
        raise ArnabError(
            f"unknown materialization '{self.materialize}' for model {self.id}"
        )  # reference: node.rs:170-173

    def _layout(self, df):
        """Apply the model's physical-layout hints ahead of a parquet
        write; returns ``(df, partition_cols)``.

        ``partition_by`` → hive-style directory layout
        (``writer.partitionBy``) with a ``repartition`` on the
        partition columns FIRST: without it every write task holds a
        sliver of every partition value and writes its own small file
        into every directory — the small-files explosion that kills
        100 TB warehouse scans. With it, each partition value lands in
        exactly one task → one well-sized file per directory, and
        date/tenant filters prune at PLANNING time
        (``PartitionFilters`` in the scan).

        ``cluster_by`` → ``sortWithinPartitions`` on
        (partition cols + cluster cols): rows with equal/adjacent
        cluster keys become contiguous parquet row groups, so their
        column min/max statistics prune row groups on point/range
        filters — the poor man's Z-order, zero read-side cost.

        Unknown columns RAISE (fail-loud doctrine, same as
        unique_key)."""
        pcols = (
            [c.strip() for c in self.partition_by.split(",")]
            if self.partition_by
            else []
        )
        ccols = (
            [c.strip() for c in self.cluster_by.split(",")]
            if self.cluster_by
            else []
        )
        missing = [c for c in pcols + ccols if c not in df.columns]
        if missing:
            raise ArnabError(
                f"model {self.id}: partition_by/cluster_by column(s) "
                f"{missing} not in output {df.columns}"
            )
        if pcols:
            df = df.repartition(*pcols)
        if ccols:
            df = df.sortWithinPartitions(*(pcols + ccols))
        return df, pcols

    def _write_table(self, df, dest: str):
        """Replace the dir ``dest`` with ``df`` laid out by the model's
        hints (``catalog.replace_dir``); shared by the table path and
        both incremental write sites. Returns ``(schema, n_rows)``."""
        df, pcols = self._layout(df)
        return replace_dir(df, dest, pcols)

    def _write_incremental(self, spark, df, dest: str, schema=None):
        """Incremental materialization — the reference's explicitly
        deferred roadmap item (reference: README.md:54-58), essential at
        100 TB where full recomputation is unaffordable.

        Semantics: first run writes the full result. Later runs merge
        into the existing Parquet: with ``unique_key``, new rows win per
        key and untouched keys are preserved (delete+insert upsert);
        without it, the run's rows are appended. The merged rows go
        through ``_write_table``'s staged swap (old or new, never
        neither), after a swap cut short is undone. At warehouse scale
        the same merge runs per partition (or via MERGE INTO on a
        lakehouse table format). ``schema`` is the one the catalog
        recorded for ``dest``, so reading the existing rows infers
        nothing (None: infer). Returns ``(schema, n_rows)`` as
        ``_write_table``; on a merge, the rows of the merged table.
        """
        if not recover_dir(dest):
            return self._write_table(df, dest)
        existing = read_table(spark, dest, schema)
        if self.unique_key:
            keys = [k.strip() for k in self.unique_key.split(",")]
            missing = [k for k in keys if k not in df.columns]
            if missing:
                raise ArnabError(
                    f"model {self.id}: unique_key column(s) {missing} not in output"
                )
            survivors = existing.join(df.select(*keys).distinct(), on=keys, how="left_anti")
            merged = df.unionByName(survivors)
        else:
            merged = existing.unionByName(df)
        return self._write_table(merged, dest)

    def _materialize(self, spark, df, db_path: str) -> int:
        """Write ``df`` as the model's parquet dir under ``db_path``,
        register it as the model's view and record it, with its
        schema, in the warehouse catalog. Returns the rows written."""
        dest = f"{db_path}/{self.id}"
        if self.materialize == "incremental":
            recorded = recorded_schema(load_catalog(db_path).get(self.id))
            schema, n_rows = self._write_incremental(spark, df, dest, recorded)
        else:
            schema, n_rows = self._write_table(df, dest)
        self._register_table(spark, schema, dest)
        record_model(db_path, self.id, self.materialize, schema=schema)
        return n_rows

    def _register_table(self, spark, schema, dest: str) -> None:
        """Expose the just-written parquet dir as the model's view,
        typed by the ``schema`` just written, partition columns
        included: a plain ``spark.read.parquet`` would run a job to
        re-infer it from the footers, and would type each partition
        column by what its directory names look like. The dir is also
        recorded as the table's backing, so dialect-level DML (INSERT/
        DELETE/UPDATE through the node.rs:176 passthrough) persists
        through a staged swap of it."""
        read_table(spark, dest, schema).createOrReplaceTempView(self.id)
        state_for(spark).backing[self.id.lower()] = dest

    def execute(self, spark, db_path: str | None) -> NodeExecutionResult:
        """Run the model (reference: node.rs:125-207). Non-record
        statements (SET etc.) run first; the single record-returning
        statement is materialized."""
        if self.kind is NodeKind.PYTHON:
            return self._execute_python(spark, db_path)
        from arnab_spark.spark_utils import bind_file_scans

        statements = self.split_statements(self.rendered_src)
        record_stmts = [s for s in statements if self.will_produce_records(s)]
        if len(record_stmts) != 1:  # reference: node.rs:133-144
            raise ArnabError(
                f"model {self.id} must contain exactly one record-returning "
                f"statement, found {len(record_stmts)}"
            )
        n_rows = None
        for stmt in statements:
            if stmt in ("", ";"):
                continue  # reference skips "No statement to prepare" (node.rs:193-198)
            try:
                # transpile inside the try: remote fetches / csv sniffing
                # can fail and deserve the same statement+path context
                stmt = transpile_statement(stmt, spark)
                if not stmt.strip():
                    continue  # consumed by the shim (e.g. CREATE MACRO)
                if self.will_produce_records(stmt):
                    wrapped, parquet_path = self.materialization_sql(stmt, db_path)
                    if parquet_path is not None:
                        df = spark.sql(bind_file_scans(spark, stmt))
                        n_rows = self._materialize(spark, df, db_path)
                    else:
                        spark.sql(bind_file_scans(spark, wrapped))
                        if db_path:
                            # persist the model in the warehouse catalog
                            # so later sessions reattach it — parity with
                            # the reference's DuckDB-file persistence
                            # (node.rs:156-174, main.rs:126-132)
                            record_model(db_path, self.id, "view", stmt)
                else:
                    spark.sql(bind_file_scans(spark, stmt))
            except ArnabError:
                raise
            except Exception as exc:
                raise StatementExecutionError(str(exc), stmt, self.path) from exc
        if db_path:
            # non-TEMP CREATE MACROs persist in the warehouse like the
            # reference's macros persist in the DuckDB file
            state = state_for(spark)
            record_macros(db_path, state.macros, state.dropped_macros)
        # a table's row count is the one the reference reads back right
        # after its CREATE TABLE (node.rs:179-189), taken from the write
        return NodeExecutionResult(n_rows, self.materialize)

    def _execute_python(self, spark, db_path: str | None) -> NodeExecutionResult:
        """PYTHON model kind: the function returns a DataFrame which is
        materialized exactly like a SQL model's SELECT (unblocks the
        reference's abandoned plan, node.rs:19-20)."""
        if self.python_fn is None:
            raise ArnabError(f"python model {self.id} has no callable")
        try:
            df = self.python_fn(spark)
        except Exception as exc:
            raise StatementExecutionError(str(exc), f"<python:{self.id}>", self.path) from exc
        if self.materialize in ("table", "incremental"):
            if not db_path:
                raise ArnabError(
                    f"model {self.id}: materialize={self.materialize} requires "
                    f"db_path (warehouse dir)"
                )
            return NodeExecutionResult(self._materialize(spark, df, db_path), self.materialize)
        df.createOrReplaceTempView(self.id)
        return NodeExecutionResult(None, "view")


def format_elapsed(seconds: float) -> str:
    """Human elapsed-time formatter (reference: session.rs:294-316)."""
    if seconds < 1:
        return f"{seconds * 1000:.0f}ms"
    if seconds < 60:
        return f"{seconds:.2f}s"
    mins, secs = divmod(seconds, 60)
    return f"{int(mins)}m{secs:.0f}s"


class Timer:
    """Tiny context timer for per-node status lines
    (reference: session.rs:234-253)."""

    def __enter__(self):
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.start
        return False
