"""Mutable-table statement surface split out of
:mod:`arnab_spark.dialect` (round 12, maintainability split): the DML
lift (INSERT / DELETE / UPDATE / TRUNCATE with the copy-on-write fast
paths), table DDL (CREATE / DROP / ALTER TABLE), COPY <table> FROM and
EXPORT / IMPORT DATABASE.

The reference executes these natively through its embedded DuckDB
(reference: node.rs:176); here tables are parquet dirs re-exposed as
temp views and DML is a read-transform-persist (staged swap / O(batch)
part-file append / partition-pruned dynamic overwrite). Which views are
tables, which dirs back them and where the warehouse is are read from
the session's :class:`~arnab_spark._dialect_base.DialectState`.
"""

from __future__ import annotations

import os
import re
import shutil

from arnab_spark import lexer
from arnab_spark._dialect_base import _resolve_path, _transpile, state_for
from arnab_spark.errors import ArnabError


# ------------------------------------------- DML: INSERT / DELETE / UPDATE
#
# The reference's embedded DuckDB mutates tables in place
# (node.rs:176 passthrough); this engine's tables are parquet dirs
# re-exposed as temp views, so DML is lifted to a read-transform-swap:
# compute the post-statement relation, persist it atomically (staged
# parquet swap for warehouse-backed tables; an eager localCheckpoint
# for session-scratch temp views — scratch is memory-bounded by
# design, the warehouse swap is the scale path), and re-register the
# view. Spark-native catalog tables keep their native paths where one
# exists (INSERT INTO, TRUNCATE) and get the overwrite lift where
# Spark has none (DELETE/UPDATE on v1 tables).

_DML_IDENT = r'(?:"[^"]+"|[A-Za-z_]\w*)'
_DML_QUAL = rf"{_DML_IDENT}(?:\s*\.\s*{_DML_IDENT})*"
_INSERT_DML = re.compile(
    rf"(?is)^\s*INSERT\s+(?:OR\s+(?P<conflict>REPLACE|IGNORE)\s+)?INTO\s+"
    rf"(?P<target>{_DML_QUAL})\s*(?P<rest>.*?)\s*;?\s*$"
)
#: optional target alias (round 14 — probed: DuckDB accepts
#: ``UPDATE t [AS] x SET`` / ``DELETE FROM t [AS] x`` and the alias
#: HIDES the base name, exactly like ``FROM t AS x`` in a SELECT).
#: The lookahead keeps clause keywords from being eaten as an alias.
_DML_TARGET = (
    rf"(?P<target>{_DML_QUAL})"
    rf"(?:\s+(?:AS\s+)?(?!SET\b|USING\b|WHERE\b|RETURNING\b|FROM\b)"
    rf"(?P<alias>{_DML_IDENT}))?"
)
_DELETE_DML = re.compile(
    rf"(?is)^\s*DELETE\s+FROM\s+{_DML_TARGET}"
    rf"(?:\s+WHERE\s+(?P<pred>.*?))?\s*;?\s*$"
)
_UPDATE_DML = re.compile(
    rf"(?is)^\s*UPDATE\s+{_DML_TARGET}\s+SET\s+(?P<rest>.*?)\s*;?\s*$"
)
_TRUNCATE_DML = re.compile(
    rf"(?is)^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<target>{_DML_QUAL})\s*;?\s*$"
)


def _dml_resolve(spark, raw_target: str, on_view: str = "raise"):
    """Resolve a DML target to (name, kind) where kind is ``backed``
    (parquet-swap persistence), ``tempview`` (checkpoint re-register),
    ``native`` (Spark catalog table), ``view`` (only when
    ``on_view="return"``; mutation raises otherwise — DuckDB rejects
    DML against views), or None (not ours — leave the statement to
    Spark's own resolution/errors). Attached catalogs are read-only,
    matching DuckDB's ``ATTACH … (READ_ONLY)`` posture — this engine
    cannot write back into a foreign .duckdb file."""
    parts = [
        p.strip().strip('"')
        for p in re.split(r"\.(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", raw_target)
    ]
    while len(parts) > 1 and parts[0].lower() in ("memory", "main", "temp", "system"):
        parts.pop(0)
    if len(parts) > 1:
        alias = parts[0].lower()
        attached = state_for(spark).attached
        if alias in attached:
            raise ArnabError(
                f"DML against attached catalog '{alias}' is not supported: "
                "attached catalogs are read-only in this engine (this Spark "
                "rebuild cannot write back into a foreign catalog file). "
                "COPY the data into a session table first."
            )
        return None, None  # qualified non-attached name: Spark's problem
    name = parts[0]
    backing = state_for(spark).backing
    if name.lower() in backing:
        return name, "backed"
    if name.lower() in state_for(spark).session_tables:
        return name, "tempview"
    try:
        tbl = spark.catalog.getTable(name)
    except Exception:
        return None, None
    if (tbl.tableType or "").upper() == "TEMPORARY":
        # a temp view that is NOT an engine table is a VIEW — DuckDB
        # rejects DML against views, and silently mutating one here
        # would be a semantic divergence
        if on_view == "return":
            return name, "view"
        raise ArnabError(
            f"'{name}' is a view, not a table — DuckDB does not allow "
            "INSERT/DELETE/UPDATE/TRUNCATE against views. Materialize "
            "it as a table first (materialize: table, or CREATE TABLE "
            f"… AS SELECT * FROM {name})."
        )
    return name, "native"


def _hive_partition_cols(dest: str) -> list[str]:
    """Partition columns of a hive-layout parquet dir (outermost-in),
    detected from the ``col=value`` directory names the engine's
    ``partition_by`` layout hint writes; [] for flat layouts."""
    cols: list[str] = []
    cur = dest
    while True:
        try:
            subs = [
                d
                for d in os.listdir(cur)
                if "=" in d and os.path.isdir(os.path.join(cur, d))
            ]
        except OSError:
            break
        if not subs:
            break
        cols.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])
    return cols


def _register_backed(spark, name: str, dest: str, schema) -> None:
    """Re-expose the backed table dir ``dest`` as ``name``, typed by
    ``schema`` (partition columns included), after a statement (re)wrote
    it. When ``dest`` is a cataloged table of the session's own
    warehouse, the catalog's recorded schema follows the rewrite: ALTER
    TABLE may have changed it, and attach types the table by that
    schema without reading the files."""
    from arnab_spark.catalog import read_table, record_schema

    read_table(spark, dest, schema).createOrReplaceTempView(name)
    wh = state_for(spark).warehouse
    if wh and os.path.dirname(os.path.normpath(dest)) == os.path.normpath(wh):
        record_schema(wh, os.path.basename(os.path.normpath(dest)), schema)


def _dml_append(spark, name: str, aligned) -> None:
    """INSERT fast path for backed tables: write ONLY the new batch and
    move its part-files into the table dir (mirroring hive partition
    subdirs) — O(batch), never a table rewrite. At 100 TB this is the
    difference between appending a day's rows and rewriting the table;
    the staged-swap path remains for transforms that must touch
    existing rows. Part-file names carry task UUIDs, so moves cannot
    collide; a crash mid-move leaves a prefix of the batch's files
    appended (DuckDB's WAL gives all-or-nothing here — documented
    trade for not rewriting the table)."""
    dest = state_for(spark).backing[name.lower()]
    pcols = _hive_partition_cols(dest)
    staging = f"{dest}__dml_append"
    w = aligned.write.mode("overwrite")
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(staging)
    for root, _dirs, files in os.walk(staging):
        rel = os.path.relpath(root, staging)
        for f in files:
            if not f.endswith(".parquet"):
                continue  # _SUCCESS and friends
            tgt = dest if rel == "." else os.path.join(dest, rel)
            os.makedirs(tgt, exist_ok=True)
            os.rename(os.path.join(root, f), os.path.join(tgt, f))
    shutil.rmtree(staging, ignore_errors=True)
    _register_backed(spark, name, dest, spark.table(name).schema)


def _dml_pruned_rewrite(
    spark, name: str, pcols: list[str], pred: str, rel: str | None = None
) -> bool:
    """DELETE fast path for hive-partitioned backed tables: find the
    partitions holding any row the predicate kills, rewrite ONLY those
    via dynamic partition overwrite, and drop the dirs of partitions
    left empty. Untouched partitions are neither read (pushdown prunes
    the scan) nor written. Returns False when nothing matched (no-op).

    The touched-partition list is a ``collect`` bounded by the table's
    partition count — a layout choice, not a data-sized set (the same
    bound the layout hint's one-file-per-partition write relies on)."""
    dest = state_for(spark).backing[name.lower()]
    rel = rel or f"`{name}`"
    kill = f"coalesce(({pred}), false)" if pred else "true"
    touched = (
        spark.sql(
            _transpile(
                f"SELECT DISTINCT {', '.join(f'`{c}`' for c in pcols)} "
                f"FROM {rel} WHERE {kill}",
                spark,
            )
        )
        .collect()
    )
    if not touched:
        return True  # predicate kills nothing: the delete is a no-op
    # two shapes bail to the full swap: NULL partition values (their
    # dir is Spark's __HIVE_DEFAULT_PARTITION__ sentinel) and values
    # whose dir name Spark would URL-escape — the fully-dead-partition
    # cleanup locates dirs by plain "col=value" formatting, and
    # missing an escaped dir would leave deleted rows readable
    if not all(_plain_hive_value(r[c]) for r in touched for c in pcols):
        return False
    survivors = (
        spark.sql(
            _transpile(f"SELECT * FROM {rel} WHERE NOT {kill}", spark)
        )
        .filter(_touched_filter(touched, pcols))
        .localCheckpoint(eager=True)  # break lineage off the files being replaced
    )
    _overwrite_touched_partitions(
        spark,
        name,
        dest,
        pcols,
        [tuple(r[c] for c in pcols) for r in touched],
        survivors,
    )
    return True


def _dml_persist(spark, name: str, kind: str, df):
    """Atomically replace ``name``'s contents with ``df``. Returns the
    schema a backed table is now read with, else None."""
    if kind == "backed":
        from arnab_spark.catalog import replace_dir

        dest = state_for(spark).backing[name.lower()]
        # a hive-partitioned table keeps its layout through the swap (a
        # flat rewrite would disable every later pruned fast path); a
        # partition column the new relation lacks (ALTER TABLE DROP/
        # RENAME COLUMN) degrades to the flat layout
        have = {c.lower(): c for c in df.columns}
        pcols = [
            have[c.lower()]
            for c in _hive_partition_cols(dest)
            if c.lower() in have
        ]
        schema, _ = replace_dir(df, dest, pcols)
        _register_backed(spark, name, dest, schema)
        return schema
    elif kind == "tempview":
        df.localCheckpoint(eager=True).createOrReplaceTempView(name)
    else:  # native catalog table without its own DELETE/UPDATE
        ckpt = df.localCheckpoint(eager=True)
        tmp = f"_arnab_dml_{abs(hash(name)) % 10**8}"
        ckpt.createOrReplaceTempView(tmp)
        try:
            spark.sql(f"INSERT OVERWRITE TABLE `{name}` SELECT * FROM {tmp}")
        finally:
            spark.catalog.dropTempView(tmp)


def _freeze_returning_rows(spark, rows_df) -> str:
    """Freeze a RETURNING row set (eager localCheckpoint) under a temp
    view BEFORE the mutation lands, reaping the PREVIOUS statement's
    returning view first (round 14, advice): its SELECT has executed by
    the time a later RETURNING statement reaches this point, so the
    reap bounds a long-lived session to ONE outstanding view per
    session instead of one per statement. (The reap cannot run at
    statement entry: inner ``transpile_statement`` calls re-enter
    ``_rewrite_dml`` while the current statement's own view is still
    pending consumption.)

    The reap drops only the TEMP VIEW; the checkpoint itself is NOT
    eagerly unpersisted (round 15, advice): a caller may still hold the
    prior RETURNING DataFrame un-collected (``spark.sql`` is lazy), and
    yanking its blocks would fail that later action. Dropping the
    state's reference is enough — once the caller's own reference goes,
    Python GC releases the py4j handle and Spark's ContextCleaner
    reclaims the checkpoint blocks. Session teardown
    (:meth:`arnab_spark.session.Session.run` epilogue) reaps the final
    statement's view the same way."""
    import uuid

    reap_returning_view(spark)
    view = f"__arnab_returning_{uuid.uuid4().hex[:10]}"
    ckpt = rows_df.localCheckpoint(eager=True)
    ckpt.createOrReplaceTempView(view)
    state_for(spark).returning_view = (view, ckpt)
    return view


def reap_returning_view(spark) -> None:
    """Drop the session's outstanding RETURNING temp view (if any) and
    release the state's checkpoint reference. Safe to call when none
    is outstanding. Called between RETURNING statements and from the
    run-loop epilogue so no ``__arnab_returning_*`` view survives a
    completed run."""
    state = state_for(spark)
    prev, state.returning_view = state.returning_view, None
    if prev is not None:
        view_name, _ckpt = prev
        try:
            spark.catalog.dropTempView(view_name)
        except Exception:
            pass


def _plain_hive_value(v) -> bool:
    """True when a partition value formats to a plain ``col=value`` dir
    name — not NULL (Spark's ``__HIVE_DEFAULT_PARTITION__`` sentinel)
    and not URL-escaped — the precondition for any fast path whose
    dead-partition cleanup locates dirs by plain formatting."""
    return v is not None and all(ch.isalnum() or ch in "-_." for ch in str(v))


def _touched_filter(touched, pcols: list[str]):
    """OR-of-ANDs partition filter selecting exactly the touched
    partitions (pushdown prunes the scan to those dirs)."""
    from pyspark.sql import functions as F

    tfilter = None
    for r in touched:
        c_and = None
        for c in pcols:
            eq = F.col(c) == F.lit(r[c])
            c_and = eq if c_and is None else (c_and & eq)
        tfilter = c_and if tfilter is None else (tfilter | c_and)
    return tfilter


def _overwrite_touched_partitions(
    spark, name: str, dest: str, pcols: list[str], touched_keys, survivors
) -> None:
    """Dynamic-overwrite the touched hive partitions with ``survivors``
    (the post-statement rows of those partitions, already
    checkpointed). ``touched_keys`` are the partitions a DELETE may
    have emptied: their dirs are dropped when no survivor lands there
    (dynamic overwrite only replaces partitions PRESENT in the frame),
    and the table stays readable when every partition died — DuckDB
    parity: empty table, schema intact. An UPDATE moves no row between
    partitions, so it passes no keys and skips the job that finds the
    live ones."""
    from arnab_spark.catalog import has_part_files, replace_dir

    (
        survivors.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*pcols)
        .parquet(dest)
    )
    if touched_keys:
        alive = {
            tuple(r[c] for c in pcols)
            for r in survivors.select(*pcols).distinct().collect()
        }
        for key in touched_keys:
            if key not in alive:
                sub = os.path.join(dest, *[f"{c}={v}" for c, v in zip(pcols, key)])
                shutil.rmtree(sub, ignore_errors=True)
        if not has_part_files(dest):
            replace_dir(spark.createDataFrame([], survivors.schema), dest)
    _register_backed(spark, name, dest, spark.table(name).schema)


def _parse_assignments(assigns_text: str, types: dict, name: str) -> dict:
    """Parse an UPDATE SET list into {lowered column: expression text},
    with DuckDB's errors for unknown / doubly-assigned columns."""
    assigns: dict[str, str] = {}
    for a in lexer.split_top_level(assigns_text):
        m2 = re.match(r'(?s)^\s*("[^"]+"|[A-Za-z_]\w*)\s*=\s*(.*?)\s*$', a)
        if m2 is None:
            raise ArnabError(f"UPDATE: cannot parse assignment {a.strip()!r}")
        col = m2.group(1).strip('"')
        if col.lower() not in types:
            raise ArnabError(f"UPDATE: column '{col}' does not exist in '{name}'")
        if col.lower() in assigns:
            raise ArnabError(f"UPDATE: multiple assignments to column '{col}'")
        assigns[col.lower()] = m2.group(2)
    return assigns


def _split_from_where(tail: str):
    """Split the text after FROM/USING into (relation text, predicate)."""
    widx, _ = lexer.find_top_level(tail, ("where",))
    fromtext = (tail[:widx] if widx >= 0 else tail).strip().rstrip(";").strip()
    pred = tail[widx + len("where"):].strip().rstrip(";").strip() if widx >= 0 else None
    return fromtext, pred


def _joindml_base(spark, name: str):
    """The pre-mutation target frozen (eager localCheckpoint) with a
    synthetic row id, exposed under a scratch view so the probe join
    can alias it back to the target's own name (qualified references
    in SET/WHERE then bind exactly as DuckDB binds them)."""
    import uuid

    from pyspark.sql import functions as F

    rid_view = f"__arnab_joindml_{uuid.uuid4().hex[:10]}"
    base = (
        spark.table(name)
        .withColumn("__arnab_rid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    base.createOrReplaceTempView(rid_view)
    return base, rid_view


def _rewrite_update_from(sql: str, ret_clause, spark, returning_select):
    """DuckDB's ``UPDATE t SET … FROM <relations> [WHERE pred]``
    (reference reach: node.rs:176 passthrough), lifted to a probe join
    + per-column CASE reconstruction:

    1. freeze the pre-mutation target with a synthetic row id;
    2. probe-join it against the VERBATIM FROM text (so every DuckDB
       FROM shape — tables, subqueries, comma lists — works) under the
       statement's predicate, evaluating each assignment expression per
       MATCH: one join sized by the match count;
    3. RETURNING = the match rows with their NEW values — one row per
       match, duplicates on fan-out (probed DuckDB behavior);
    4. next table state = target LEFT JOIN one-winner-per-row-id: the
       fan-out winner is physical-scan-arbitrary in DuckDB (probed:
       reversing the source's insert order flips it), so this engine
       picks an arbitrary-but-DETERMINISTIC winner (first join-output
       position) and applies DuckDB's assignment coercion per column.
       The winner set is keyed by row id, so AQE broadcasts it when
       the match count is small — the target is never rewritten
       through a fan-out duplicate;
    5. hive-partitioned backed tables keep the partition-pruned
       dynamic-overwrite fast path when no partition column is
       assigned."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    um = _UPDATE_DML.match(sql)
    if um is None:
        raise ArnabError("UPDATE … FROM: cannot parse statement head")
    raw_target = um.group("target")
    name, kind = _dml_resolve(spark, raw_target)
    if kind is None:
        raise ArnabError(
            f"UPDATE … FROM: target '{raw_target}' is not an engine "
            "table (backed table or session temp table)."
        )
    rest = um.group("rest")
    fidx, _ = lexer.find_top_level(rest, ("from",))
    if fidx < 0:
        raise ArnabError("UPDATE … FROM: cannot locate the FROM clause")
    fromtext, pred = _split_from_where(rest[fidx + len("from"):])
    if not fromtext:
        raise ArnabError("UPDATE … FROM: empty FROM clause")
    fields = spark.table(name).schema.fields
    types = {f.name.lower(): f.dataType.simpleString() for f in fields}
    assigns = _parse_assignments(rest[:fidx], types, name)
    keys = list(assigns)
    # target alias hides the base name in the probe join (DuckDB's
    # probed binding rule)
    tgt = (um.group("alias") or name).strip('"')

    base, rid_view = _joindml_base(spark, name)
    try:
        cond = f"coalesce(({pred}), false)" if pred else "true"
        items = (
            [f"`{tgt}`.`__arnab_rid` AS `__arnab_rid`"]
            + [f"({assigns[k]}) AS `__arnab_e_{i}`" for i, k in enumerate(keys)]
            + [f"`{tgt}`.`{f.name}` AS `{f.name}`" for f in fields]
        )
        pairs = spark.sql(
            _transpile(
                f"SELECT {', '.join(items)} FROM `{rid_view}` AS `{tgt}`, "
                f"{fromtext} WHERE {cond}",
                spark,
            )
        )
        etypes = {
            f2.name: f2.dataType.simpleString() for f2 in pairs.schema.fields
        }

        def _new_value(df, f):
            i = keys.index(f.name.lower())
            return _cast_like_duck(
                df[f"__arnab_e_{i}"],
                etypes[f"__arnab_e_{i}"],
                types[f.name.lower()],
            )

        ret_view = None
        if ret_clause is not None:
            ret_view = _freeze_returning_rows(
                spark,
                pairs.select(
                    *[
                        _new_value(pairs, f).alias(f.name)
                        if f.name.lower() in assigns
                        else pairs[f.name]
                        for f in fields
                    ]
                ),
            )

        w = Window.partitionBy("__arnab_rid").orderBy("__arnab_pos")
        winners = (
            pairs.withColumn("__arnab_pos", F.monotonically_increasing_id())
            .withColumn("__arnab_rn", F.row_number().over(w))
            .filter(F.col("__arnab_rn") == 1)
            .select(
                "__arnab_rid",
                *[f"__arnab_e_{i}" for i in range(len(keys))],
                F.lit(True).alias("__arnab_upd"),
            )
        )
        joined = base.join(winners, "__arnab_rid", "left")
        sel = []
        for f in fields:
            if f.name.lower() in assigns:
                sel.append(
                    F.when(F.col("__arnab_upd"), _new_value(joined, f))
                    .otherwise(F.col(f.name).cast(types[f.name.lower()]))
                    .alias(f.name)
                )
            else:
                sel.append(F.col(f.name))
        if kind == "backed":
            dest = state_for(spark).backing[name.lower()]
            pcols = _hive_partition_cols(dest)
            if pcols and not (set(assigns) & {c.lower() for c in pcols}):
                touched = (
                    joined.filter(F.col("__arnab_upd"))
                    .select(*pcols)
                    .distinct()
                    .collect()
                )
                if not touched:
                    return returning_select(ret_view) if ret_view else ""
                if all(_plain_hive_value(r[c]) for r in touched for c in pcols):
                    updated = (
                        joined.filter(_touched_filter(touched, pcols))
                        .select(*sel)
                        .localCheckpoint(eager=True)
                    )
                    _overwrite_touched_partitions(
                        spark, name, dest, pcols, (), updated
                    )
                    return returning_select(ret_view) if ret_view else ""
        _dml_persist(spark, name, kind, joined.select(*sel))
        return returning_select(ret_view) if ret_view else ""
    finally:
        try:
            spark.catalog.dropTempView(rid_view)
        except Exception:
            pass


def _rewrite_delete_using(sql: str, ret_clause, spark, returning_select):
    """DuckDB's ``DELETE FROM t USING <relations> [WHERE pred]``
    (reference reach: node.rs:176 passthrough): a semi-join delete.
    Probe-join the row-id-frozen target against the verbatim USING
    text → matched row ids; next state = target ANTI JOIN the matched
    ids (a small distinct id set in the common case, which AQE
    broadcasts); RETURNING = one row per MATCH, duplicates on fan-out
    (probed DuckDB behavior). Hive-partitioned backed tables keep the
    partition-pruned dynamic-overwrite fast path: only partitions
    holding a matched row are rewritten, and fully-emptied partition
    dirs are dropped."""
    m = re.match(
        rf"(?is)^\s*DELETE\s+FROM\s+{_DML_TARGET}\s+USING\s+"
        rf"(?P<rest>.*?)\s*;?\s*$",
        sql,
    )
    if m is None:
        raise ArnabError("DELETE … USING: cannot parse statement head")
    raw_target = m.group("target")
    name, kind = _dml_resolve(spark, raw_target)
    if kind is None:
        raise ArnabError(
            f"DELETE … USING: target '{raw_target}' is not an engine "
            "table (backed table or session temp table)."
        )
    fromtext, pred = _split_from_where(m.group("rest"))
    if not fromtext:
        raise ArnabError("DELETE … USING: empty USING clause")
    # target alias hides the base name in the probe join (probed)
    tgt = (m.group("alias") or name).strip('"')
    base, rid_view = _joindml_base(spark, name)
    try:
        cond = f"coalesce(({pred}), false)" if pred else "true"
        matches = spark.sql(
            _transpile(
                f"SELECT `{tgt}`.* FROM `{rid_view}` AS `{tgt}`, "
                f"{fromtext} WHERE {cond}",
                spark,
            )
        )
        ret_view = None
        if ret_clause is not None:
            ret_view = _freeze_returning_rows(spark, matches.drop("__arnab_rid"))
        matched_rids = matches.select("__arnab_rid").distinct()
        if kind == "backed":
            dest = state_for(spark).backing[name.lower()]
            pcols = _hive_partition_cols(dest)
            if pcols:
                touched = matches.select(*pcols).distinct().collect()
                if not touched:
                    return returning_select(ret_view) if ret_view else ""
                if all(_plain_hive_value(r[c]) for r in touched for c in pcols):
                    survivors = (
                        base.filter(_touched_filter(touched, pcols))
                        .join(matched_rids, "__arnab_rid", "left_anti")
                        .drop("__arnab_rid")
                        .localCheckpoint(eager=True)
                    )
                    _overwrite_touched_partitions(
                        spark,
                        name,
                        dest,
                        pcols,
                        [tuple(r[c] for c in pcols) for r in touched],
                        survivors,
                    )
                    return returning_select(ret_view) if ret_view else ""
        kept = base.join(matched_rids, "__arnab_rid", "left_anti").drop(
            "__arnab_rid"
        )
        _dml_persist(spark, name, kind, kept)
        return returning_select(ret_view) if ret_view else ""
    finally:
        try:
            spark.catalog.dropTempView(rid_view)
        except Exception:
            pass


_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _cast_like_duck(col, src_simple: str, dst_simple: str):
    """DuckDB's assignment coercion, not Spark's (both probed):

    - floating/decimal → integral ROUNDS half-away-from-zero (3.7→4,
      2.5→3, -3.5→-4) where Spark's CAST truncates toward zero —
      Spark's round() is exactly half-away-from-zero;
    - decimal → decimal with a SMALLER scale TRUNCATES toward zero
      (12.345→12.34, -12.345→-12.34) where Spark's CAST rounds
      half-up — Spark's scaled floor/ceil pair truncates exactly on
      decimals (no float detour).

    double→decimal keeps the plain cast: both engines round to
    nearest, and a decimal-exact tie cannot arise from a binary
    double. Every other pair keeps Spark's cast (verified equal on
    the fuzz + directed differential suites)."""
    from pyspark.sql import functions as F

    if dst_simple in _INTEGRAL_TYPES and (
        src_simple in ("float", "double") or src_simple.startswith("decimal")
    ):
        return F.round(col).cast(dst_simple)
    dm = re.match(r"^decimal\((\d+),(\d+)\)$", dst_simple)
    sm = re.match(r"^decimal\((\d+),(\d+)\)$", src_simple)
    if dm and sm and int(sm.group(2)) > int(dm.group(2)):
        s = int(dm.group(2))
        trunc = F.when(col >= 0, F.floor(col, s)).otherwise(F.ceil(col, s))
        return trunc.cast(dst_simple)
    return col.cast(dst_simple)


def _dml_align(new, tfields, cols, by_name: bool):
    """Project ``new`` onto the target's columns with DuckDB's INSERT
    alignment rules: positional by default (arity must match), named
    subset via an explicit column list or BY NAME (absent columns fill
    with NULL), every value cast to the target column's type."""
    from pyspark.sql import functions as F

    names = [f.name for f in tfields]
    types = {f.name.lower(): f.dataType.simpleString() for f in tfields}
    src = {
        c: f.dataType.simpleString() for c, f in zip(new.columns, new.schema.fields)
    }
    lower_target = {n.lower() for n in names}
    exprs = []
    if by_name:
        extra = [c for c in new.columns if c.lower() not in lower_target]
        if extra:
            raise ArnabError(
                f"INSERT BY NAME: column(s) {extra} do not exist in the target"
            )
        have = {c.lower(): c for c in new.columns}
        for n in names:
            if n.lower() in have:
                c = have[n.lower()]
                exprs.append(
                    _cast_like_duck(new[c], src[c], types[n.lower()]).alias(n)
                )
            else:
                exprs.append(F.lit(None).cast(types[n.lower()]).alias(n))
    elif cols is not None:
        unknown = [c for c in cols if c.lower() not in lower_target]
        if unknown:
            raise ArnabError(
                f"INSERT: column(s) {unknown} do not exist in the target"
            )
        if len(cols) != len(new.columns):
            raise ArnabError(
                f"INSERT: {len(cols)} columns listed but the source "
                f"supplies {len(new.columns)}"
            )
        pos = {c.lower(): i for i, c in enumerate(cols)}
        for n in names:
            if n.lower() in pos:
                c = new.columns[pos[n.lower()]]
                exprs.append(
                    _cast_like_duck(new[c], src[c], types[n.lower()]).alias(n)
                )
            else:
                exprs.append(F.lit(None).cast(types[n.lower()]).alias(n))
    else:
        if len(new.columns) != len(names):
            raise ArnabError(
                f"INSERT: table has {len(names)} columns but "
                f"{len(new.columns)} values were supplied"
            )
        for c, n in zip(new.columns, names):
            exprs.append(_cast_like_duck(new[c], src[c], types[n.lower()]).alias(n))
    return new.select(*exprs)


_CREATE_TABLE_DDL = re.compile(
    rf"(?is)^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?(?P<temp>TEMP(?:ORARY)?\s+)?TABLE\s+"
    rf"(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<target>{_DML_QUAL})\s*(?P<rest>.*?)\s*;?\s*$"
)
_DROP_TABLE_DDL = re.compile(
    rf"(?is)^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<target>{_DML_QUAL})\s*;?\s*$"
)
#: a CREATE TABLE carrying any of these top-level words is Spark-shaped
#: DDL the user wrote deliberately — leave it native
_SPARK_DDL_WORDS = (
    "using",
    "partitioned",
    "location",
    "tblproperties",
    "options",
    "stored",
    "clustered",
    "row",
)
_COL_CONSTRAINT = re.compile(
    r"(?i)\b(PRIMARY|UNIQUE|CHECK|DEFAULT|REFERENCES|COLLATE|GENERATED)\b"
    r"|\bNOT\s+NULL\b"
)


def _rewrite_create_table(sql: str, spark):
    """DuckDB-shaped ``CREATE [OR REPLACE] [TEMP] TABLE`` — both the
    CTAS form and the schema-only column-list form — neither of which
    Spark's v1 catalog supports (probed: OR REPLACE →
    UNSUPPORTED_FEATURE.TABLE_OPERATION, TEMP TABLE → ParseException).

    TEMP tables (and all tables when no warehouse is open — DuckDB's
    in-memory-database default, main.rs:126-132) become eagerly
    checkpointed temp views registered as session tables, so DML works
    and the data is session-scoped exactly like DuckDB temp tables.
    With a warehouse open, non-temp tables persist as parquet dirs
    under it, recorded in the catalog — the next session reattaches
    them, parity with tables living in the reference's .duckdb file.
    Spark-shaped DDL (USING/PARTITIONED BY/LOCATION/…) stays native."""
    m = _CREATE_TABLE_DDL.match(sql)
    if m is None or spark is None:
        return None
    rest = m.group("rest").lstrip()
    first = re.match(r"(?is)^([a-z_]+)", rest)
    if first is not None and first.group(1).lower() in _SPARK_DDL_WORDS:
        return None
    schema_inner = None
    if rest.startswith("("):
        j = lexer.group_end(rest, 0)
        if j is None:
            raise ArnabError("CREATE TABLE: unclosed column list")
        if rest[j:].strip().strip(";").strip():
            return None  # "(cols) USING …" and friends: Spark-shaped
        schema_inner = rest[1 : j - 1]
    else:
        am = re.match(r"(?is)^AS\s+(.*)$", rest)
        if am is None:
            return None
        body = am.group(1)

    parts = [
        p.strip().strip('"')
        for p in re.split(r"\.(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)", m.group("target"))
    ]
    while len(parts) > 1 and parts[0].lower() in ("memory", "main", "temp", "system"):
        parts.pop(0)
    if len(parts) > 1:
        alias = parts[0].lower()
        if alias in state_for(spark).attached:
            raise ArnabError(
                f"CREATE TABLE in attached catalog '{alias}' is not "
                "supported: attached catalogs are read-only in this engine."
            )
        return None
    name = parts[0]

    exists = (
        name.lower() in state_for(spark).backing
        or name.lower() in state_for(spark).session_tables
    )
    if not exists:
        try:
            spark.catalog.getTable(name)
            exists = True
        except Exception:
            exists = False
    if exists and not m.group("replace"):
        if m.group("ine"):
            return ""  # IF NOT EXISTS: no-op, consumed
        raise ArnabError(
            f"table '{name}' already exists (DuckDB parity — use CREATE "
            "OR REPLACE TABLE or IF NOT EXISTS)"
        )

    if schema_inner is not None:
        casts = []
        for d in lexer.split_top_level(schema_inner):
            dm = re.match(r'(?s)^\s*("[^"]+"|[A-Za-z_]\w*)\s+(.+?)\s*$', d)
            if dm is None or _COL_CONSTRAINT.search(dm.group(2)):
                raise ArnabError(
                    f"CREATE TABLE {name}: unsupported column definition "
                    f"{d.strip()!r} — plain `name TYPE` columns only "
                    "(this engine's tables declare no constraints, "
                    "defaults, or generated columns)"
                )
            cn = dm.group(1).strip('"')
            casts.append(f"CAST(NULL AS {dm.group(2).strip()}) AS `{cn}`")
        body = f"SELECT {', '.join(casts)} WHERE false"

    df = spark.sql(_transpile(body, spark))
    wh = None if m.group("temp") else state_for(spark).warehouse
    if wh is None:
        df.localCheckpoint(eager=True).createOrReplaceTempView(name)
        state_for(spark).session_tables.add(name.lower())
    else:
        from arnab_spark.catalog import record_model, replace_dir

        dest = os.path.join(wh, name)
        if os.path.exists(dest):
            state_for(spark).backing[name.lower()] = dest
            schema = _dml_persist(spark, name, "backed", df)
        else:
            schema, _ = replace_dir(df, dest)
            _register_backed(spark, name, dest, schema)
            state_for(spark).backing[name.lower()] = dest
        record_model(wh, name, "table", schema=schema)
    return ""


def _rewrite_drop_table(sql: str, spark):
    """DROP TABLE over engine tables: unregister + delete the backing
    parquet dir (DuckDB's DROP TABLE removes the data) + remove the
    warehouse catalog entry. Native catalog tables and missing names
    stay with Spark's own DROP TABLE (loud on missing without IF
    EXISTS, no-op with it)."""
    m = _DROP_TABLE_DDL.match(sql)
    if m is None or spark is None:
        return None
    name, kind = _dml_resolve(spark, m.group("target"), on_view="return")
    if kind == "view":
        # DuckDB's DROP TABLE errors on views, but Spark's native DROP
        # TABLE silently drops a temp view (probed) — passing through
        # would be a silent divergence
        raise ArnabError(
            f"DROP TABLE {name}: the target is a view, not a table — "
            "DuckDB rejects this; use DROP VIEW."
        )
    if kind == "backed":
        dest = state_for(spark).backing.pop(name.lower())
        spark.catalog.dropTempView(name)
        shutil.rmtree(dest, ignore_errors=True)
        wh = state_for(spark).warehouse
        if wh and os.path.dirname(dest) == os.path.normpath(wh):
            from arnab_spark.catalog import remove_model

            remove_model(wh, name)
        return ""
    if kind == "tempview":
        state_for(spark).session_tables.discard(name.lower())
        spark.catalog.dropTempView(name)
        return ""
    return None


_ALTER_TABLE_DDL = re.compile(
    rf"(?is)^\s*ALTER\s+TABLE\s+(?:IF\s+EXISTS\s+)?(?P<target>{_DML_QUAL})\s+"
    rf"(?P<action>.*?)\s*;?\s*$"
)


def _rewrite_alter_table(sql: str, spark):
    """DuckDB's ALTER TABLE verbs over engine tables, each a
    read-transform-persist (probed semantics on the pinned DuckDB):
    RENAME TO, RENAME [COLUMN] a TO b, ADD [COLUMN] [IF NOT EXISTS]
    c TYPE (NULL-filled, appended last), DROP [COLUMN] [IF EXISTS] c,
    ALTER [COLUMN] c [SET DATA] TYPE T [USING expr] (cast, or the USING
    expression evaluated over old rows). ADD COLUMN … DEFAULT stays
    loud: DuckDB back-fills the default AND applies it to later
    INSERTs omitting the column — this engine's tables declare no
    defaults, so accepting it would silently diverge on those INSERTs.
    Native catalog tables keep Spark's own (narrower) ALTER TABLE."""
    m = _ALTER_TABLE_DDL.match(sql)
    if m is None or spark is None:
        return None
    name, kind = _dml_resolve(spark, m.group("target"), on_view="return")
    if kind == "view":
        raise ArnabError(
            f"ALTER TABLE {name}: the target is a view, not a table — "
            "DuckDB rejects this."
        )
    if kind is None or kind == "native":
        return None
    action = m.group("action").strip()

    rt = re.match(rf"(?is)^RENAME\s+TO\s+(?P<new>{_DML_IDENT})\s*$", action)
    if rt is not None:
        new = rt.group("new").strip('"')
        if kind == "backed":
            backing = state_for(spark).backing
            dest = backing.pop(name.lower())
            new_dest = os.path.join(os.path.dirname(dest), new)
            os.rename(dest, new_dest)
            backing[new.lower()] = new_dest
            schema = spark.table(name).schema
            spark.catalog.dropTempView(name)
            _register_backed(spark, new, new_dest, schema)
            wh = state_for(spark).warehouse
            if wh and os.path.dirname(new_dest) == os.path.normpath(wh):
                from arnab_spark.catalog import record_model, remove_model

                remove_model(wh, name)
                record_model(wh, new, "table", schema=schema)
        else:
            df = spark.table(name)
            spark.catalog.dropTempView(name)
            df.createOrReplaceTempView(new)
            state_for(spark).session_tables.discard(name.lower())
            state_for(spark).session_tables.add(new.lower())
        return ""

    rc = re.match(
        rf"(?is)^RENAME\s+(?:COLUMN\s+)?(?P<old>{_DML_IDENT})\s+TO\s+"
        rf"(?P<new>{_DML_IDENT})\s*$",
        action,
    )
    if rc is not None:
        old_c, new_c = rc.group("old").strip('"'), rc.group("new").strip('"')
        t = spark.table(name)
        if old_c.lower() not in (c.lower() for c in t.columns):
            raise ArnabError(f"ALTER TABLE {name}: column '{old_c}' does not exist")
        _dml_persist(spark, name, kind, t.withColumnRenamed(old_c, new_c))
        return ""

    ac = re.match(
        rf"(?is)^ADD\s+(?:COLUMN\s+)?(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
        rf"(?P<col>{_DML_IDENT})\s+(?P<type>.+?)\s*$",
        action,
    )
    if ac is not None:
        col = ac.group("col").strip('"')
        ctype = ac.group("type").strip()
        if _COL_CONSTRAINT.search(ctype):
            raise ArnabError(
                f"ALTER TABLE {name} ADD COLUMN: constraints/defaults are "
                "not supported — this engine's tables declare none (a "
                "DEFAULT would silently diverge on later INSERTs). Add "
                "the plain column, then UPDATE to back-fill."
            )
        t = spark.table(name)
        if col.lower() in (c.lower() for c in t.columns):
            if ac.group("ine"):
                return ""
            raise ArnabError(f"ALTER TABLE {name}: column '{col}' already exists")
        add = spark.sql(
            _transpile(
                f"SELECT *, CAST(NULL AS {ctype}) AS `{col}` FROM `{name}`", spark
            )
        )
        _dml_persist(spark, name, kind, add)
        return ""

    dc = re.match(
        rf"(?is)^DROP\s+(?:COLUMN\s+)?(?P<ife>IF\s+EXISTS\s+)?"
        rf"(?P<col>{_DML_IDENT})\s*$",
        action,
    )
    if dc is not None:
        col = dc.group("col").strip('"')
        t = spark.table(name)
        if col.lower() not in (c.lower() for c in t.columns):
            if dc.group("ife"):
                return ""
            raise ArnabError(f"ALTER TABLE {name}: column '{col}' does not exist")
        if len(t.columns) == 1:
            raise ArnabError(
                f"ALTER TABLE {name}: cannot drop the only column (DuckDB parity)"
            )
        _dml_persist(spark, name, kind, t.drop(col))
        return ""

    at = re.match(
        rf"(?is)^ALTER\s+(?:COLUMN\s+)?(?P<col>{_DML_IDENT})\s+"
        rf"(?:SET\s+DATA\s+)?TYPE\s+(?P<type>.+?)"
        rf"(?:\s+USING\s+(?P<using>.+?))?\s*$",
        action,
    )
    if at is not None:
        col = at.group("col").strip('"')
        ctype = at.group("type").strip()
        t = spark.table(name)
        if col.lower() not in (c.lower() for c in t.columns):
            raise ArnabError(f"ALTER TABLE {name}: column '{col}' does not exist")
        expr = at.group("using") or f"`{col}`"
        sel = [
            f"CAST(({expr}) AS {ctype}) AS `{c}`" if c.lower() == col.lower()
            else f"`{c}`"
            for c in t.columns
        ]
        altered = spark.sql(
            _transpile(
                f"SELECT {', '.join(sel)} FROM `{name}`", spark
            )
        )
        _dml_persist(spark, name, kind, altered)
        return ""

    raise ArnabError(
        f"ALTER TABLE {name}: unsupported action {action[:60]!r} — "
        "supported: RENAME TO, RENAME COLUMN, ADD COLUMN, DROP COLUMN, "
        "ALTER COLUMN TYPE [USING expr]"
    )


_COPY_FROM_DML = re.compile(
    rf"(?is)^\s*COPY\s+(?P<target>{_DML_QUAL})\s*"
    rf"(?:\((?P<cols>[^)]*)\)\s*)?FROM\s+'(?P<path>[^']+)'\s*"
    rf"(?:\((?P<opts>.*)\)\s*)?;?\s*$"
)


def _rewrite_copy_from(sql: str, spark):
    """``COPY <table> [(cols)] FROM '<file>' (options)`` — DuckDB's
    bulk load, the mirror of the COPY … TO export pass. The file is
    read (parquet / csv / json — FORMAT option or extension sniff,
    globs work), aligned onto the target with INSERT's positional /
    column-list rules (probed: DuckDB binds COPY FROM positionally,
    a column list maps file columns onto the LISTED columns and
    NULL-fills the rest), cast per target column type (CSV reads as
    strings and casts, DuckDB's parse-per-target-type behavior), and
    appended through the same persist path as INSERT."""
    m = _COPY_FROM_DML.match(sql)
    if m is None or spark is None:
        return None
    name, kind = _dml_resolve(spark, m.group("target"))
    if kind is None:
        return None
    path = _resolve_path(m.group("path"))
    fmt, header, delim = None, False, ","
    if m.group("opts"):
        for opt in lexer.split_top_level(m.group("opts")):
            om = re.match(
                r"(?is)^\s*(\w+)\s*(?:\s+|\s*)?('[^']*'|\S+)?\s*$", opt.strip()
            )
            key = (om.group(1) if om else opt).strip().lower()
            val = (om.group(2) or "").strip().strip("'").lower() if om else ""
            if key == "format":
                fmt = val
            elif key == "header":
                header = val in ("", "1", "true")
            elif key in ("delim", "delimiter", "sep"):
                delim = (om.group(2) or ",").strip().strip("'")
            else:
                raise ArnabError(
                    f"COPY {name} FROM: unsupported option {opt.strip()!r} "
                    "(supported: FORMAT, HEADER, DELIM[ITER])"
                )
    if fmt is None:
        low = path.lower()
        fmt = (
            "parquet"
            if ".parquet" in low
            else "json" if ".json" in low or ".ndjson" in low else "csv"
        )
    if fmt == "parquet":
        new = spark.read.parquet(path)
    elif fmt == "json":
        new = spark.read.json(path)
    elif fmt == "csv":
        # no inferSchema: every field reads as string and the align
        # below casts to the target column's type — DuckDB's own
        # parse-per-target-type contract
        new = spark.read.csv(path, header=header, sep=delim)
    else:
        raise ArnabError(
            f"COPY {name} FROM: unsupported FORMAT '{fmt}' "
            "(parquet, csv, json)"
        )
    cols = None
    if m.group("cols"):
        cols = [c.strip().strip('"') for c in lexer.split_top_level(m.group("cols"))]
    target = spark.table(name)
    aligned = _dml_align(new, target.schema.fields, cols, by_name=False)
    if kind == "backed":
        # appended through the same O(batch) part-file path as INSERT —
        # a bulk load must never rewrite the table it loads into
        _dml_append(spark, name, aligned)
    else:
        _dml_persist(spark, name, kind, target.unionByName(aligned))
    return ""


_EXPORT_DB_DML = re.compile(
    r"(?is)^\s*EXPORT\s+DATABASE\s+'(?P<dir>[^']+)'\s*"
    r"(?:\((?P<opts>.*)\)\s*)?;?\s*$"
)
_IMPORT_DB_DML = re.compile(
    r"(?is)^\s*IMPORT\s+DATABASE\s+'(?P<dir>[^']+)'\s*;?\s*$"
)

#: Spark → DuckDB type names for EXPORT DATABASE's schema.sql
_EXPORT_TYPES = {
    "tinyint": "TINYINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BLOB",
}


def _export_type(dt) -> str:
    s = dt.simpleString()
    if s in _EXPORT_TYPES:
        return _EXPORT_TYPES[s]
    dm = re.match(r"^decimal\((\d+),(\d+)\)$", s)
    if dm:
        return f"DECIMAL({dm.group(1)},{dm.group(2)})"
    am = re.match(r"^array<(.+)>$", s)
    if am and am.group(1) in _EXPORT_TYPES:
        return f"{_EXPORT_TYPES[am.group(1)]}[]"
    raise ArnabError(
        f"EXPORT DATABASE: no DuckDB schema spelling for column type "
        f"'{s}' (struct/map/nested-array columns are not exportable)"
    )


def _rewrite_export_import_db(sql: str, spark):
    """``EXPORT DATABASE 'dir' (FORMAT PARQUET|CSV)`` writes DuckDB's
    own export layout — schema.sql (CREATE TABLE column lists +
    CREATE VIEW statements), load.sql (one COPY … FROM per table), and
    per-table data — so the dir round-trips through IMPORT DATABASE
    here AND loads into a real DuckDB (data paths are written as
    ``<dir>/<t>.parquet/*.parquet`` globs both engines read; view SQL
    is stored post-transpile, i.e. engine-dialect — noted in
    schema.sql). ``IMPORT DATABASE 'dir'`` executes schema.sql +
    load.sql through the statement pipeline, which also imports a dir
    exported by a REAL DuckDB (its CREATE TABLE / COPY FROM statements
    are exactly the lifted shapes)."""
    if spark is None:
        return None
    im = _IMPORT_DB_DML.match(sql)
    if im is not None:
        from arnab_spark.node import run_script

        d = _resolve_path(im.group("dir"))
        for script in ("schema.sql", "load.sql"):
            p = os.path.join(d, script)
            if not os.path.isfile(p):
                raise ArnabError(f"IMPORT DATABASE: missing {p}")
            with open(p, encoding="utf-8") as fh:
                run_script(spark, fh.read())
        return ""

    em = _EXPORT_DB_DML.match(sql)
    if em is None:
        return None

    d = _resolve_path(em.group("dir"))
    fmt = "csv"  # DuckDB's default export format
    if em.group("opts"):
        fm = re.search(r"(?i)FORMAT\s+'?(\w+)'?", em.group("opts"))
        if fm:
            fmt = fm.group(1).lower()
    if fmt not in ("parquet", "csv"):
        raise ArnabError(f"EXPORT DATABASE: unsupported FORMAT '{fmt}'")
    os.makedirs(d, exist_ok=True)
    state = state_for(spark)
    backing = state.backing
    tables = sorted(set(backing) | state.session_tables)
    schema_lines, load_lines = [], []
    for t in tables:
        # a backing entry can outlive its view or backing dir (a
        # previous pipeline's since-deleted warehouse); a dead entry
        # is not a table this session can read, so skip it loudly
        # rather than crash the export of the live ones
        dead = t in backing and not os.path.isdir(backing[t])
        if not dead:
            try:
                df = spark.table(t)
                df.schema
            except Exception:
                dead = True
        if dead:
            import sys as _sys

            print(
                f"warning: EXPORT DATABASE skipping '{t}' — registered "
                "but not resolvable in this session",
                file=_sys.stderr,
            )
            continue
        cols = ", ".join(
            f'"{f.name}" {_export_type(f.dataType)}' for f in df.schema.fields
        )
        schema_lines.append(f"CREATE TABLE {t}({cols});")
        data = os.path.join(d, f"{t}.{fmt}")
        if fmt == "parquet":
            df.write.mode("overwrite").parquet(data)
            load_lines.append(
                f"COPY {t} FROM '{data}/*.parquet' (FORMAT 'parquet');"
            )
        else:
            df.write.mode("overwrite").option("header", True).csv(data)
            load_lines.append(
                f"COPY {t} FROM '{data}/*.csv' (FORMAT 'csv', HEADER 1);"
            )
    wh = state_for(spark).warehouse
    if wh is not None:
        from arnab_spark.catalog import load_catalog

        view_lines = [
            f"CREATE VIEW {vid} AS {entry['select']};"
            for vid, entry in load_catalog(wh).items()
            if entry.get("materialize") == "view" and entry.get("select")
        ]
        # no inline comment markers: statement splitting would glue a
        # comment onto the next statement and defeat the anchored
        # CREATE VIEW lift on import (found by the round-trip test);
        # the engine-dialect caveat lives in this function's docstring
        schema_lines.extend(view_lines)
    with open(os.path.join(d, "schema.sql"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(schema_lines) + "\n")
    with open(os.path.join(d, "load.sql"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(load_lines) + "\n")
    return ""


def _rewrite_dml(sql: str, spark):
    """Statement-shape handler for INSERT/DELETE/UPDATE/TRUNCATE.
    Returns None when the statement is not DML this handler owns or
    there is no session (the text passes then apply — in particular a
    native catalog-table INSERT still gets its body's dialect
    rewrites), or the replacement text ("" when fully consumed here)."""
    if spark is None:
        return None
    tm = _TRUNCATE_DML.match(sql)
    if tm is not None:
        name, kind = _dml_resolve(spark, tm.group("target"))
        if kind in ("backed", "tempview"):
            _dml_persist(spark, name, kind, spark.table(name).limit(0))
            return ""
        return None  # native TRUNCATE TABLE is Spark SQL

    # RETURNING (round 13 — closes a documented DML residue): DuckDB's
    # INSERT/DELETE/UPDATE … RETURNING <exprs> yields the affected rows
    # as a relation (INSERT: the rows as inserted, post-coercion;
    # DELETE: the deleted rows; UPDATE: the updated rows with their NEW
    # values). The clause is stripped here, the affected-row frame is
    # FROZEN (eager localCheckpoint) BEFORE the mutation lands — the
    # returned rows must be the batch that actually mutated, not a
    # re-evaluation against post-mutation state — and the handler
    # returns a transpiled SELECT over the frozen view, which the
    # normal statement pipeline executes as this statement's records.
    ret_clause = None
    if re.match(r"(?is)^\s*(INSERT|DELETE|UPDATE)\b", sql):
        rpos, _ = lexer.find_top_level(sql, ("returning",))
        if rpos >= 0:
            tail = sql[rpos + len("returning"):].strip().rstrip(";").strip()
            # misfire guard (round 14): a column/alias literally named
            # "returning" inside an unparenthesized INSERT … SELECT body
            # also matches the top-level scan. A genuine RETURNING
            # clause is the LAST top-level clause — an expression list —
            # so any top-level query keyword in the remainder means the
            # match is part of the statement body, not a clause.
            _NOT_EXPR_LIST = (
                "from", "where", "group", "order", "having", "qualify",
                "values", "select", "union", "intersect", "except",
                "limit", "offset", "window",
            )
            if lexer.find_top_level(tail, _NOT_EXPR_LIST)[0] < 0:
                ret_clause = tail
                sql = sql[:rpos].rstrip()
                if not ret_clause:
                    raise ArnabError("RETURNING: empty expression list")

    def _freeze_rows(rows_df) -> str:
        return _freeze_returning_rows(spark, rows_df)

    def _returning_select(view: str) -> str:
        return _transpile(f"SELECT {ret_clause} FROM {view}", spark)

    def _require_engine_table(raw_target: str, verb: str):
        # round 14 (advice): once RETURNING is stripped, a None-kind
        # fallthrough would hand the ORIGINAL statement (with the
        # RETURNING clause Spark cannot parse) back to native Spark —
        # a raw parse error instead of this engine's targeted style.
        if ret_clause is not None:
            raise ArnabError(
                f"{verb} … RETURNING: target '{raw_target}' is not an "
                "engine table (backed table or session temp table). "
                "RETURNING is supported on engine tables only — "
                "CREATE TABLE it in this session first."
            )

    # joined-DML forms (round 14 — closes r13 "What's missing #1"):
    # DuckDB's UPDATE … FROM and DELETE … USING, semantics probed on
    # live DuckDB (tests/test_dml.py differential suite):
    #   - DELETE … USING deletes every target row with >=1 match (a
    #     semi-join); RETURNING yields ONE ROW PER MATCH (a 2-way
    #     fan-out returns the deleted row twice);
    #   - UPDATE … FROM updates matched rows; on fan-out the winning
    #     source row is SCAN-ORDER-ARBITRARY (probed: reversing the
    #     source's insert order flips the winner), while RETURNING
    #     yields one row per match with that match's NEW values;
    #   - assignment coercion is DuckDB's (float→int ROUNDS, probed
    #     2.6→3: _cast_like_duck);
    #   - the FROM/USING text is an arbitrary relation list (tables,
    #     subqueries, comma joins) — embedded verbatim in the probe
    #     join here, so all of DuckDB's FROM shapes work.
    if re.match(r"(?is)^\s*UPDATE\b", sql) and lexer.find_top_level(sql, ("from",))[0] >= 0:
        return _rewrite_update_from(sql, ret_clause, spark, _returning_select)
    if re.match(r"(?is)^\s*DELETE\s+FROM\b", sql) and lexer.find_top_level(sql, ("using",))[0] >= 0:
        return _rewrite_delete_using(sql, ret_clause, spark, _returning_select)

    dm = _DELETE_DML.match(sql)
    if dm is not None:
        name, kind = _dml_resolve(spark, dm.group("target"))
        if kind is None:
            _require_engine_table(dm.group("target"), "DELETE")
            return None
        pred = dm.group("pred")
        # target alias: the relation is exposed under ONLY the alias,
        # hiding the base name — DuckDB's probed binding rule
        rel = f"`{name}`" + (
            f" AS `{dm.group('alias').strip(chr(34))}`" if dm.group("alias") else ""
        )
        ret_view = None
        if ret_clause is not None:
            # the deleted rows, frozen PRE-mutation
            dcond = f"coalesce(({pred}), false)" if pred else "true"
            ret_view = _freeze_rows(
                spark.sql(
                    _transpile(
                        f"SELECT * FROM {rel} WHERE {dcond}", spark
                    )
                )
            )
        if kind == "backed" and pred:
            # copy-on-write fast path: rewrite only the hive partitions
            # the predicate touches (falls through on flat layouts /
            # NULL partition values)
            pcols = _hive_partition_cols(state_for(spark).backing[name.lower()])
            if pcols and _dml_pruned_rewrite(spark, name, pcols, pred, rel):
                return _returning_select(ret_view) if ret_view else ""
        # DuckDB deletes rows where the predicate is TRUE; NULL keeps
        cond = f"NOT coalesce(({pred}), false)" if pred else "false"
        kept = spark.sql(
            _transpile(f"SELECT * FROM {rel} WHERE {cond}", spark)
        )
        _dml_persist(spark, name, kind, kept)
        return _returning_select(ret_view) if ret_view else ""

    um = _UPDATE_DML.match(sql)
    if um is not None:
        name, kind = _dml_resolve(spark, um.group("target"))
        if kind is None:
            _require_engine_table(um.group("target"), "UPDATE")
            return None
        rest = um.group("rest")
        widx, _ = lexer.find_top_level(rest, ("where",))
        assigns_text = rest[:widx] if widx >= 0 else rest
        pred = rest[widx + len("where"):].strip() if widx >= 0 else None
        fields = spark.table(name).schema.fields
        types = {f.name.lower(): f.dataType.simpleString() for f in fields}
        assigns = _parse_assignments(assigns_text, types, name)
        cond = f"coalesce(({pred}), false)" if pred else "true"
        # evaluate the predicate + every assignment expression FIRST
        # (so their analyzed types are known), then apply DuckDB's
        # assignment coercion per column — float→integral assignment
        # ROUNDS in DuckDB where a plain Spark CAST would truncate
        from pyspark.sql import functions as F

        keys = list(assigns)
        helper_items = [f"({cond}) AS __arnab_upd"] + [
            f"({assigns[k]}) AS __arnab_e_{i}" for i, k in enumerate(keys)
        ]
        # target alias: expose the relation under ONLY the alias
        # (DuckDB's probed binding rule — the base name is hidden)
        rel = f"`{name}`" + (
            f" AS `{um.group('alias').strip(chr(34))}`" if um.group("alias") else ""
        )
        raw = spark.sql(
            _transpile(
                f"SELECT {', '.join(helper_items)}, * FROM {rel}", spark
            )
        )
        rawtypes = {f2.name: f2.dataType.simpleString() for f2 in raw.schema.fields}
        sel = []
        for f in fields:
            if f.name.lower() in assigns:
                i = keys.index(f.name.lower())
                newv = _cast_like_duck(
                    F.col(f"__arnab_e_{i}"),
                    rawtypes[f"__arnab_e_{i}"],
                    types[f.name.lower()],
                )
                sel.append(
                    F.when(F.col("__arnab_upd"), newv)
                    .otherwise(F.col(f.name).cast(types[f.name.lower()]))
                    .alias(f.name)
                )
            else:
                sel.append(F.col(f.name))
        ret_view = None
        if ret_clause is not None:
            # the updated rows with their NEW values, frozen PRE-mutation
            ret_view = _freeze_rows(raw.filter(F.col("__arnab_upd")).select(*sel))
        if kind == "backed" and pred:
            # copy-on-write fast path: rewrite only the hive partitions
            # holding rows the predicate updates — unless an assignment
            # targets a partition column (rows would move between
            # partitions, stranding stale copies under dynamic
            # overwrite: that shape takes the full swap)
            dest = state_for(spark).backing[name.lower()]
            pcols = _hive_partition_cols(dest)
            if pcols and not (set(assigns) & {c.lower() for c in pcols}):
                touched = (
                    raw.filter(F.col("__arnab_upd"))
                    .select(*pcols)
                    .distinct()
                    .collect()
                )
                if not touched:
                    # predicate matches nothing: no-op (RETURNING on a
                    # no-op yields the frozen empty set)
                    return _returning_select(ret_view) if ret_view else ""
                if not any(r[c] is None for r in touched for c in pcols):
                    updated = (
                        raw.filter(_touched_filter(touched, pcols))
                        .select(*sel)
                        .localCheckpoint(eager=True)
                    )
                    _overwrite_touched_partitions(
                        spark, name, dest, pcols, (), updated
                    )
                    return _returning_select(ret_view) if ret_view else ""
        _dml_persist(spark, name, kind, raw.select(*sel))
        return _returning_select(ret_view) if ret_view else ""

    im = _INSERT_DML.match(sql)
    if im is not None:
        name, kind = _dml_resolve(spark, im.group("target"))
        if kind is None or kind == "native":
            _require_engine_table(im.group("target"), "INSERT")
            return None  # Spark's own INSERT INTO handles catalog tables
        if im.group("conflict"):
            raise ArnabError(
                f"INSERT OR {im.group('conflict').upper()} needs a PRIMARY "
                "KEY, which this engine's tables do not declare. Express "
                "the upsert as a left-anti join + union (see the "
                "incremental materialization) or a row_number window."
            )
        rest = im.group("rest").lstrip()
        if lexer.find_top_level(rest, ("conflict",))[0] >= 0:
            raise ArnabError(
                "INSERT … ON CONFLICT needs key constraints, which this "
                "engine's tables do not declare. Express the upsert as a "
                "left-anti join + union (see the incremental "
                "materialization) or a row_number window."
            )
        cols = None
        if rest.startswith("("):
            j = lexer.group_end(rest, 0)
            if j is None:
                raise ArnabError(f"INSERT INTO {name}: unclosed column list")
            cols = [
                c.strip().strip('"')
                for c in lexer.split_top_level(rest[1 : j - 1])
            ]
            rest = rest[j:].lstrip()
        by_name = False
        bn = re.match(r"(?is)^BY\s+NAME\b", rest)
        if bn is not None:
            by_name = True
            rest = rest[bn.end():].lstrip()
        if re.match(r"(?is)^DEFAULT\s+VALUES\b", rest):
            raise ArnabError(
                "INSERT … DEFAULT VALUES is not supported: this engine's "
                "tables declare no column defaults. Insert explicit NULLs."
            )
        if re.match(r"(?is)^VALUES\b", rest):
            body_sql = f"SELECT * FROM ({rest})"
        elif re.match(r"(?is)^(SELECT|WITH|FROM)\b", rest):
            body_sql = rest
        else:
            raise ArnabError(
                f"INSERT INTO {name}: unsupported source {rest[:40]!r} — "
                "expected VALUES, SELECT, WITH, or FROM"
            )
        target = spark.table(name)
        new = spark.sql(_transpile(body_sql, spark))
        aligned = _dml_align(new, target.schema.fields, cols, by_name)
        ret_view = None
        if ret_clause is not None:
            # freeze the batch so the mutation and the RETURNING rows
            # are the SAME evaluation (a nondeterministic SELECT body
            # must not run twice)
            ret_view = _freeze_rows(aligned)
            aligned = spark.table(ret_view)
        if kind == "backed":
            # O(batch) append — never a table rewrite (100 TB design
            # point: an INSERT's cost must scale with the batch)
            _dml_append(spark, name, aligned)
        else:
            _dml_persist(spark, name, kind, target.unionByName(aligned))
        return _returning_select(ret_view) if ret_view else ""

    return None

