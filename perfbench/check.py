"""Output checks against DuckDB, run outside the timed region.

Every comparison uses ``arnab_spark.oracle``'s exact comparison (row
count, column names, order-insensitive values) and counts as one
attempted operation; a mismatch or an exception counts as one failure.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from graphlib import TopologicalSorter

import duckdb

from arnab_spark.node import Node
from arnab_spark.oracle import compare_frames, duckdb_connection

#: event_analytics table models and the registry query each one twins
TWINS = {
    "funnel_stages": "events_funnel",
    "ohlc_hourly": "time_resample_ohlc",
    "retention_cohorts": "orders_retention_cohort",
    "bm25_topk": "text_bm25_topk",
}


def _oracle_con(inputs: str) -> duckdb.DuckDBPyConnection:
    con = duckdb_connection(inputs)
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    return con


def _collect(frames: dict) -> dict:
    """``toPandas`` of each DataFrame (or the exception building it
    raised), several at once: Spark runs concurrent jobs."""

    def one(df):
        if isinstance(df, Exception):
            return df
        try:
            return df.toPandas()
        except Exception as exc:  # noqa: BLE001 - reported by the caller
            return exc

    with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        futures = {k: pool.submit(one, df) for k, df in frames.items()}
    return {k: f.result() for k, f in futures.items()}


def _build(fn):
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 - reported by the caller
        return exc


def check_registry(spark, inputs: str, queries: dict, tally, corrupt=None) -> None:
    """Each registry query against its ``oracle_sql``."""
    results = _collect({n: _build(lambda q=q: q.fn(spark, inputs)) for n, q in queries.items()})
    con = _oracle_con(inputs)
    try:
        for name, q in queries.items():
            got = results[name]
            if isinstance(got, Exception):
                tally.record(name, False, repr(got))
                continue
            if corrupt is not None:
                got = corrupt(got)
            try:
                exp = con.execute(q.oracle).fetchdf()
            except duckdb.Error as exc:
                tally.record(name, False, repr(exc))
                continue
            res = compare_frames(name, got, exp)
            tally.record(name, res.ok, str(res))
    finally:
        con.close()


def _run_in_duckdb(con, node: Node):
    """Run a model's statements in DuckDB verbatim; returns the record
    statement's frame, or raises ``duckdb.Error`` if DuckDB rejects any."""
    frame = None
    for stmt in Node.split_statements(node.rendered_src):
        if Node.will_produce_records(stmt):
            frame = con.execute(stmt).fetchdf()
        else:
            con.execute(stmt)
    return frame


def check_project(sess, inputs: str, registry: dict, tally, corrupt=None) -> None:
    """Every model of one finished ``Session`` run.

    Twinned event_analytics models compare against their registry
    query's oracle. Every other model DuckDB accepts verbatim compares
    against its own SQL, with upstream models materialized in DuckDB
    from DuckDB's own results (or from Spark's, for a model DuckDB
    rejects, which then counts as unchecked)."""
    order = list(TopologicalSorter(
        {nid: sorted(n.prevs) for nid, n in sess.nodes.items()}).static_order())
    results = _collect({mid: _build(lambda mid=mid: sess.spark.table(mid)) for mid in order})
    con = _oracle_con(inputs)
    try:
        for mid in order:
            node = sess.nodes[mid]
            label = f"{sess.config.models_dir}:{mid}"
            got = results[mid]
            if isinstance(got, Exception):
                tally.record(label, False, repr(got))
                continue
            if corrupt is not None:
                got = corrupt(got)
            try:
                exp = _run_in_duckdb(con, node)
            except duckdb.Error:
                exp = None
            if mid in TWINS:
                try:
                    twin = con.execute(registry[TWINS[mid]].oracle).fetchdf()
                except duckdb.Error as exc:
                    tally.record(label, False, repr(exc))
                else:
                    res = compare_frames(label, got, twin)
                    tally.record(label, res.ok, str(res))
            elif exp is not None:
                res = compare_frames(label, got, exp)
                tally.record(label, res.ok, str(res))
            else:
                tally.unchecked.append(mid)
            # downstream models read this one from DuckDB
            src = exp if exp is not None else got
            con.register("__bench_src", src)
            con.execute(f"CREATE OR REPLACE TABLE {mid} AS SELECT * FROM __bench_src")
            con.unregister("__bench_src")
    finally:
        con.close()
