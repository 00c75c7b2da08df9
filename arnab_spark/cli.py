"""Command-line interface (reference: src/main.rs:13-49,157-185).

Subcommands mirror the reference CLI:

- ``run``                 — build the model DAG and execute it
- ``run-file a.sql …``    — execute raw SQL scripts, no DAG/no wrapping
  (reference: main.rs:158-178)
- ``viz out.svg``         — render the model DAG to SVG

Root flags: ``-m/--models-dir``, ``-d/--db-path`` (reference:
main.rs:41-49); extras: ``--strict`` (nonzero exit on model errors) and
``--master`` (Spark master, default local[*]).
"""

from __future__ import annotations

import argparse
import sys

from arnab_spark._dialect_base import state_for
from arnab_spark.config import load_config
from arnab_spark.errors import ArnabError
from arnab_spark.node import run_script
from arnab_spark.session import Session
from arnab_spark.viz import save_visualization


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="arnab-spark",
        description="SQL pipeline orchestrator on Apache Spark "
        "(PySpark-native rebuild of arnab)",
    )
    p.add_argument("-m", "--models-dir", default=None)
    p.add_argument("-d", "--db-path", default=None, help="warehouse dir for table models")
    p.add_argument("--strict", action="store_true", help="exit nonzero on model errors")
    p.add_argument("--master", default=None, help="Spark master (default local[*])")
    sub = p.add_subparsers(dest="command", required=True)
    sub.add_parser("run", help="run the model pipeline")
    rf = sub.add_parser("run-file", help="execute raw SQL script files")
    rf.add_argument("paths", nargs="+")
    viz = sub.add_parser("viz", help="render the model DAG to SVG")
    viz.add_argument("output")
    return p


def _get_spark(master: str | None):
    import re

    from arnab_spark.spark_utils import get_spark

    # bare "8" / "*" means local[N]; anything else (local[4],
    # spark://host:7077, yarn) is a full master URL passed through
    if master and not re.fullmatch(r"\d+|\*", master):
        return get_spark("arnab_spark_cli", master_url=master)
    return get_spark("arnab_spark_cli", cpus=master or "*")


def cmd_run(args) -> int:
    cfg = load_config(".", args.models_dir, args.db_path)
    if args.strict:
        cfg.strict = True
    spark = _get_spark(args.master)
    try:
        report = Session(cfg, spark).run()
    except ArnabError as exc:  # graph-build errors are fatal (main.rs:92-106)
        print(f"error: {exc}", file=sys.stderr)
        return 1
    return 1 if (cfg.strict and not report.ok) else 0


def cmd_run_file(args) -> int:
    """Per-file batch execution, per-file OK/ERROR report — execution
    errors do not abort the remaining files (reference: main.rs:158-178).
    The warehouse catalog attaches first, so scripts can query models a
    previous ``run`` materialized (the reference gets this by opening
    the DuckDB file before dispatch, main.rs:126-132)."""
    cfg = load_config(".", args.models_dir, args.db_path)
    spark = _get_spark(args.master)
    # engine settings + warehouse attach happen at "connection open",
    # before dispatch — exactly when the reference applies its SET loop
    # and opens the DuckDB file (main.rs:126-155), so run-file scripts
    # see both. Session opens the connection the same way for ``run``.
    try:
        Session(cfg, spark)
    except ArnabError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    rc = 0
    for path in args.paths:
        try:
            with open(path, encoding="utf-8") as f:
                run_script(spark, f.read())
            print(f"{path}: OK")
        except Exception as exc:
            print(f"{path}: ERROR {exc}")
            rc = 1 if args.strict else rc
    if cfg.db_path:
        from arnab_spark.catalog import record_macros
        state = state_for(spark)
        record_macros(cfg.db_path, state.macros, state.dropped_macros)
    # CLI exit path: reap the final RETURNING view so a completed
    # run-file leaves no __arnab_returning_* temp view behind (round 15)
    from arnab_spark._dialect_dml import reap_returning_view

    reap_returning_view(spark)
    return rc


def cmd_viz(args) -> int:
    cfg = load_config(".", args.models_dir, args.db_path)
    # graph build parses SQL but never executes it (reference §3.3),
    # so no SparkSession is started for viz.
    session = Session(cfg)
    try:
        out = save_visualization(session, args.output)
    except ArnabError as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    print(f"wrote {out}")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    return {"run": cmd_run, "run-file": cmd_run_file, "viz": cmd_viz}[args.command](args)


if __name__ == "__main__":
    raise SystemExit(main())
