"""Spans around the program's layer entry points, for the traced run.

Each wrapper records ``(name, start, end, parent, pass_id)`` in memory;
:meth:`Tracer.write` dumps them when the benchmark ends. A span's self
time is its duration minus the time its child spans cover. Spark's
execution counters come from the application status store, which is
populated with the UI off.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int


class Tracer:
    """Patches layer entry points while a traced pass runs."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], int] = defaultdict(int)
        self.pass_id = 0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span under the current one."""
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.pass_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: int = 1) -> None:
        self.counts[(self.pass_id, key)] += n

    def _parent_name(self) -> str | None:
        return self.spans[self._stack[-1]].name if self._stack else None

    # -- patching ----------------------------------------------------

    def _wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``name`` is a
        span name or a callable choosing it from the parent span name."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(tracer._parent_name()) if callable(name) else name
            with tracer.span(label):
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(label, result)
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every layer entry point, where ``node`` and the classic
        PySpark classes bind them."""
        from pyspark.sql import readwriter, session
        from pyspark.sql.classic import dataframe

        import arnab_spark.catalog as catalog
        import arnab_spark.node as node
        import arnab_spark.session as sess

        self._wrap(sess.Session, "__init__", "session.init")
        self._wrap(sess.Session, "run", "session.run")
        self._wrap(sess.Session, "build_graph", "session.build_graph",
                   lambda _, order: self.count("session.models", len(order)))
        self._wrap(node.Node, "render", "node.render")
        self._wrap(node.Node, "execute", "node.execute")
        self._wrap(node.Node, "_write_table", "node.write")
        self._wrap(node.Node, "_write_incremental", "node.merge")
        self._wrap(node, "transpile_statement", "dialect.transpile",
                   lambda *_: self.count("dialect.statements"))
        self._wrap(node, "get_sql_references", "depparse.refs")
        self._wrap(catalog, "attach_warehouse", "catalog.attach",
                   lambda _, ids: self.count("catalog.attached", len(ids)))
        self._wrap(catalog, "record_model", "catalog.record")
        self._wrap(catalog, "record_macros", "catalog.record")
        self._wrap(session.SparkSession, "sql", "sql.analyze",
                   lambda *_: self.count("sql.calls"))
        # the row-count readback is the count() Node.execute makes itself
        self._wrap(dataframe.DataFrame, "count",
                   lambda parent: "node.readback" if parent == "node.execute" else "exec.count")
        self._wrap(readwriter.DataFrameWriter, "parquet", "exec.write")
        self._wrap(readwriter.DataFrameWriter, "save", "exec.write")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- reduction ---------------------------------------------------

    def pass_spans(self, pass_id: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.pass_id == pass_id]

    def inclusive(self, pass_id: int) -> dict[str, float]:
        """Seconds per span name, counting only the outermost span of a
        name (a nested span of the same name is already inside it)."""
        out: dict[str, float] = defaultdict(float)
        for i, s in self.pass_spans(pass_id):
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].name == s.name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out[s.name] += s.end - s.start
        return out

    def calls(self, pass_id: int) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for _, s in self.pass_spans(pass_id):
            out[s.name] += 1
        return out

    def self_times(self, pass_id: int) -> dict[str, float]:
        """Self seconds per span name: duration minus children."""
        spans = self.pass_spans(pass_id)
        child: dict[int, float] = defaultdict(float)
        for _, s in spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in spans:
            out[s.name] += (s.end - s.start) - child[i]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({
                **extra,
                "spans": [[s.name, s.start, s.end, s.parent, s.pass_id] for s in self.spans],
                "counts": {f"{p}:{k}": v for (p, k), v in self.counts.items()},
            }, f)


def module_table(self_times: dict[str, float], wall: float) -> list[tuple[str, float, float]]:
    """``(module, self seconds, share of wall)`` rows, largest first,
    with the time no span covers as ``(unattributed)``."""
    by_mod: dict[str, float] = defaultdict(float)
    for name, t in self_times.items():
        by_mod[name.split(".")[0]] += t
    rows = sorted(by_mod.items(), key=lambda kv: -kv[1])
    rest = wall - sum(by_mod.values())
    rows.append(("(unattributed)", rest))
    return [(m, t, t / wall if wall else 0.0) for m, t in rows]


class StageCounter:
    """Jobs, stages, tasks, CPU, shuffle and spill since the last call,
    read from Spark's status store. The store is filled from the
    asynchronous listener bus, so each read waits for the bus to drain."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._bus = self._sc._jsc.sc().listenerBus()
        self._store = self._sc._jsc.sc().statusStore()
        self._conv = self._sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        self._bus.waitUntilEmpty()
        self._last_job = self._max_job()
        self._last_stage = max((s[0] for s in self._stages()), default=-1)

    def _max_job(self) -> int:
        jobs = self._conv.asJava(self._store.jobsList(None))
        return max((j.jobId() for j in jobs), default=-1)

    def _stages(self):
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        for s in self._conv.asJava(seq):
            yield (s.stageId(), s.numCompleteTasks(), s.executorCpuTime(),
                   s.shuffleWriteBytes(), s.diskBytesSpilled())

    def delta(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        jobs = self._conv.asJava(self._store.jobsList(None))
        new_jobs = [j.jobId() for j in jobs if j.jobId() > self._last_job]
        stages = [s for s in self._stages() if s[0] > self._last_stage]
        out = {
            "exec.jobs": len(new_jobs),
            "exec.stages": len(stages),
            "exec.tasks": sum(s[1] for s in stages),
            "exec.task_cpu_s": sum(s[2] for s in stages) / 1e9,
            "exec.shuffle_bytes": sum(s[3] for s in stages),
            "exec.spill_bytes": sum(s[4] for s in stages),
        }
        self._last_job = max(new_jobs, default=self._last_job)
        self._last_stage = max((s[0] for s in stages), default=self._last_stage)
        return out
