"""Benchmark of arnab_spark's model-DAG runs and registry queries.

One process, one closed-loop client on ``local[nproc]``. It calls the
program's public entry points: ``Session(load_config(dir), spark).run()``
for model DAGs and ``all_queries()[name].fn(spark, dir)`` with a noop
sink for registry queries. Outputs are checked against DuckDB after the
timed region. The last line of stdout is one JSON object::

    python3 perfbench/run.py --workload dag_tiny --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
entry points in spans, alternates traced and untraced passes and
reports the per-layer metrics, writing the spans and a per-module
self-time table under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import inputs  # noqa: E402  (benchmark-local module)

WORKLOADS = ("dag_tiny", "registry")
TINY_PROJECTS = ("basic", "corpus_prep", "duckdb_dialect", "event_analytics")
#: no example model is incremental; this one is, so every warm pass
#: merges the event stream into its materialization
TINY_MODELS = {
    "event_analytics": {"source_events": {"materialize": "incremental", "unique_key": "event_id"}},
}
#: untimed passes after the first. Passes keep getting faster for six or
#: more on both workloads (dag_tiny about 12 -> 9.5 s on 4 cores, the
#: registry about 10 % a pass), past what a run can afford; the registry
#: skips its second, the slowest after the first.
WARMUP_PASSES = {"dag_tiny": 0, "registry": 1}
#: steady passes a run times even if they outlast ``--seconds``. With
#: the 5 s of BENCHMARK.json every run times exactly this many, so a
#: fast run does not report later, warmer passes than a slow one.
MIN_PASSES = 2

END_TO_END = {"setup_s": "s", "first_run_s": "s", "run_s": "s"}
HEADLINE = (
    "agg_pricing_summary", "asof_join", "dedup_exact", "dedup_minhash_lsh",
    "join_star_revenue", "knn_cosine_brute", "sessionize_gaps", "text_token_count",
)
PER_LAYER = {
    "session.build_graph_s": "s", "session.models": "count",
    "node.render_s": "s", "node.readback_s": "s", "node.readback_jobs": "count",
    "node.write_s": "s", "node.merge_s": "s", "node.bytes_written": "bytes",
    "node.files_written": "count", "node.write_amp": "ratio",
    "depparse.refs_s": "s",
    "dialect.transpile_s": "s", "dialect.statements": "count", "dialect.ms_per_stmt": "ms",
    "catalog.attach_s": "s", "catalog.attached": "count", "catalog.attach_failed": "count",
    "catalog.record_s": "s",
    "sql.analyze_s": "s", "sql.calls": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_s": "s", "exec.shuffle_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.action_s": "s",
    **{f"queries.{q}_s": "s" for q in HEADLINE},
    "queries.build_s": "s",
    "spark_utils.get_spark_s": "s",
    "trace.run_s": "s", "trace.overhead_s": "s", "trace.unattributed_frac": "ratio",
    # Run-level figures kept out of END_TO_END: fail_frac is 0 on a
    # correct program, and the JVM's resident size swings with G1's heap
    # sizing by about 30 % (quartile spread over seeds) from one run to
    # the next. Both also go in every run's context line.
    "fail_frac": "ratio", "peak_rss_mb": "MB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def context() -> dict:
    return {"loadavg": list(os.getloadavg()), "time": time.time()}


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_hwm(pid) -> None:
    """Reset the process's peak resident size to its current one."""
    with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
        f.write("5")


# -- inputs ----------------------------------------------------------


def prepare(workload: str, seed: int, work: str, size: str | None = None) -> dict:
    """Generate the workload's inputs and project copies under ``work``."""
    data = os.path.join(work, "inputs")
    if workload == "registry":
        nbytes = inputs.write_inputs(seed, size or "sf0.1", data)
        return {"inputs": data, "projects": [], "input_bytes": nbytes}
    nbytes = inputs.write_inputs(seed, size or "sf0.001", data)
    projects = [
        inputs.copy_project(os.path.join(ROOT, "examples", n), os.path.join(work, n), data,
                            TINY_MODELS.get(n))
        for n in TINY_PROJECTS
    ]
    return {"inputs": data, "projects": projects, "input_bytes": nbytes}


# -- passes ----------------------------------------------------------


class Tally:
    """Operations attempted and failed across the run: models, queries
    and output checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.unchecked: list[str] = []

    def record(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[check] MISMATCH {label}: {detail}", file=sys.stderr)


def dag_pass(spark, projects, tally: Tally):
    """One ``Session.run`` per project, each in a fresh ``newSession``.
    Returns the finished sessions (for the output check) and the count
    of models the warehouse could not reattach."""
    from arnab_spark.config import load_config
    from arnab_spark.session import Session

    sessions, reattach_warnings = [], 0
    for proj in projects:
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            sess = Session(load_config(proj), spark.newSession())
            report = sess.run(quiet=True)
        text = out.getvalue()
        if text:
            sys.stderr.write(text)
        reattach_warnings += text.count("warning: could not attach")
        tally.attempted += len(sess.nodes)
        tally.failed += len(report.errors)
        for mid, exc in report.errors.items():
            print(f"[run] model {proj}:{mid} failed: {exc}", file=sys.stderr)
        sessions.append(sess)
    return sessions, reattach_warnings


def registry_pass(spark, data, queries, tally: Tally, tracer=None):
    span = tracer.span if tracer else (lambda _name: contextlib.nullcontext())
    for name, q in queries.items():
        tally.attempted += 1
        try:
            with span(f"queries.{name}"):
                with span("queries.build"):
                    df = q.fn(spark, data)
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - counted, the pass goes on
            tally.failed += 1
            print(f"[run] query {name} failed: {exc!r}", file=sys.stderr)
    return [], 0


def written_since(projects, since: float) -> tuple[int, int]:
    """Data files (and their bytes) written into the warehouses since
    ``since`` (wall clock)."""
    files = nbytes = 0
    for proj in projects:
        for root, _, names in os.walk(os.path.join(proj, "warehouse")):
            for n in names:
                if n.startswith("part-"):
                    st = os.stat(os.path.join(root, n))
                    if st.st_mtime >= since:
                        files += 1
                        nbytes += st.st_size
    return files, nbytes


def layer_metrics(tracer, k: int, stage_delta: dict, wall: float, reattach: int,
                  written: tuple[int, int], input_bytes: int) -> tuple[dict, list]:
    from spans import module_table

    inc, calls = tracer.inclusive(k), tracer.calls(k)
    cnt = {key: v for (p, key), v in tracer.counts.items() if p == k}
    stmts = cnt.get("dialect.statements", 0)
    m = {
        "session.build_graph_s": inc.get("session.build_graph", 0.0),
        "session.models": cnt.get("session.models", 0),
        "node.render_s": inc.get("node.render", 0.0),
        "node.readback_s": inc.get("node.readback", 0.0),
        "node.readback_jobs": calls.get("node.readback", 0),
        "node.write_s": inc.get("node.write", 0.0),
        "node.merge_s": inc.get("node.merge", 0.0),
        "node.files_written": written[0],
        "node.bytes_written": written[1],
        "node.write_amp": written[1] / input_bytes if input_bytes else 0.0,
        "depparse.refs_s": inc.get("depparse.refs", 0.0),
        "dialect.transpile_s": inc.get("dialect.transpile", 0.0),
        "dialect.statements": stmts,
        "dialect.ms_per_stmt": 1000 * inc.get("dialect.transpile", 0.0) / stmts if stmts else 0.0,
        "catalog.attach_s": inc.get("catalog.attach", 0.0),
        "catalog.attached": cnt.get("catalog.attached", 0),
        "catalog.attach_failed": reattach,
        "catalog.record_s": inc.get("catalog.record", 0.0),
        "sql.analyze_s": inc.get("sql.analyze", 0.0),
        "sql.calls": cnt.get("sql.calls", 0),
        "exec.action_s": sum(inc.get(n, 0.0) for n in ("exec.write", "exec.count", "node.readback")),
        "queries.build_s": inc.get("queries.build", 0.0),
        **{f"queries.{q}_s": inc.get(f"queries.{q}", 0.0) for q in HEADLINE},
        **stage_delta,
    }
    table = module_table(tracer.self_times(k), wall)
    m["trace.unattributed_frac"] = table[-1][2]
    return m, table


# -- main ------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, trace: bool, size: str | None = None,
        corrupt=None) -> dict:
    """Run one workload; returns the result object the CLI prints."""
    ctx = {"nproc": nproc(), "python": platform.python_version(), "start": context()}
    work = os.path.join(WORK, f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(workload, seed, seconds, trace, size, corrupt, work, ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(workload, seed, seconds, trace, size, corrupt, work, ctx) -> dict:
    t = time.perf_counter()
    plan = prepare(workload, seed, work, size)
    ctx["inputs_s"] = time.perf_counter() - t
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # keep temporary files inside the checkout: the gateway's connection
    # file, Spark's local dirs, the JVMs' perf-data files
    tempfile.tempdir = os.environ["TMPDIR"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={local} -XX:-UsePerfData' pyspark-shell")

    # -- set-up: JVM launch and session configuration
    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from arnab_spark.spark_utils import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", str(ctx["nproc"]))
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    setup_s = time.perf_counter() - t0

    import duckdb
    import pyspark

    ctx.update(spark=pyspark.__version__, duckdb=duckdb.__version__)
    from check import check_project, check_registry
    from spans import StageCounter, Tracer

    tally = Tally()
    data, projects = plan["inputs"], plan["projects"]
    queries = None
    t = time.perf_counter()  # the first pass includes the registry import
    if workload == "registry":
        from arnab_spark.queries import all_queries

        reg = all_queries()
        queries = {n: reg[n] for n in HEADLINE}
        one_pass = lambda tracer=None: registry_pass(spark, data, queries, tally, tracer)  # noqa: E731
    else:
        one_pass = lambda tracer=None: dag_pass(spark, projects, tally)  # noqa: E731

    try:
        # -- first pass in the fresh JVM
        sessions, _ = one_pass()
        first_run_s = time.perf_counter() - t

        for _ in range(WARMUP_PASSES[workload]):
            one_pass()

        # -- steady passes; with tracing, untraced and traced alternate,
        # starting and ending untraced, so each traced pass sits between
        # two untraced ones (passes still get faster as the JVM warms).
        # The peak resident size is taken per pass (reset before each):
        # the JVM heap grows and shrinks with GC, so one whole-run peak
        # is a far noisier figure than the median pass's.
        pids = ("self", spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer() if trace else None
        counter = StageCounter(spark) if trace else None
        plain, peaks, traced, layers, tables = [], [], [], [], []
        begin = time.perf_counter()
        while True:
            done = time.perf_counter() - begin >= seconds
            enough = len(plain) >= MIN_PASSES and (not trace or len(plain) > len(traced) > 0)
            if done and enough:
                break
            use_trace = trace and len(traced) < len(plain)
            if not use_trace:
                for pid in pids:
                    reset_hwm(pid)
                t = time.perf_counter()
                sessions, _ = one_pass()
                plain.append(time.perf_counter() - t)
                peaks.append(sum(vm_hwm_kb(pid) for pid in pids) / 1024.0)
                continue
            tracer.pass_id = len(traced)
            counter.delta()
            since = time.time()
            tracer.install()
            try:
                t = time.perf_counter()
                sessions, reattach = one_pass(tracer)
                wall = time.perf_counter() - t
            finally:
                tracer.uninstall()
            traced.append(wall)
            m, table = layer_metrics(tracer, tracer.pass_id, counter.delta(), wall, reattach,
                                     written_since(projects, since), plan["input_bytes"])
            layers.append(m)
            tables.append(table)

        # -- output check, outside the timed region
        t = time.perf_counter()
        if queries is not None:
            check_registry(spark, data, queries, tally, corrupt)
        else:
            from arnab_spark.queries import all_queries

            reg = all_queries()
            for sess in sessions:
                check_project(sess, data, reg, tally, corrupt)
        ctx["check_s"] = time.perf_counter() - t
    finally:
        _stop(spark)

    attempted, failed = tally.attempted, tally.failed
    ctx["end"] = context()
    ctx["fail_frac"] = failed / attempted
    ctx["peak_rss_mb"] = statistics.median(peaks)
    ctx.update(passes=len(plain), traced_passes=len(traced), unchecked_models=tally.unchecked,
               pass_s=plain,
               pass_peak_rss_mb=peaks, **_percentile(plain))
    if trace:
        metrics = {k: statistics.median(m[k] for m in layers) for k in layers[0]}
        metrics.update({
            "spark_utils.get_spark_s": get_spark_s,
            "trace.run_s": statistics.median(traced),
            "trace.overhead_s": statistics.median(
                t - (plain[i] + plain[i + 1]) / 2 for i, t in enumerate(traced)),
            "fail_frac": ctx["fail_frac"],
            "peak_rss_mb": ctx["peak_rss_mb"],
        })
        units = PER_LAYER
        _write_trace(tracer, workload, seed, tables, traced, ctx)
    else:
        metrics = {
            "setup_s": setup_s,
            "first_run_s": first_run_s,
            "run_s": statistics.median(plain),
        }
        units = END_TO_END
    print(json.dumps({"context": ctx}), flush=True)
    print(json.dumps({"context": ctx}), file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def _percentile(samples: list[float]) -> dict:
    """The highest of p50/p90/p99 with at least ten samples beyond it."""
    n, out = len(samples), {"run_s_n": len(samples)}
    for p in (99, 90, 50):
        if n * (100 - p) / 100 >= 10:
            out[f"run_s_p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
            break
    return out


def _write_trace(tracer, workload, seed, tables, traced, ctx) -> None:
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-seed{seed}.json")
    tracer.write(path, {"workload": workload, "seed": seed, "traced_pass_s": traced,
                        "module_self_time": tables, "context": ctx})
    print(f"[trace] per-module self time, {workload}, traced pass 0 "
          f"({traced[0]:.3f} s wall); spans in {path}", file=sys.stderr)
    for mod, sec, share in tables[0]:
        print(f"[trace]   {mod:<16} {sec:8.3f} s  {100 * share:5.1f} %", file=sys.stderr)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit; a later ``get_spark``
    in this process launches a fresh one."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a hung JVM is killed
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
