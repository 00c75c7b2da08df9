"""Spark session + test-table helpers shared by the query corpus, tests
and bench.

Scale notes (100 TB design stance)
----------------------------------
Everything here is declarative DataFrame/SQL: Catalyst gets the whole
plan, so predicate pushdown, column pruning and partition pruning reach
the Parquet scans for free. The knobs below are the ones that matter when
the same code runs on a real cluster:

- ``spark.sql.adaptive.enabled`` (+ coalesce/skew-join): runtime re-plan;
  converts sort-merge joins to broadcast when a side turns out small and
  splits skewed partitions.
- ``spark.sql.shuffle.partitions``: sized to cores locally; on a cluster
  this should be ~2-3x total executor cores (or left to AQE coalescing).
- Session timezone pinned to UTC so timestamp semantics match the
  UTC-naive timestamps of the Parquet fixtures (and the DuckDB oracle).
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import stat
import threading
import weakref

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

#: Every fixture table the driver materializes (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "arnab_spark",
    cpus: str | None = None,
    master_url: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the test scale.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*`` and yields
    ``local[cpus]``; a full ``master_url`` (spark://…, yarn, local[4])
    overrides it.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (
        SparkSession.builder.master(master_url or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local-scale split sizing: the sf0.1 fixtures are single files of
        # 0.6-11 MB, so Spark's stock 128 MB split yields 1-partition scans
        # that serialize CPU-heavy stages onto one core. 1 MB mimics the
        # many-split reality of a cluster scan (round-3 sweep on 32 cores:
        # headline exec 3.56s @4m -> 2.49s @1m; 512k adds ~2% more for 2x
        # the tasks). On a real deployment leave the default — tasks
        # should stay >= tens of MB.
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.driver.memory", os.environ.get("ARNAB_SPARK_DRIVER_MEM", "8g"))
        # PySpark 4's DataFrame-debugging wrapper brackets EVERY API call
        # with a JVM set/clear of the Python call site — 2 extra py4j
        # round-trips per call, measured ~40% of query-construction time.
        # Plans and errors are unaffected (only the Python-line origin
        # annotation on error messages is lost).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


_configured_sessions: "weakref.WeakSet[SparkSession]" = None  # type: ignore[assignment]


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs needed for oracle parity on a session we did
    not create (the driver hands us its own session). Idempotent and
    cached PER SESSION — load_table calls this on every read, so without
    the guard each table load would cost needless py4j round-trips.

    The cache is a WeakSet of session objects, not applicationIds: two
    ``newSession()``s share an applicationId but have independent
    SQLConfs, so an app-keyed cache would silently skip repairing the
    second session's timezone/shuffle settings (round-2 advice). The
    WeakSet costs no py4j call on the hot path and a conf marker backs
    it up across separately-imported copies of this module."""
    global _configured_sessions
    if _configured_sessions is None:
        _configured_sessions = weakref.WeakSet()
    if spark in _configured_sessions:
        return spark
    _configured_sessions.add(spark)
    if spark.conf.get("spark.arnab.configured", "") == "1":
        return spark
    spark.conf.set("spark.arnab.configured", "1")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # a session left on Spark's stock 200 shuffle partitions (e.g. the
    # driver's own) pays pure task-scheduling overhead at test scale;
    # respect any explicitly-sized session, only replace the default
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    # match get_spark's local-scale split sizing on externally-created
    # sessions (runtime-settable; see get_spark for the rationale)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects outright; read as raw int64 nanos instead (converted
    # back to a microsecond timestamp in load_table).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


#: Per-session analyzed-DataFrame cache. Keyed by the session OBJECT
#: (weakly — dies with the session), not applicationId: a DataFrame is
#: bound to the session that built it, so an app-keyed cache would hand
#: a second ``newSession()`` frames that execute under the FIRST
#: session's confs.
_table_cache: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def _session_cache(spark: SparkSession) -> dict[tuple[str, str], DataFrame]:
    # setdefault: two threads can never create two caches for a session
    return _table_cache.setdefault(spark, {})


#: A ``parquet.`path``` file query (group 1: the path). String
#: literals, comments and other backquoted identifiers are matched
#: first, as wholes, so a file query inside them is never seen.
_FILE_SCAN = re.compile(
    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"|--[^\n]*|/\*.*?\*/"
    r"|(?<![\w.`])parquet\.`([^`]+)`|`[^`]*`",
    re.IGNORECASE | re.DOTALL,
)
#: DDL that may not reference a temp view: a permanent or global view
_PERSISTENT_VIEW = re.compile(
    r"(?is)^\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?(?:GLOBAL\s+TEMP(?:ORARY)?\s+)?VIEW|ALTER\s+VIEW)\b"
)


def _file_signature(path: str) -> tuple | None:
    """(size, mtime_ns, inode) of a local parquet file, or of every file
    under a local directory. ``None`` for what cannot be signed here:
    URIs, globs, relative or missing paths, and directories without a
    data file (names starting ``_`` or ``.`` are not data)."""
    if not os.path.isabs(path) or any(c in path for c in "*?[]{}"):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns, st.st_ino)
        sig, has_data = [], False
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                s = os.stat(os.path.join(root, f))
                sig.append((os.path.join(root, f), s.st_size, s.st_mtime_ns, s.st_ino))
                has_data = has_data or not f.startswith(("_", "."))
    except OSError:
        return None
    return tuple(sig) if has_data else None


def _register_scan(spark: SparkSession, view: str, path: str) -> bool:
    try:
        spark.read.parquet(path).createOrReplaceTempView(view)
        return True
    except PySparkException:  # the file query then raises Spark's own error
        return False


#: held by :func:`bind_file_scans`, which iterates and mutates the
#: session's scan entries; models of one run bind concurrently
_SCAN_LOCK = threading.Lock()


def bind_file_scans(spark: SparkSession, sql: str) -> str:
    """Rewrite each ``parquet.`path``` in ``sql``, which is about to be
    passed to ``spark.sql``, into a per-session temp view over
    ``spark.read.parquet(path)``.

    Spark resolves a file query every time a statement names it,
    directly or through a chain of SQL views, and each resolution runs
    a schema-inference job over the parquet footers. A view made from a
    DataFrame keeps its resolved relation, so the schema is inferred
    once per session and path.

    The view is named after the path; the path's local file signature
    decides whether it is still valid. Every call first re-signs every
    path bound in the session: a changed path is re-read under the same
    view name, so statements that reach it through older views also
    see the new files, and a vanished one is unbound. Paths that cannot
    be signed locally (see :func:`_file_signature`) stay file queries,
    as does every scan in DDL that may not reference a temp view.

    Apply this only to text that goes straight to ``spark.sql``, never
    to text that is recorded (the warehouse catalog): the view names
    exist in this session only."""
    with _SCAN_LOCK:
        return _bind_file_scans(spark, sql)


def _bind_file_scans(spark: SparkSession, sql: str) -> str:
    cache = _session_cache(spark)
    for key in [k for k in cache if k[0] == "#scan"]:
        sig, view = cache[key]
        now = _file_signature(key[1])
        if now != sig:
            if now is not None and _register_scan(spark, view, key[1]):
                cache[key] = (now, view)
            else:
                spark.catalog.dropTempView(view)
                del cache[key]
    if "`" not in sql or _PERSISTENT_VIEW.match(sql):
        return sql

    def bind(m: re.Match) -> str:
        path = m.group(1)
        if path is None:
            return m.group(0)
        key = ("#scan", path)
        if key not in cache:
            sig = _file_signature(path)
            view = "_arnab_scan_" + hashlib.md5(path.encode()).hexdigest()[:12]
            if sig is None or not _register_scan(spark, view, path):
                return m.group(0)
            cache[key] = (sig, view)
        return cache[key][1]

    return _FILE_SCAN.sub(bind, sql)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain ``spark.read.parquet`` so column
    pruning / predicate pushdown apply (check via ``.explain``:
    ``PushedFilters`` / ``ReadSchema``).

    The (analyzed, immutable) DataFrame is cached per session+path —
    ``spark.read.parquet`` re-lists the directory and re-reads footers
    for schema inference on EVERY call, which at bench scale charged
    each query construction ~50 ms per table (a metastore table has its
    schema cached the same way; the fixtures are read-only).

    ``events.ts`` is TIMESTAMP(NANOS) in the fixture Parquet; Spark has
    no nanos timestamp type, so it is read as int64 nanos and floor-
    divided to microseconds — bit-identical to DuckDB's
    ``CAST(ts AS TIMESTAMP)`` (µs) on the same file.
    """
    configure(spark)
    cache = _session_cache(spark)
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    cache[key] = df
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-tz TIMESTAMP regardless of
    fixture vintage: the driver has shipped it both as Parquet
    TIMESTAMP(NANOS) (read as int64 nanos via ``nanosAsLong``) and as
    TIMESTAMP(MICROS) without UTC adjustment (read as TIMESTAMP_NTZ).
    With the session pinned to UTC the NTZ→TIMESTAMP cast is wall-clock
    identity, so both paths land on the exact same microsecond values
    DuckDB's ``CAST(ts AS TIMESTAMP)`` yields on the same file."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        # integer `div`, NOT `/`: double division loses precision at
        # ~1.7e18 ns and lands 1µs off the oracle.
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of one fixture table (file or directory of parts).
    Driver-side metadata peek — the same statistic a metastore would
    serve. Returns a huge sentinel on error so size-gated broadcasts
    fail safe (no hint)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
            )
        return os.path.getsize(path)
    except OSError:
        return 1 << 62


def broadcast_if_small(
    df: DataFrame, sf_dir: str, name: str, threshold: int = 64 * 1024 * 1024
) -> DataFrame:
    """App-level size-aware broadcast hint: broadcast ``df`` iff the
    backing table's on-disk size is under ``threshold`` bytes.

    Catalyst's own auto-broadcast can't see through a join — the size
    estimate of a joined dimension (e.g. customer⋈nation⋈region) is the
    product-expanded guess, so a provably-tiny built dim falls back to
    sort-merge whenever AQE isn't there to re-measure it at runtime.
    Checking the source file's real size is exactly what a production
    job does with metastore statistics: under the threshold the hint is
    safe at ANY downstream row multiplicity (dims join 1:1 on their
    key), over it we return the frame unhinted and let the planner
    shuffle. Driver-side metadata peek only — no data is read."""
    if table_bytes(sf_dir, name) < threshold:
        from pyspark.sql import functions as F

        return F.broadcast(df)
    return df


def spread_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table, guaranteed spread across the session's cores
    before CPU-bound per-row work.

    A table that arrives as fewer scan partitions than the default
    parallelism (here: one sub-4 MB parquet file) would serialize an
    expensive projection — e.g. MinHash's sha256-per-shingle or a
    per-pair dot product — onto one task. Repartitioning first costs one
    shuffle of the RAW table, which only pays when downstream per-row
    CPU dominates; at cluster scale a 100 TB scan already has thousands
    of splits and this becomes a no-op (the condition, not the
    repartition, is the contract).

    The scan-partition count is estimated driver-side from the file
    size and ``spark.sql.files.maxPartitionBytes`` — the same arithmetic
    Spark's FilePartition planner runs — instead of probing
    ``df.rdd.getNumPartitions()``, which forces a DataFrame→RDD
    conversion through py4j per table (round-2 advice; metadata peek
    only, no data read)."""
    configure(spark)
    cache = _session_cache(spark)
    key = (sf_dir, f"{name}#spread")
    if key not in cache:
        target = spark.sparkContext.defaultParallelism
        max_split = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
        df = load_table(spark, sf_dir, name)
        if _estimate_scan_splits(os.path.join(sf_dir, f"{name}.parquet"), max_split) < target:
            df = df.repartition(target)
        cache[key] = df
    return cache[key]


def register_spread_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Like :func:`register_views`, but each view is a
    :func:`spread_table` (see there for the spread contract)."""
    cache = _session_cache(spark)
    for name in tables:
        df = spread_table(spark, sf_dir, name)
        if cache.get(("#view", name)) != (sf_dir, "spread"):
            df.createOrReplaceTempView(name)
            cache[("#view", name)] = (sf_dir, "spread")


_BYTE_SUFFIXES = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(size: str) -> int:
    """Parse Spark's byte-size conf strings ("4m", "128k", "134217728",
    "64mb") the way JavaUtils.byteStringAsBytes does."""
    s = size.strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIXES:
        return int(float(s[:-1]) * _BYTE_SUFFIXES[s[-1]])
    return int(s)


def _estimate_scan_splits(path: str, max_split_bytes: int) -> int:
    """Upper bound on FileSourceScan input partitions: Σ ceil(file_size /
    maxPartitionBytes) over the table's files (ignores openCostInBytes
    packing, which only merges splits — so this never under-triggers the
    spread)."""
    try:
        sizes = (
            [
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
                if not f.startswith(("_", "."))
            ]
            if os.path.isdir(path)
            else [os.path.getsize(path)]
        )
    except OSError:
        return 1
    return max(1, sum(math.ceil(s / max_split_bytes) for s in sizes))


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each fixture table as a temp view so corpus queries can
    be written in SQL. Views are lazy plans — zero data movement.

    Registration is cached per (session, view-name, sf_dir): every
    ``createOrReplaceTempView`` is a py4j round-trip, and the corpus
    calls this inside each query constructor — re-registering 10
    identical views charged ~30 ms per query construction at bench
    scale. A view whose backing sf_dir changes (tests at sf0.001, bench
    at sf0.1, same session) is re-registered."""
    configure(spark)
    cache = _session_cache(spark)
    for name in tables:
        if cache.get(("#view", name)) != (sf_dir, "plain"):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
            cache[("#view", name)] = (sf_dir, "plain")
