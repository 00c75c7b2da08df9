"""Start the driver JVM from a cached class-data archive (dynamic
AppCDS, JEP 350).

A cold ``get_spark`` spends most of its time loading and verifying the
same few thousand Spark classes. A JVM can dump the classes it loaded
into an archive (``-XX:ArchiveClassesAtExit``) and later JVMs can map it
(``-XX:SharedArchiveFile``), which then skip that work.

The archive lives in a per-user cache dir,
``$XDG_CACHE_HOME/arnab_spark/cds`` (``~/.cache`` without the variable).
It is only valid for the JVM build and the exact classpath that dumped
it, so its file name carries a key hashed from the Java build, the Spark
version, the jar list of ``$SPARK_HOME/jars`` and the conf dir:

- ``<key>-<bytes>.jsa``: the archive, used only when its size equals
  ``<bytes>``. A truncated archive crashes the JVM that maps it. A new
  archive replaces every other file in the dir, so at most one is kept.
- ``<key>.<pid>.tmp`` and ``work.<pid>/``: a dump in progress. The dump
  becomes an archive only after the dumping JVM exited with code 0.
- ``<key>.lock``: held by the one process per key that dumps; stale
  once that process is gone.
- ``<key>.failed``: a dump of this key failed; it is not tried again.
- ``conf/``: an empty dir used as ``SPARK_CONF_DIR``. JDK 17 will not
  dump while a non-empty directory is on the classpath, and Spark puts
  the conf dir there.

Recording the classes for a dump slows the recording JVM's start by
about a third, so a process never records its own: a start that finds no
archive is a normal start, and at exit the process runs a short child
interpreter (``python -m arnab_spark.class_archive``) whose JVM starts
the way ``get_spark`` does, runs a small workload and dumps.

The archive is used only when the effective conf dir
(``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``) holds nothing but
``*.template`` files, so pointing Spark at the empty dir changes no
setting, and when no Hadoop or extra classpath is set. A real
``spark-defaults.conf`` means a normal start. When an archive does not
match the JVM after all, ``-Xshare:auto`` (the default) falls back to a
normal start; ``-Xlog:cds=off`` keeps the JVM from saying so on stdout.

Drop the cache with ``rm -rf ~/.cache/arnab_spark/cds``; the next cold
start dumps a new archive at its exit.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shlex
import shutil
import subprocess
import sys
from contextlib import contextmanager
from dataclasses import dataclass

#: how long an exit waits for a JVM to exit, and for the dumping child;
#: a dump takes about 25 s on 4 cores
EXIT_WAIT_S = 300.0

_QUIET = "-Xlog:cds=off,cds+dynamic=off"
#: env vars the Spark launcher adds to the driver classpath
_EXTRA_CLASSPATH = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
#: ``spark-submit`` arguments that add to the driver classpath
_CLASSPATH_ARGS = ("--driver-class-path", "--jars", "--packages",
                   "spark.driver.extraClassPath", "spark.jars")


@dataclass
class Launch:
    """Where the archive of one driver classpath lives."""

    cache: str
    key: str
    #: the empty dir to launch with as ``SPARK_CONF_DIR``
    conf_dir: str
    #: the archive to map; None when there is none yet
    archive: str | None

    def java_options(self) -> str:
        """The value for ``spark.driver.defaultJavaOptions`` of a start
        from :attr:`archive`."""
        return f"-XX:SharedArchiveFile={shlex.quote(self.archive)} {_QUIET}"


def cache_dir(env=os.environ) -> str:
    base = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "arnab_spark", "cds")


def _java_home(env) -> str | None:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on
    the PATH."""
    java = (
        os.path.join(env["JAVA_HOME"], "bin", "java")
        if env.get("JAVA_HOME")
        else shutil.which("java", path=env.get("PATH"))
    )
    if not java or not os.path.exists(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key(spark_home: str, conf_dir: str, env=os.environ) -> str | None:
    """Hash of the Java build, the Spark version and the driver
    classpath; None when one of them cannot be read."""
    import pyspark

    java_home = _java_home(env)
    jars = os.path.join(spark_home, "jars")
    if java_home is None or not os.path.isdir(jars):
        return None
    h = hashlib.sha256()
    h.update(f"{java_home}\0{pyspark.__version__}\0{conf_dir}\0".encode())
    for name in ("release", os.path.join("lib", "server", "libjvm.so")):
        try:
            st = os.stat(os.path.join(java_home, name))
        except OSError:
            continue
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    for entry in sorted(os.scandir(jars), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    return h.hexdigest()[:20]


def _conf_has_settings(conf_dir: str) -> bool:
    try:
        names = os.listdir(conf_dir)
    except OSError:
        return False
    return any(not n.endswith(".template") for n in names)


def _extra_classpath(env) -> bool:
    """Whether the launch adds to the driver classpath beyond
    ``$SPARK_HOME/jars`` and the conf dir."""
    if any(env.get(v) for v in _EXTRA_CLASSPATH):
        return True
    submit = env.get("PYSPARK_SUBMIT_ARGS", "")
    return any(arg in submit for arg in _CLASSPATH_ARGS)


def _valid_archive(cache: str, key: str) -> str | None:
    """The key's archive whose size matches its name; any other file
    named like one is removed."""
    found = None
    for path in glob.glob(os.path.join(cache, f"{key}-*.jsa")):
        want = os.path.basename(path)[len(key) + 1 : -len(".jsa")]
        try:
            ok = os.path.getsize(path) == int(want)
        except (OSError, ValueError):
            ok = False
        if ok and found is None:
            found = path
        else:
            _remove(path)
    return found


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _lock_holder(lock: str) -> int:
    try:
        with open(lock, encoding="ascii") as f:
            return int(f.read().strip() or 0)
    except (OSError, ValueError):
        return 0


def _take_lock(lock: str) -> bool:
    """Create ``lock`` holding this pid; a marker whose pid is gone is
    taken over."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600)
        except FileExistsError:
            holder = _lock_holder(lock)
            if holder and _pid_alive(holder):
                return False
            _remove(lock)
            continue
        with os.fdopen(fd, "w", encoding="ascii") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _prune(cache: str, keep: str | None = None) -> None:
    """Remove every file and dir in ``cache`` but ``keep``, ``conf/``
    and what belongs to another live process: its lock, its dump and
    its work dir."""
    for entry in os.scandir(cache):
        if entry.path == keep or entry.name == "conf":
            continue
        if entry.name.endswith(".lock"):
            pid = _lock_holder(entry.path)
        else:
            tail = entry.name.removesuffix(".tmp").rpartition(".")[2]
            pid = int(tail) if tail.isdigit() else 0
        if pid and pid != os.getpid() and _pid_alive(pid):
            continue
        if entry.is_dir(follow_symlinks=False):
            shutil.rmtree(entry.path, ignore_errors=True)
        else:
            _remove(entry.path)


def launch_options(env=os.environ) -> Launch | None:
    """Where the next driver JVM's archive lives, and whether there is
    one. None means a normal start and no dump: the conf dir holds
    settings, an extra classpath is set, the key cannot be read, or a
    dump of this key failed before. Writes only under :func:`cache_dir`."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    conf = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if _conf_has_settings(conf) or _extra_classpath(env):
        return None
    cache = cache_dir(env)
    empty_conf = os.path.join(cache, "conf")
    key = archive_key(spark_home, empty_conf, env)
    if key is None or os.path.exists(os.path.join(cache, f"{key}.failed")):
        return None
    os.makedirs(empty_conf, mode=0o700, exist_ok=True)
    if os.listdir(empty_conf):
        return None  # the dump would fail on a non-empty classpath dir
    return Launch(cache, key, empty_conf, _valid_archive(cache, key))


def dump(launch: Launch, env=os.environ) -> str | None:
    """Dump the archive of ``launch``'s key in a child interpreter and
    promote it once its JVM exited with code 0. Returns the archive, or
    None when another process holds the key's lock or the dump failed;
    a failure that is not a kill or a timeout leaves ``<key>.failed``."""
    cache, key = launch.cache, launch.key
    found = _valid_archive(cache, key)
    if found is not None:
        return found  # another process dumped it meanwhile
    lock = os.path.join(cache, f"{key}.lock")
    if not _take_lock(lock):
        return None
    tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    work = os.path.join(cache, f"work.{os.getpid()}")
    try:
        os.makedirs(work, exist_ok=True)
        package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = {k: v for k, v in env.items()
               if k not in ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT",
                            "PYSPARK_GATEWAY_SECRET")}
        env.update(
            SPARK_CONF_DIR=launch.conf_dir, TMPDIR=work, SPARK_LOCAL_DIRS=work,
            PYTHONPATH=os.pathsep.join(filter(None, [package_root, env.get("PYTHONPATH")])),
        )
        try:
            child = subprocess.run(
                [sys.executable, "-m", "arnab_spark.class_archive", tmp, work],
                env=env, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            return None
        dumped = os.path.exists(tmp) and os.path.getsize(tmp) > 0
        if child.returncode != 0 or not dumped:
            if child.returncode > 0:
                open(os.path.join(cache, f"{key}.failed"), "w").close()
            return None
        with open(tmp, "rb") as f:
            os.fsync(f.fileno())
            size = os.fstat(f.fileno()).st_size
        archive = os.path.join(cache, f"{key}-{size}.jsa")
        os.replace(tmp, archive)
        _prune(cache, keep=archive)
        return archive
    finally:
        _remove(tmp)
        shutil.rmtree(work, ignore_errors=True)
        _remove(lock)


def _stop_jvm(proc) -> int | None:
    """Let the driver JVM ``proc`` exit: closing the gateway's stdin
    makes it exit on its own. A JVM still up after
    :data:`EXIT_WAIT_S` is killed. Returns its exit code."""
    if proc is None:
        return None
    if proc.poll() is None:
        try:
            proc.stdin.close()
            proc.wait(timeout=EXIT_WAIT_S)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    return proc.returncode


@contextmanager
def _conf_dir(conf_dir: str | None):
    """Point ``SPARK_CONF_DIR`` at ``conf_dir`` while the gateway
    starts; the JVM keeps the environment it started with."""
    if conf_dir is None:
        yield
        return
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


def get_or_create(builder):
    """``builder.getOrCreate()``, starting a new driver JVM from the
    archive when there is one, and dumping one at this process's exit
    when there is none. A JVM started here is stopped and waited for
    when this process exits, so none outlives it."""
    from pyspark import SparkContext

    fresh = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    launch = launch_options() if fresh else None
    mapped = launch is not None and launch.archive is not None
    if mapped:
        builder = builder.config("spark.driver.defaultJavaOptions", launch.java_options())
    with _conf_dir(launch.conf_dir if mapped else None):
        spark = builder.getOrCreate()
    if fresh:
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        atexit.register(_at_exit, None if mapped else launch, proc, os.getpid())
    return spark


def _at_exit(launch: Launch | None, proc, pid: int) -> None:
    """Stop the SparkContext still running on ``proc`` and let the JVM
    exit, then dump the archive if ``launch`` has none. Stopping first
    shuts the accumulator server, which would otherwise print an
    ``EOFError`` when the JVM goes."""
    from pyspark import SparkContext

    if os.getpid() != pid:
        return  # a forked child: the JVM is its parent's
    sc = SparkContext._active_spark_context
    running = proc is not None and proc.poll() is None
    if running and sc is not None and getattr(sc._gateway, "proc", None) is proc:
        sc.stop()
    _stop_jvm(proc)
    if launch is not None:
        dump(launch)


def _warm_up(spark, work: str) -> None:
    """Load the classes a model run loads: SQL analysis, generated
    code, a shuffle, a window, decimals and dates, a Parquet write and
    a read with a schema, and Arrow both ways."""
    import pandas as pd

    spark.range(1).count()
    df = spark.sql(
        "SELECT id % 7 AS k, CAST(id AS DECIMAL(12, 2)) * 1.5 AS v,"
        " date_add(DATE'2024-01-01', CAST(id AS INT)) AS d, concat('t', id) AS t"
        " FROM range(1000)")
    df.createOrReplaceTempView("warm_up")
    agg = spark.sql(
        "SELECT k, count(*) AS n, sum(v) AS s, max(d) AS d, collect_list(t) AS ts"
        " FROM warm_up WHERE t LIKE 't%' GROUP BY k")
    path = os.path.join(work, "warm_up")
    agg.write.mode("overwrite").parquet(path)
    back = spark.read.schema(agg.schema).parquet(path)
    keys = spark.createDataFrame(pd.DataFrame({"k": range(7), "name": list("abcdefg")}))
    back.join(keys, "k").selectExpr(
        "name", "n", "row_number() OVER (PARTITION BY k % 2 ORDER BY s DESC) AS r"
    ).orderBy("name").toPandas()


def _dump_main(dump_path: str, work: str) -> int:
    """Start a driver JVM the way ``get_spark`` does, recording its
    classes into ``dump_path``, run :func:`_warm_up` and let the JVM
    exit, which writes the dump. Returns the JVM's exit code."""
    from arnab_spark.spark_utils import session_builder

    opts = (f"-XX:ArchiveClassesAtExit={shlex.quote(dump_path)} -XX:-UsePerfData"
            f" -Djava.io.tmpdir={shlex.quote(work)} {_QUIET}")
    spark = (session_builder("arnab_spark_class_archive", "2")
             .config("spark.driver.defaultJavaOptions", opts).getOrCreate())
    proc = spark.sparkContext._gateway.proc
    try:
        _warm_up(spark, work)
    finally:
        spark.stop()
    code = _stop_jvm(proc)
    return 1 if code is None else code


if __name__ == "__main__":
    sys.exit(_dump_main(*sys.argv[1:3]))
