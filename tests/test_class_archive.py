"""The driver JVM's class-data archive (``arnab_spark.class_archive``):
which archive a launch may use, when it dumps one, and that a start from
a dumped, a mismatched or no archive is clean. Every test keeps its
cache under ``tmp_path`` through ``XDG_CACHE_HOME``."""

import glob
import json
import os
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from arnab_spark import class_archive
from arnab_spark.class_archive import archive_key, cache_dir, launch_options

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = _find_spark_home()

#: one driver start: prints its JVM's input arguments, pid and one conf
_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from arnab_spark.spark_utils import get_spark
spark = get_spark("archive_test", "1")
jvm = spark._jvm
print(json.dumps({
    "rows": spark.range(3).count(),
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "pid": jvm.java.lang.ProcessHandle.current().pid(),
    "probe": spark.conf.get("spark.arnab.probe", None),
}))
"""


def _env(tmp_path, conf_files=("spark-defaults.conf.template",)) -> dict:
    """The environment of a driver start: a private cache and a conf
    dir holding ``conf_files``."""
    conf = tmp_path / "spark-conf"
    conf.mkdir(exist_ok=True)
    for name in conf_files:
        (conf / name).write_text("spark.arnab.probe on\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", *class_archive._EXTRA_CLASSPATH)}
    env.update(XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_CONF_DIR=str(conf),
               SPARK_HOME=SPARK_HOME, ARNAB_SPARK_DRIVER_MEM="1g")
    return env


def _start(tmp_path, env) -> dict:
    proc = subprocess.run([sys.executable, "-c", _CHILD, ROOT], env=env, cwd=tmp_path,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout  # the JVM adds nothing to stdout
    assert "Traceback" not in proc.stderr, proc.stderr[-3000:]  # a clean exit
    return json.loads(lines[0])


def _key(env) -> str:
    return archive_key(SPARK_HOME, os.path.join(cache_dir(env), "conf"), env)


def _tree(*roots) -> dict:
    return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for root in roots for d, _, fs in os.walk(root) for f in fs}


def test_truncated_archive_and_leftover_tmp_never_reach_the_jvm(tmp_path):
    env = _env(tmp_path)
    cache, key = cache_dir(env), _key(env)
    os.makedirs(cache)
    truncated = os.path.join(cache, f"{key}-162152448.jsa")
    with open(truncated, "wb") as f:
        f.write(b"\0" * 4096)
    leftover = os.path.join(cache, f"{key}.999999.tmp")
    with open(leftover, "wb") as f:
        f.write(b"\0" * 4096)

    launch = launch_options(env)
    assert launch.key == key and launch.archive is None  # a normal start
    assert not os.path.exists(truncated)
    # a dump whose owner is gone is never renamed into an archive
    with open(leftover[: -len(".tmp")] + ".lock", "w", encoding="ascii") as f:
        f.write("999999")
    class_archive._prune(cache)
    assert launch_options(env).archive is None
    assert os.listdir(cache) == ["conf"]


def test_dump_lock_is_taken_once_and_freed_when_its_owner_is_gone(tmp_path):
    lock = str(tmp_path / "k.lock")
    assert class_archive._take_lock(lock)
    assert not class_archive._take_lock(lock)  # this live process holds it
    with open(lock, "w", encoding="ascii") as f:
        f.write("999999999")  # a pid that cannot exist
    assert class_archive._take_lock(lock)


def test_classpath_from_submit_args_gets_no_archive(tmp_path):
    env = _env(tmp_path)
    assert launch_options(env) is not None
    for args in ("--driver-class-path /opt/x.jar pyspark-shell",
                 "--conf spark.driver.extraClassPath=/opt/x pyspark-shell",
                 "--jars /opt/x.jar pyspark-shell"):
        assert launch_options({**env, "PYSPARK_SUBMIT_ARGS": args}) is None
    assert launch_options({**env, "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
                           "'-XX:-UsePerfData' pyspark-shell"}) is not None


def test_changed_jar_list_gives_new_key(tmp_path):
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"a")
    env = _env(tmp_path)
    keys = [archive_key(str(home), "conf", env)]
    (home / "jars" / "extra.jar").write_bytes(b"b")
    keys.append(archive_key(str(home), "conf", env))
    (home / "jars" / "extra.jar").write_bytes(b"bb")
    keys.append(archive_key(str(home), "conf", env))
    keys.append(archive_key(str(home), "other-conf", env))
    assert None not in keys and len(set(keys)) == 4
    assert archive_key(str(home), "conf", env) == keys[-2]


def test_nothing_written_outside_the_cache_dir(tmp_path):
    env = _env(tmp_path)
    watched = (str(tmp_path), SPARK_HOME)
    before = _tree(*watched)
    launch_options(env)
    launch_options(env)
    cache = cache_dir(env)
    changed = {p for p, t in _tree(*watched).items() if before.get(p) != t}
    assert set(os.listdir(cache)) == {"conf"}
    assert all(p.startswith(cache + os.sep) for p in changed)


def test_real_spark_defaults_gets_no_archive_and_still_applies(tmp_path):
    env = _env(tmp_path, conf_files=("spark-defaults.conf",))
    assert launch_options(env) is None
    out = _start(tmp_path, env)
    assert out["rows"] == 3 and out["probe"] == "on"
    assert not any("Archive" in a for a in out["args"])
    assert not os.path.exists(cache_dir(env))


def test_mismatched_archive_starts_quietly(tmp_path):
    env = _env(tmp_path)
    cache = cache_dir(env)
    os.makedirs(cache)
    # a well-formed archive of another classpath: the launcher's jar alone
    other = str(tmp_path / "other.jsa")
    launcher = glob.glob(os.path.join(SPARK_HOME, "jars", "spark-launcher_*.jar"))[0]
    subprocess.run(["java", f"-XX:ArchiveClassesAtExit={other}", "-cp", launcher,
                    "org.apache.spark.launcher.Main"], capture_output=True, timeout=120)
    archive = os.path.join(cache, f"{_key(env)}-{os.path.getsize(other)}.jsa")
    os.replace(other, archive)

    out = _start(tmp_path, env)
    assert out["rows"] == 3
    assert f"-XX:SharedArchiveFile={archive}" in out["args"]


def test_failed_dump_is_not_tried_again(tmp_path):
    env = _env(tmp_path)
    launch = launch_options(env)
    # JDK 17 exits 1 instead of dumping with a non-empty dir on the classpath
    (tmp_path / "full-conf").mkdir()
    (tmp_path / "full-conf" / "log4j2.properties.template").write_text("")
    launch.conf_dir = str(tmp_path / "full-conf")
    assert class_archive.dump(launch, env) is None
    assert set(os.listdir(launch.cache)) == {"conf", f"{launch.key}.failed"}
    assert launch_options(env) is None


def test_first_start_dumps_at_exit_and_the_next_one_maps_it(tmp_path):
    env = _env(tmp_path)
    cache = cache_dir(env)
    os.makedirs(cache)
    # what an earlier key left: an archive, a dead dump with its lock
    stale = ["0123456789abcdef0123-4096.jsa", "0123456789abcdef0123.999999.tmp",
             "0123456789abcdef0123.lock", "0123456789abcdef0123.failed"]
    for name in stale:
        with open(os.path.join(cache, name), "w", encoding="ascii") as f:
            f.write("999999")

    first = _start(tmp_path, env)
    # the first start records nothing: the dump runs in a child at exit
    assert not any("Archive" in a for a in first["args"])
    with pytest.raises(ProcessLookupError):
        os.kill(first["pid"], 0)  # its JVM exited with its process
    files = set(os.listdir(cache)) - {"conf"}
    assert len(files) == 1 and files.pop().endswith(".jsa"), os.listdir(cache)
    (archive,) = glob.glob(os.path.join(cache, "*.jsa"))
    assert archive.endswith(f"-{os.path.getsize(archive)}.jsa")
    assert os.path.basename(archive).startswith(_key(env))

    second = _start(tmp_path, env)
    assert second["rows"] == 3
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert not any(a.startswith("-XX:ArchiveClassesAtExit=") for a in second["args"])
