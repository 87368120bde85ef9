"""The engine session: the driver JVM's class archive (built by the first
process, mapped by every later one, never a reason for a start to fail
or lose class sharing) and the size of Spark's generated-code cache.

The archive tests start real driver JVMs in subprocesses, each with its
own ``XDG_CACHE_HOME``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from bricolage_spark.session import archive_key

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SESSION = r"""
import json, os, subprocess, sys, time
import bricolage_spark.session as session

mode, barrier = sys.argv[1], sys.argv[2:]
real_run, jcmd_runs = subprocess.run, []


def run(cmd, **kw):
    jcmd_runs.append(cmd)
    if mode == "fail-dump":
        # jcmd asked to write where no directory exists: a real failed dump
        cmd = cmd[:-1] + [os.path.join(os.path.dirname(cmd[-1]), "missing", "x.jsa")]
    return real_run(cmd, **kw)


session.subprocess.run = run
if barrier:
    me, other = barrier
    open(me, "w").close()
    deadline = time.monotonic() + 120
    while not os.path.exists(other) and time.monotonic() < deadline:
        time.sleep(0.02)
spark = session.get_spark("archive-test", master="local[1]", extra_conf={
    "spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "1"})
assert spark.range(5).count() == 5
jvm = spark._jvm
with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/maps") as f:
    maps = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
print(json.dumps({
    "info": jvm.System.getProperty("java.vm.info"), "maps": maps,
    "probe": spark.conf.get("spark.bricolage.probe", None),
    "hadoop": spark._jsc.hadoopConfiguration().get("bricolage.probe"),
    "jvm_args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "jcmd_runs": len(jcmd_runs),
}))
"""


def _env(tmp_path, cache, **extra):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    return dict(env, PYTHONPATH=REPO, XDG_CACHE_HOME=str(cache),
                SPARK_LOCAL_DIRS=str(tmp_path / "local"), **extra)


def _spawn(env, mode="plain", *barrier):
    return subprocess.Popen(
        [sys.executable, "-c", _SESSION, mode, *barrier],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _result(proc):
    """The session's report; stdout must hold nothing else (CLI and
    benchmark callers read it)."""
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    lines = out.splitlines()
    assert len(lines) == 1, out
    return json.loads(lines[0]), err


def _start(env, mode="plain"):
    return _result(_spawn(env, mode))


def _jvm_dir(cache):
    return cache / "bricolage_spark" / "jvm"


def _archives(cache):
    d = _jvm_dir(cache)
    return sorted(n for n in os.listdir(d) if ".jsa" in n) if d.is_dir() else []


def test_first_process_builds_the_archive_and_the_next_maps_it(tmp_path):
    cache = tmp_path / "cache"
    env = _env(tmp_path, cache)
    built, _ = _start(env)
    assert "sharing" in built["info"]
    (archive,) = _archives(cache)
    assert archive.endswith(".jsa")
    path = str(_jvm_dir(cache) / archive)
    assert path not in built["maps"]  # the builder loaded its classes itself
    mapped, err = _start(env)
    assert path in mapped["maps"]
    assert "sharing" in mapped["info"]
    assert "no JVM class archive" not in err


def test_a_real_spark_defaults_conf_keeps_the_conf_dir_and_no_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.bricolage.probe  42\n")
    (conf / "log4j2.properties.template").write_text("")
    cache = tmp_path / "cache"
    got, _ = _start(_env(tmp_path, cache, SPARK_CONF_DIR=str(conf)))
    assert got["probe"] == "42"
    assert "sharing" in got["info"]
    assert not any(".jsa" in m and str(cache) in m for m in got["maps"])
    assert _archives(cache) == []


def test_an_unwritable_cache_starts_without_an_archive(tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    got, err = _start(_env(tmp_path, blocker / "cache"))
    assert "sharing" in got["info"]
    assert "no JVM class archive: cache unusable" in err


def test_a_corrupt_archive_is_dropped_and_rebuilt(tmp_path):
    cache = tmp_path / "cache"
    env = _env(tmp_path, cache)
    _start(env)
    (archive,) = _archives(cache)
    path = _jvm_dir(cache) / archive
    path.chmod(0o644)
    path.write_bytes(os.urandom(4096))
    got, err = _start(env)  # starts, without any sharing this once
    assert "did not map; removed" in err
    assert _archives(cache) == []
    rebuilt, _ = _start(env)
    assert "sharing" in rebuilt["info"]
    assert _archives(cache) == [archive]


def _markers(cache):
    return sorted(n for n in os.listdir(_jvm_dir(cache)) if n.endswith(".failed"))


def test_a_failed_dump_starts_the_session_and_leaves_nothing(tmp_path):
    cache = tmp_path / "cache"
    env = _env(tmp_path, cache)
    got, err = _start(env, "fail-dump")
    assert "sharing" in got["info"]
    assert "no JVM class archive: dump to" in err
    assert _archives(cache) == []
    (marker,) = _markers(cache)
    # the failure is remembered: the next process neither records nor
    # dumps, and says nothing (Spark's own start-up lines aside)
    again, err = _start(env)
    assert again["jcmd_runs"] == 0
    assert not any("RecordDynamicDumpInfo" in a for a in again["jvm_args"])
    assert "bricolage_spark" not in err
    assert "sharing" in again["info"]
    assert _archives(cache) == [] and _markers(cache) == [marker]


def test_a_marker_of_another_jdk_or_jar_set_is_ignored_and_swept(tmp_path):
    cache = tmp_path / "cache"
    stale = _jvm_dir(cache)
    stale.mkdir(parents=True)
    (stale / "0123456789abcdef0123.failed").write_text("an old failure\n")
    (stale / "0123456789abcdef0123.jsa").write_text("an old archive")
    built, err = _start(_env(tmp_path, cache))
    assert built["jcmd_runs"] == 1
    assert "no JVM class archive" not in err
    (archive,) = _archives(cache)
    assert archive != "0123456789abcdef0123.jsa"
    assert _markers(cache) == []


def test_a_hadoop_conf_dir_after_the_jars_keeps_the_archive(tmp_path):
    """Spark's launcher appends HADOOP_CONF_DIR after the jars, where CDS
    accepts a non-empty directory: the archive is built and mapped, and
    both starts read the Hadoop configuration from that directory."""
    hadoop = tmp_path / "hadoop-conf"
    hadoop.mkdir()
    (hadoop / "core-site.xml").write_text(
        '<?xml version="1.0"?>\n<configuration><property>'
        "<name>bricolage.probe</name><value>from-core-site</value>"
        "</property></configuration>\n"
    )
    cache = tmp_path / "cache"
    env = _env(tmp_path, cache, HADOOP_CONF_DIR=str(hadoop))
    built, err = _start(env)
    assert "no JVM class archive" not in err
    assert built["hadoop"] == "from-core-site"
    (archive,) = _archives(cache)
    assert archive.endswith(".jsa")
    mapped, err = _start(env)
    assert str(_jvm_dir(cache) / archive) in mapped["maps"]
    assert "sharing" in mapped["info"]
    assert mapped["hadoop"] == "from-core-site"
    assert "no JVM class archive" not in err


def test_two_builders_at_once_leave_one_archive_and_no_temporary_file(tmp_path):
    cache = tmp_path / "cache"
    env = _env(tmp_path, cache)
    ready = [str(tmp_path / "ready0"), str(tmp_path / "ready1")]
    procs = [_spawn(env, "plain", ready[i], ready[1 - i]) for i in range(2)]
    for p in procs:
        got, _ = _result(p)
        assert "sharing" in got["info"]
    (archive,) = _archives(cache)
    assert archive.endswith(".jsa")
    mapped, _ = _start(env)
    assert str(_jvm_dir(cache) / archive) in mapped["maps"]


def test_archive_key_follows_the_jdk_and_every_jar(tmp_path):
    java = tmp_path / "java"
    java.write_text("jvm")
    jars = tmp_path / "jars"
    jars.mkdir()
    for name in ("a.jar", "b.jar"):
        (jars / name).write_text(name)
    key = archive_key(str(java), str(jars))
    assert archive_key(str(java), str(jars)) == key
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    moved = archive_key(str(java), str(jars))
    assert moved != key
    (jars / "c.jar").write_text("c")
    added = archive_key(str(java), str(jars))
    assert added not in (key, moved)
    st = os.stat(java)
    os.utime(java, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert archive_key(str(java), str(jars)) not in (key, moved, added)


def test_warm_plans_reuse_their_generated_classes(spark):
    """Spark's generated-code cache holds more than a net's distinct
    classes: a second pass over 120 distinct plans compiles nothing.
    At Spark's default of 100 entries every class is compiled again."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    plans = [f"id * {i} + {i} AS x" for i in range(120)]
    for expr in plans:
        spark.range(3).selectExpr(expr).collect()
    before = compiled.getCount()
    for expr in plans:
        spark.range(3).selectExpr(expr).collect()
    assert compiled.getCount() - before == 0
