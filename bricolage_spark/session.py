"""SparkSession factory tuned for the engine.

The defaults are chosen for correctness-at-scale first:

- AQE on (runtime join re-planning, skew-join splitting, partition
  coalescing) — replaces the manual ``distkey`` tuning the reference
  delegates to Redshift (``lib/bricolage/psqldatasource.rb`` COPY opts).
- ``spark.sql.shuffle.partitions`` defaults to 2×cores locally; on a real
  cluster AQE coalesces down from a high initial number, so a large value
  is safe — we set 200 unless local.
- Arrow enabled for any pandas-UDF path (the slow-path escape hatch).
- Timestamps kept in session-local UTC so DuckDB-oracle comparisons and
  Parquet round-trips are stable.
- Spark's generated-code cache holds 1000 classes, not 100: one
  curation_net net generates 328 distinct classes, and at 100 every warm
  net compiled about 348 of them again (1.7-2.5 s of Janino, counted by
  ``CodegenMetrics``); at 1000 a warm net compiles none.

Cold start. Bricolage runs one fresh process per net or batch, and on a
4-vCPU host most of a session's start is the JVM loading and
interpreting the ~17k classes Spark needs. ``get_spark`` therefore
launches the driver JVM with a class-data-sharing archive of those
classes (JDK 17 dynamic AppCDS), so later processes map them instead:

- The archive is ``${XDG_CACHE_HOME:-~/.cache}/bricolage_spark/jvm/
  <key>.jsa``; the key hashes the ``java`` binary and every jar in
  ``$SPARK_HOME/jars`` (name, size, mtime), and a new archive replaces
  those of other keys.
- The first process that finds none builds it: its JVM starts with
  ``-XX:+RecordDynamicDumpInfo``, runs one action, and ``jcmd VM.cds
  dynamic_dump`` writes the loaded classes (about 97 MB; that one start
  takes 11-15 s longer on a 4-vCPU host).
- CDS refuses a non-empty directory on the classpath before the last
  jar, and Spark's launcher puts ``$SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``) first. When that directory holds only
  ``*.template`` files, which Spark never reads, ``SPARK_CONF_DIR``
  points at an empty directory next to the archive while the JVM
  launches. A directory after the jars, such as the ``HADOOP_CONF_DIR``
  the launcher appends, does not stop the archive.
- The JVM launches exactly as without an archive when the conf
  directory holds a real file (``spark-defaults.conf``, ``log4j2
  .properties``, ...), when a driver JVM is already up, and, with one
  line on stderr, when the cache is not writable, the JDK is older than
  17 or has no ``jcmd``. A failed dump (or a non-empty directory before
  a jar on the classpath, which would end the JVM mid-dump) leaves no
  archive and the session running. A failed dump also leaves a
  ``<key>.failed`` marker beside where the archive would be: while it
  exists, later processes launch without an archive and print nothing
  (delete it to try again; a new key ignores it, and a later build of
  another key sweeps it). An archive the JVM could not map turns off
  all class sharing for that one process; it is deleted, so the next
  process rebuilds it.
"""

from __future__ import annotations

import hashlib
import os
import re
import shlex
import shutil
import subprocess
import sys
from contextlib import suppress

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_APP_NAME = "bricolage_spark"
_MIN_JDK = 17  # -XX:+RecordDynamicDumpInfo and jcmd VM.cds dynamic_dump
_DUMP_TIMEOUT_S = 120


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = _APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a production deployment the caller passes the cluster master / lets
    spark-submit decide; every setting here is master-agnostic.
    """
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    shuffle_parts = str(max(2 * cores, 32)) if master.startswith("local") else "400"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- concurrent jobs (staging pool, overlapped materializations) -
        # FAIR task scheduling between the engine's concurrent jobs
        # (stage_artifacts' thread pool, q112's overlapped builds).
        # Under FIFO a queued job's tasks wait for every earlier job's
        # current stage to drain, so the 8-thread staging pool
        # quantum-thrashes at high core counts; FAIR round-robins task
        # slots across the live jobs. Measured on the 32-core artifact
        # build (r16, alternating same-minute runs): FIFO 19.3/17.9 s →
        # FAIR 13.4/15.9 s; at 8 cores inside noise (15.5 vs 16.1 s).
        # Scale-agnostic (single-job work is untouched — there is nothing
        # to arbitrate) and semantics-free; env-overridable for A/Bs.
        .config(
            "spark.scheduler.mode",
            os.environ.get("SPARK_GRAFT_SCHEDULER", "FAIR"),
        )
        # --- adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce the output partitioning of persisted frames
        # (off by default). The engine's staged artifacts (shingle table,
        # IVF index) are .persist()ed and re-read by several queries; with
        # the default, the cache freezes the pre-AQE partition count and
        # every consumer stage re-schedules those micro-partitions. The
        # trade (a possible extra shuffle if a consumer needed the
        # original partitioning) is AQE-arbitrated per plan. Measured
        # −10–40% on the shingle-cache consumers at sf0.1.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # --- scan efficiency --------------------------------------------
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Split size: 128 MiB is the right cluster default, but local test
        # files are single small parquets — without smaller splits every
        # scan collapses to ONE partition and all downstream work runs on
        # one core. 4 MiB locally ≈ row-group granularity; a cluster
        # deployment passes its own master and gets 128 MiB.
        .config(
            "spark.sql.files.maxPartitionBytes",
            "4194304" if master.startswith("local") else "134217728",
        )
        .config("spark.sql.files.openCostInBytes", "1048576")
        # --- python interop (pandas-UDF slow path) ----------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- deterministic comparisons ----------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamps with no timezone annotation must read as
        # TIMESTAMP (session-UTC), not TIMESTAMP_NTZ: time functions such
        # as unix_micros()/window() reject NTZ inputs, and with the session
        # timezone pinned to UTC the two types have identical values.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # broadcast thresholds, two knobs on purpose. STATIC planning
        # compares scan-stats (≈ raw bytes): 64 MiB keeps the dims
        # (region/nation/supplier/part) broadcastable even at large SF.
        # AQE's runtime SMJ→BHJ conversion instead compares MEASURED
        # shuffle bytes, which are COMPRESSED — sorted fixed-width keys
        # compress ~10x, so "64 MiB compressed" can be a multi-GiB
        # deserialized HashedRelation (measured: a 12.9M-row candidate-
        # pair table slipped under 64 MiB compressed and OOM'd the
        # broadcast build at 64x scale-probe data). The adaptive
        # threshold therefore stays at 16 MiB: dims still convert, a
        # data-proportional intermediate never does.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(16 * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # --- generated code ----------------------------------------------
        # a JVM-wide cache of compiled classes (static): 1000 entries hold
        # about three curation nets, so a warm net compiles none (see the
        # module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return _launch(builder, (extra_conf or {}).get("spark.driver.extraJavaOptions", ""))


def _launch(builder: SparkSession.Builder, java_opts: str) -> SparkSession:
    """``builder.getOrCreate()``, with the driver JVM mapping the class
    archive, or recording the classes it loads and writing one."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:  # noqa: SLF001
        return builder.getOrCreate()  # the driver JVM is already up
    archive = _class_archive()
    if archive is None:
        return builder.getOrCreate()
    path, build = archive
    flags = "-XX:+RecordDynamicDumpInfo" if build else (
        f"-XX:SharedArchiveFile={shlex.quote(path)} -Xshare:auto"
    )
    # CDS warnings stay off stdout, which CLI and benchmark callers read
    builder.config("spark.driver.extraJavaOptions", f"{java_opts} {flags} -Xlog:cds*=off".strip())
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(path), "conf")
    try:
        spark = builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if build:
        _dump_class_archive(spark, path)
    elif "sharing" not in spark._jvm.System.getProperty("java.vm.info"):  # noqa: SLF001
        # a corrupt archive turns off ALL class sharing, the JDK's own
        # base archive included: drop it so the next start rebuilds it
        _drop(path)
        _skip(f"{path} did not map; removed, the next start rebuilds it")
    return spark


def archive_key(java: str, jars_dir: str) -> str:
    """Names the class archive of one JDK and one set of Spark jars: a
    hash of the ``java`` binary's realpath, size and mtime and of each
    jar's name, size and mtime. CDS itself refuses an archive whose
    jars changed; the key makes a changed install build a new one."""
    h = hashlib.sha256()
    for path, name in [(java, java)] + [
        (os.path.join(jars_dir, n), n) for n in sorted(os.listdir(jars_dir))
    ]:
        st = os.stat(path)
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _class_archive() -> tuple[str, bool] | None:
    """``(archive path, build?)`` for the driver JVM about to launch, or
    None to launch it as without an archive."""
    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf)
    except OSError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return None  # a real config (defaults, log4j2, hive-site): keep it
    java_home = os.environ.get("JAVA_HOME")
    runner = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not runner or not os.path.isfile(runner):
        return None  # spark-submit reports the missing JDK
    java = os.path.realpath(runner)
    java_home = os.path.dirname(os.path.dirname(java))
    if _jdk_major(java_home) < _MIN_JDK:
        return _skip(f"the JDK at {java_home} is older than {_MIN_JDK}")
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "bricolage_spark",
        "jvm",
    )
    try:
        # the empty directory that stands in for the template-only conf
        # dir: JDK 17 CDS refuses a non-empty directory on the classpath
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        if not os.access(cache, os.W_OK):
            raise PermissionError(f"{cache} is not writable")
        key = archive_key(java, os.path.join(spark_home, "jars"))
    except OSError as e:
        return _skip(f"cache unusable: {e}")
    path = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(path):
        return path, False
    if os.path.exists(os.path.join(cache, f"{key}.failed")):
        return None  # this JDK and these jars failed to dump before
    if not os.path.isfile(os.path.join(java_home, "bin", "jcmd")):
        return _skip(f"no jcmd in {java_home}/bin to write one")
    return path, True


def _dump_class_archive(spark: SparkSession, path: str) -> None:
    """Run one action, so the classes a session's first job needs are
    loaded, then have the JVM write every loaded class to ``path``
    (``jcmd VM.cds dynamic_dump``). Each builder writes its own
    temporary file and renames it into place, so concurrent builders
    need no lock. A failed dump leaves a ``<key>.failed`` marker
    instead, so later processes do not try again."""
    spark.range(1).count()
    jvm = spark._jvm  # noqa: SLF001
    # a dump with a non-empty directory before a jar on the classpath
    # ends the JVM; one after the jars (a HADOOP_CONF_DIR, which Spark's
    # launcher appends) is fine
    entries = jvm.System.getProperty("java.class.path").split(os.pathsep)
    last_jar = max((i for i, e in enumerate(entries) if e.endswith(".jar")), default=0)
    for entry in entries[:last_jar]:
        if os.path.isdir(entry) and os.listdir(entry):
            return _skip(f"{entry} on the classpath is a non-empty directory")
    jcmd = os.path.join(jvm.System.getProperty("java.home"), "bin", "jcmd")
    pid = str(jvm.java.lang.ProcessHandle.current().pid())
    cache = os.path.dirname(path)
    for name in os.listdir(cache):  # a killed builder's leftover
        m = re.fullmatch(r".*\.jsa\.tmp-(\d+)", name)
        if m and not _alive(int(m.group(1))):
            _drop(os.path.join(cache, name))
    tmp = f"{path}.tmp-{os.getpid()}"
    key = os.path.basename(path)[: -len(".jsa")]
    # the JDK prints "Dynamic dump to file ..." on the JVM's System.out
    system, stdout = jvm.System, jvm.System.out
    system.setOut(system.err)
    try:
        out = subprocess.run(
            [jcmd, pid, "VM.cds", "dynamic_dump", tmp],
            capture_output=True, text=True, timeout=_DUMP_TIMEOUT_S,
        )
        if out.returncode != 0 or not os.path.getsize(tmp):
            lines = (out.stdout + out.stderr).strip().splitlines()
            raise OSError(lines[-1] if lines else f"jcmd exited {out.returncode}")
        os.replace(tmp, path)
    except (OSError, subprocess.SubprocessError) as e:
        _drop(tmp)
        marker = os.path.join(cache, f"{key}.failed")
        with suppress(OSError), open(marker, "w") as f:
            f.write(f"{e}\n")
        _skip(f"dump to {path} failed: {e}; {marker} stops later tries")
    finally:
        system.setOut(stdout)
    for name in os.listdir(cache):  # the archives and markers of other JDKs or jars
        if name.endswith((".jsa", ".failed")) and os.path.splitext(name)[0] != key:
            _drop(os.path.join(cache, name))


def _jdk_major(java_home: str) -> int:
    """The feature release of the JDK at ``java_home``, from its
    ``release`` file (``JAVA_VERSION="17.0.20"``; a ``"1.8.0"`` reads
    as 1); 0 when unknown."""
    try:
        with open(os.path.join(java_home, "release")) as f:
            m = re.search(r'^JAVA_VERSION="(\d+)', f.read(), re.M)
    except OSError:
        return 0
    return int(m.group(1)) if m else 0


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _drop(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _skip(reason: str) -> None:
    """One line on stderr; the JVM launches, or runs on, without an archive."""
    print(f"bricolage_spark: no JVM class archive: {reason}", file=sys.stderr)


def session_token(spark: SparkSession | None = None) -> str:
    """A key component that changes whenever the underlying JVM session
    does. Module-level caches that hold live handles (persisted
    DataFrames, parsed Columns) include this in their keys so a stopped/
    restarted session can never be handed a dead Py4J reference — the new
    session simply misses and rebuilds.
    """
    if spark is None:
        spark = SparkSession.getActiveSession()
    if spark is None:
        return "<no-session>"
    sc = spark.sparkContext
    return f"{sc.applicationId}/{sc.startTime}"


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
