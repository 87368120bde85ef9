"""streaming_load tests — includes the reference's own pattern-compiler
test case (test/test_c_streaming_load.rb:6-13) and the exactly-once
contract."""

from __future__ import annotations

import os

import pytest

from bricolage_spark.context import Context
from bricolage_spark.exception import ParameterError
from bricolage_spark.streaming.streaming_load import (
    FileQueue,
    StreamingLoader,
    compile_name_pattern,
    format_path,
)


def test_compile_name_pattern_reference_case():
    """Exact case from the reference unit test."""
    re_ = compile_name_pattern("%*%Y%m%d-%H%M_%Q.gz")
    m = re_.match("anything20141002-1355_00.gz")
    assert m
    assert m.group("year") == "2014"
    assert m.group("month") == "10"
    assert m.group("minute") == "55"
    assert m.group("seq") == "00"
    assert not re_.match("2014100x-1355_00.gz")
    assert not re_.match("prefix/20141002-1355_00.gz")  # %* excludes /


def test_compile_name_pattern_nanos_and_escape():
    re_ = compile_name_pattern("%Y%m%d_%6N.json")
    m = re_.match("20240101_123456.json")
    assert m.group("nanosecond") == "123456"
    assert not re_.match("20240101_123456xjson")  # '.' is literal


def test_compile_name_pattern_unknown_op():
    with pytest.raises(ParameterError, match="unknown time format"):
        compile_name_pattern("%Z.json")


def test_format_path_from_name():
    pat = compile_name_pattern("%Y%m%d_%H%M_%Q.json")
    out = format_path("archive/%Y/%m/%d", "20240102_1355_00.json", pat)
    assert out == "archive/2024/01/02"
    with pytest.raises(ParameterError, match="does not match"):
        format_path("x/%Y", "nope.json", pat)


@pytest.fixture()
def queue_dir(tmp_path):
    q = tmp_path / "queue"
    q.mkdir()
    return q


def write_files(queue_dir, names_rows):
    for name, rows in names_rows.items():
        with open(queue_dir / name, "w") as f:
            for row in rows:
                f.write(row + "\n")


def make_loader(engine, queue_dir, tmp_path, **kw):
    queue = FileQueue(
        queue_path=str(queue_dir),
        persistent_path=str(tmp_path / "archive" / "%Y" / "%m" / "%d"),
        file_name="%Y%m%d_%H%M_%Q.json",
    )
    return StreamingLoader(
        engine=engine,
        queue=queue,
        dest_table="load_test",
        log_table="load_test_l",
        work_table="load_test_wk",
        fmt="json",
        **kw,
    )


def test_load_once_and_dedup(engine, tmp_path, queue_dir):
    write_files(queue_dir, {
        "20240101_0000_00.json": ['{"x": 1, "y": "a"}', '{"x": 2, "y": "b"}'],
        "20240101_0100_00.json": ['{"x": 3, "y": "c"}'],
        "ignored.txt": ["junk"],  # does not match pattern
    })
    loader = make_loader(engine, queue_dir, tmp_path)
    stats = loader.run_once()
    assert stats["loaded_files"] == 2
    assert stats["rows"] == 3
    assert engine.table("load_test").count() == 3
    # log records both files
    logged = {r.data_file for r in engine.table("load_test_l").collect()}
    assert logged == {"20240101_0000_00.json", "20240101_0100_00.json"}
    # files moved to date-templated archive
    assert not (queue_dir / "20240101_0000_00.json").exists()
    assert (tmp_path / "archive" / "2024" / "01" / "01" / "20240101_0000_00.json").exists()
    # non-matching file untouched
    assert (queue_dir / "ignored.txt").exists()


def test_exactly_once_across_retry(engine, tmp_path, queue_dir):
    """Crash-after-load simulation: file loaded+logged but NOT dequeued →
    retry must not double-load (streaming_load.rb:294-330 contract)."""
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    loader = make_loader(engine, queue_dir, tmp_path)
    stats = loader.run_once(load_only=True)  # load, log, do NOT move
    assert stats["loaded_files"] == 1
    assert (queue_dir / "20240101_0000_00.json").exists()

    # retry: file still queued, but the log dedups it
    stats2 = loader.run_once()
    assert stats2["loaded_files"] == 0
    assert stats2["skipped_files"] == 1
    assert engine.table("load_test").count() == 1  # NOT doubled

    # new file arrives → only it loads
    write_files(queue_dir, {"20240101_0100_00.json": ['{"x": 2, "y": "b"}']})
    stats3 = loader.run_once()
    assert stats3["loaded_files"] == 1
    assert engine.table("load_test").count() == 2


def test_hadoop_queue_over_file_uri(spark, tmp_path):
    """HadoopFileQueue drives the same contract through the Hadoop FS API
    (file:// here; s3a:// on a cluster with the same code path)."""
    from bricolage_spark.streaming.streaming_load import HadoopFileQueue

    qdir = tmp_path / "hq"
    qdir.mkdir()
    (qdir / "20240102_0000_00.json").write_text('{"x": 1}\n')
    (qdir / "junk.txt").write_text("no")
    q = HadoopFileQueue(
        spark,
        f"file://{qdir}",
        f"file://{tmp_path}/arch/%Y/%m/%d",
        "%Y%m%d_%H%M_%Q.json",
    )
    files = q.queued_files()
    assert len(files) == 1 and files[0].endswith("20240102_0000_00.json")
    dest = q.dequeue(files[0])
    assert dest.endswith("arch/2024/01/02/20240102_0000_00.json")
    assert (tmp_path / "arch" / "2024" / "01" / "02" / "20240102_0000_00.json").exists()
    assert not (qdir / "20240102_0000_00.json").exists()
    assert q.queued_files() == []


def test_streaming_load_jobclass_hadoop_uri(engine, tmp_path):
    """streaming_load job with a file:// queue-path selects the Hadoop
    queue automatically."""
    from bricolage_spark.context import Context

    qdir = tmp_path / "uriq"
    qdir.mkdir()
    (qdir / "20240101_0000_00.json").write_text('{"x": 5, "y": "z"}\n')
    home = tmp_path / "home"
    (home / "subsys").mkdir(parents=True)
    (home / "subsys" / "s.job").write_text(
        "class: streaming_load\n"
        "dest-table: uri_load\n"
        f"queue-path: file://{qdir}\n"
        f"persistent-path: file://{tmp_path}/uridone/%Y/%m/%d\n"
        "file-name: '%Y%m%d_%H%M_%Q.json'\n"
        "skip-work: true\n"
    )
    ctx = Context(engine, home=str(home))
    r = ctx.load_job(str(home / "subsys" / "s.job")).execute()
    assert r.success and r.rows == 1
    assert engine.table("uri_load").count() == 1


def test_streaming_load_jobclass(engine, tmp_path, queue_dir):
    """Drive through the job-class surface with a .job file."""
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    home = tmp_path / "home"
    (home / "subsys").mkdir(parents=True)
    job_path = home / "subsys" / "stream.job"
    job_path.write_text(
        "class: streaming_load\n"
        "dest-table: load_test\n"
        f"queue-path: {queue_dir}\n"
        f"persistent-path: {tmp_path}/done/%Y/%m/%d\n"
        "file-name: '%Y%m%d_%H%M_%Q.json'\n"
        "skip-work: true\n"
    )
    ctx = Context(engine, home=str(home))
    job = ctx.load_job(str(job_path))
    r = job.execute()
    assert r.success and r.rows == 1
    # second run: nothing new
    r2 = ctx.load_job(str(job_path)).execute()
    assert "0 file(s)" in r2.message

def test_crash_between_appends_rolls_forward(engine, tmp_path, queue_dir):
    """Kill the loader AT the commit point (manifest written, moves not
    applied): recovery must publish work, dest AND log together — no
    double-load on retry (streaming_load.rb:166-195 joint transaction)."""
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    loader = make_loader(engine, queue_dir, tmp_path)

    boom = RuntimeError("killed between appends")

    apply_moves = engine._apply_moves
    dest_merge = ["merge", engine.table_dir("load_test")]

    def crash(path, manifest):
        if any([kind, dest] == dest_merge for kind, _src, dest in manifest["moves"]):
            raise boom  # the joint commit: the one that merges the dest
        apply_moves(path, manifest)

    engine._apply_moves = crash
    with pytest.raises(RuntimeError):
        loader.run_once()
    del engine._apply_moves
    # manifest exists; neither table is published yet
    assert not engine.table_exists("load_test")
    txs = os.listdir(engine._tx_dir)
    assert any(t.endswith(".json") for t in txs)

    # retry: recover() rolls the manifest forward, then the anti-join
    # sees the file as loaded — exactly once
    stats = loader.run_once()
    assert stats["loaded_files"] == 0
    assert stats["skipped_files"] == 1
    assert engine.table("load_test").count() == 1
    logged = {r.data_file for r in engine.table("load_test_l").collect()}
    assert logged == {"20240101_0000_00.json"}
    assert os.listdir(engine._tx_dir) == []
    assert [(r.x, r.y) for r in engine.table("load_test_wk").collect()] == [(1, "a")]


def test_crash_before_commit_reloads_cleanly(engine, tmp_path, queue_dir):
    """Crash BEFORE the manifest rename (dest delta staged only): nothing
    was published, staging garbage is swept, the batch reloads once."""
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    loader = make_loader(engine, queue_dir, tmp_path)

    orig_stage = loader._stage_delta
    calls = {"n": 0}

    def stage_then_crash(df, table, txid):
        out = orig_stage(df, table, txid)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("killed after first staged write")
        return out

    loader._stage_delta = stage_then_crash
    with pytest.raises(RuntimeError):
        loader.run_once()
    loader._stage_delta = orig_stage
    assert not engine.table_exists("load_test")
    assert not engine.table_exists("load_test_l")

    stats = loader.run_once()
    assert stats["loaded_files"] == 1
    assert engine.table("load_test").count() == 1  # exactly once
    # pre-commit staging dirs were swept
    parent = os.path.dirname(engine.table_dir("load_test"))
    assert not [d for d in os.listdir(parent) if ".__delta__" in d]


def test_custom_sql_insert_into_dest_style(engine, tmp_path, queue_dir):
    """Reference-style body `INSERT INTO $dest_table SELECT ... FROM work`
    (streaming_load.rb:203) is converted to its SELECT and committed
    jointly — not executed as a second out-of-transaction append."""
    write_files(queue_dir, {
        "20240101_0000_00.json": ['{"x": 1, "y": "a"}', '{"x": 2, "y": "b"}'],
    })
    loader = make_loader(
        engine, queue_dir, tmp_path,
        sql="INSERT INTO load_test SELECT x, upper(y) AS y FROM load_test_wk WHERE x > 1;",
    )
    stats = loader.run_once()
    assert stats["rows"] == 1
    rows = [(r.x, r.y) for r in engine.table("load_test").collect()]
    assert rows == [(2, "B")]


def test_custom_sql_wrong_dest_rejected_before_publish(engine, tmp_path, queue_dir):
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    loader = make_loader(
        engine, queue_dir, tmp_path,
        sql="INSERT INTO other_table SELECT * FROM load_test_wk;",
    )
    with pytest.raises(ParameterError, match="dest-table"):
        loader.run_once()
    # nothing published, file still queued for a corrected retry
    assert not engine.table_exists("load_test")
    assert (queue_dir / "20240101_0000_00.json").exists()


def test_custom_sql_non_select_rejected(engine, tmp_path, queue_dir):
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    loader = make_loader(
        engine, queue_dir, tmp_path,
        sql="DROP TABLE IF EXISTS load_test;",
    )
    with pytest.raises(ParameterError, match="must end with a SELECT"):
        loader.run_once()
    assert engine.table_exists("load_test") is False


def test_parquet_format_loads(engine, tmp_path, queue_dir):
    """format=parquet works: DataFrameReader.parquet is varargs-only and
    must be splatted (a list crashes py4j)."""
    import pandas as pd

    for name, xs in (
        ("20240101_0000_00.json", [1, 2]),   # queue pattern; content parquet
        ("20240101_0100_00.json", [3]),
    ):
        pd.DataFrame({"x": xs}).to_parquet(queue_dir / name)
    queue = FileQueue(
        queue_path=str(queue_dir),
        persistent_path=str(tmp_path / "arch"),
        file_name="%Y%m%d_%H%M_%Q.json",
    )
    loader = StreamingLoader(
        engine=engine,
        queue=queue,
        dest_table="pq_dest",
        log_table="pq_dest_l",
        work_table="pq_dest_wk",
        fmt="parquet",
    )
    stats = loader.run_once()
    assert stats["loaded_files"] == 2 and stats["rows"] == 3
    assert {r.x for r in engine.table("pq_dest").collect()} == {1, 2, 3}


def test_custom_sql_does_not_force_dest_schema_on_raw_files(
    engine, tmp_path, queue_dir
):
    """With a custom SQL the dest table's schema describes TRANSFORMED
    rows; forcing it onto the raw file reader would parse every field as
    NULL and silently commit garbage under exactly-once."""
    from pyspark.sql import functions as F

    # dest pre-exists with the AGGREGATED shape (user, total)
    seed = engine.spark.createDataFrame([(0, 0.0)], "user long, total double")
    engine.save_table(seed.limit(0), "agg_dest", mode="overwrite")
    write_files(queue_dir, {
        "20240101_0000_00.json": [
            '{"user": 1, "amount": 2.5}', '{"user": 1, "amount": 1.5}',
            '{"user": 2, "amount": 4.0}',
        ],
    })
    queue = FileQueue(
        queue_path=str(queue_dir),
        persistent_path=str(tmp_path / "arch2"),
        file_name="%Y%m%d_%H%M_%Q.json",
    )
    loader = StreamingLoader(
        engine=engine,
        queue=queue,
        dest_table="agg_dest",
        log_table="agg_dest_l",
        work_table="agg_wk",
        fmt="json",
        sql="insert into agg_dest select user, sum(amount) as total "
            "from agg_wk group by user",
    )
    stats = loader.run_once()
    assert stats["rows"] == 2
    out = {r.user: r.total for r in engine.table("agg_dest").collect()}
    assert out == {1: 4.0, 2: 4.0}


def test_crash_after_both_deltas_staged_reloads_once(engine, tmp_path, queue_dir):
    """Kill after the dest delta and the driver-written log delta are both
    staged, before the manifest rename: nothing is published, the staging
    is swept, and the retry loads the batch exactly once."""
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    loader = make_loader(engine, queue_dir, tmp_path)
    orig = loader._stage_log_delta

    def stage_then_crash(files, txid):
        orig(files, txid)
        raise RuntimeError("killed before the commit point")

    loader._stage_log_delta = stage_then_crash
    with pytest.raises(RuntimeError):
        loader.run_once()
    loader._stage_log_delta = orig
    parent = os.path.dirname(engine.table_dir("load_test"))
    assert len([d for d in os.listdir(parent) if ".__delta__" in d]) == 2
    assert not engine.table_exists("load_test")
    assert not engine.table_exists("load_test_l")
    assert not os.path.isdir(engine._tx_dir) or os.listdir(engine._tx_dir) == []

    stats = loader.run_once()
    assert stats["loaded_files"] == 1
    assert engine.table("load_test").count() == 1
    assert [r.data_file for r in engine.table("load_test_l").collect()] == [
        "20240101_0000_00.json"
    ]
    assert not [d for d in os.listdir(parent) if ".__delta__" in d]
    assert os.listdir(engine._tx_dir) == []


LOG_DTYPES = [
    ("job_process_id", "string"),
    ("start_time", "timestamp"),
    ("end_time", "timestamp"),
    ("target_table", "string"),
    ("data_file", "string"),
]


def test_driver_written_log_reads_back_with_spark_types(engine, spark, tmp_path, queue_dir):
    """The load log keeps its five Spark types whether the driver-written
    delta starts the log or is appended to parts Spark wrote; a fresh
    engine (schema inference) and a merged-schema read agree."""
    import datetime

    from bricolage_spark.engine import SparkEngine

    spark_part = spark.createDataFrame(
        [("old", datetime.datetime(2024, 1, 1), datetime.datetime(2024, 1, 1),
          "load_test", "20231231_0000_00.json")],
        ", ".join(f"{c} {t}" for c, t in LOG_DTYPES),
    )
    for log_table, seeded in (("fresh_l", False), ("seeded_l", True)):
        if seeded:
            engine.save_table(spark_part, log_table)
        name = f"2024010{2 if seeded else 1}_0000_00.json"
        write_files(queue_dir, {name: ['{"x": 1, "y": "a"}']})
        loader = make_loader(engine, queue_dir, tmp_path, process_id="p1")
        loader.log_table = log_table
        loader.run_once()
        path = engine.table_dir(log_table)
        ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
        before = spark.conf.get(ntz)
        spark.conf.set(ntz, "true")  # plain Spark's default
        try:
            merged = spark.read.option("mergeSchema", "true").parquet(path)
        finally:
            spark.conf.set(ntz, before)
        for df in (
            engine.table(log_table),
            SparkEngine(spark, engine.warehouse).table(log_table),
            merged,
        ):
            assert df.dtypes == LOG_DTYPES
            rows = {r.data_file: r for r in df.collect()}
            assert set(rows) == ({name, "20231231_0000_00.json"} if seeded else {name})
            row = rows[name]
            assert (row.job_process_id, row.target_table) == ("p1", "load_test")
            assert row.start_time is not None and row.start_time == row.end_time


def test_dequeue_only_moves_just_the_logged_files(engine, tmp_path, queue_dir):
    """dequeue-only probes the log for the queued files only and moves
    those already loaded; an unloaded file stays queued."""
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    make_loader(engine, queue_dir, tmp_path).run_once(load_only=True)
    write_files(queue_dir, {"20240101_0100_00.json": ['{"x": 2, "y": "b"}']})
    home, job_path = _dequeue_only_job(tmp_path, queue_dir)
    r = Context(engine, home=home).load_job(job_path).execute()
    assert r.message == "dequeued 1 file(s)"
    assert sorted(os.listdir(queue_dir)) == ["20240101_0100_00.json"]
    assert (tmp_path / "archive" / "2024" / "01" / "01" / "20240101_0000_00.json").exists()


def _warm_batch_jobs(spark, loader, queue_dir):
    """Spark jobs of a warm batch of two files, after a cold one."""
    from conftest import spark_jobs

    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 1, "y": "a"}']})
    loader.run_once()  # cold: creates dest, log and work table
    write_files(queue_dir, {
        "20240101_0100_00.json": ['{"x": 2, "y": "b"}'],
        "20240101_0200_00.json": ['{"x": 3, "y": "c"}'],
    })
    stats = {}
    n = spark_jobs(spark, lambda: stats.update(loader.run_once()))
    assert stats["loaded_files"] == 2 and stats["rows"] == 2
    return n


def test_warm_batch_spark_job_budget(engine, spark, tmp_path, queue_dir):
    """A warm batch's fixed cost, counted in Spark jobs: one, the work
    table's write, whose files also become the dest delta. A Spark probe
    of the log, a second write, re-reading a table's schema or building
    the log delta as a Spark frame would each add a job."""
    loader = make_loader(engine, queue_dir, tmp_path)
    n = _warm_batch_jobs(spark, loader, queue_dir)
    assert n == 1, f"a warm batch ran {n} Spark jobs"
    # the work table holds the batch, the dest every batch
    assert sorted((r.x, r.y) for r in engine.table("load_test_wk").collect()) == [(2, "b"), (3, "c")]
    assert engine.table("load_test").count() == 3


def test_warm_batch_spark_job_budget_with_custom_sql(engine, spark, tmp_path, queue_dir):
    """With a custom SQL, which reads the work table, a warm batch still
    writes twice: the work table, then the SQL's rows as the dest delta."""
    loader = make_loader(
        engine, queue_dir, tmp_path,
        sql="INSERT INTO load_test SELECT x, upper(y) AS y FROM load_test_wk;",
    )
    n = _warm_batch_jobs(spark, loader, queue_dir)
    assert n == 2, f"a warm custom-SQL batch ran {n} Spark jobs"
    assert sorted((r.x, r.y) for r in engine.table("load_test_wk").collect()) == [(2, "b"), (3, "c")]
    assert sorted((r.x, r.y) for r in engine.table("load_test").collect()) == [
        (1, "A"), (2, "B"), (3, "C"),
    ]


def _parts(path):
    return {n for n in os.listdir(path) if n.endswith(".parquet")}


def test_a_batch_adds_at_most_one_part_file_per_core(engine, spark, tmp_path, queue_dir):
    """Spark's read packs several small files into each task; the batch
    still adds at most ``defaultParallelism`` part files to the dest, and
    they are the work table's files, hard-linked."""
    cores = spark.sparkContext.defaultParallelism
    loader = make_loader(engine, queue_dir, tmp_path)
    write_files(queue_dir, {"20240101_0000_00.json": ['{"x": 0, "y": "a"}']})
    loader.run_once()
    before = _parts(engine.table_dir("load_test"))
    n_files = 8 * cores  # more read tasks than cores
    write_files(queue_dir, {
        f"20240101_0100_{i:02d}.json": [f'{{"x": {i + 1}, "y": "b"}}'] for i in range(n_files)
    })
    assert loader.run_once()["rows"] == n_files
    added = _parts(engine.table_dir("load_test")) - before
    assert 1 <= len(added) <= cores
    work = engine.table_dir("load_test_wk")
    assert _parts(work) == added
    dest = engine.table_dir("load_test")
    for name in added:
        assert os.path.samefile(os.path.join(work, name), os.path.join(dest, name))
    assert engine.table("load_test").count() == n_files + 1
    assert engine.table("load_test_wk").count() == n_files


def _dequeue_only_job(tmp_path, queue_dir):
    home = tmp_path / "home"
    (home / "subsys").mkdir(parents=True, exist_ok=True)
    job_path = home / "subsys" / "deq.job"
    job_path.write_text(
        "class: streaming_load\n"
        "dest-table: load_test\n"
        f"queue-path: {queue_dir}\n"
        f"persistent-path: {tmp_path}/archive/%Y/%m/%d\n"
        "file-name: '%Y%m%d_%H%M_%Q.json'\n"
        "dequeue-only: true\n"
    )
    return str(home), str(job_path)


@pytest.mark.parametrize("log", ["vacuumed", "truncated", "missing"])
def test_driver_probe_agrees_with_a_spark_read_of_the_log(log, engine, spark, tmp_path, queue_dir):
    """The driver's probe of the log names the same files as a Spark read
    of it: over a log Spark rewrote (``vacuum``: ``_SUCCESS`` and ``.crc``
    siblings), a log left empty (``truncate``) and no log at all; and
    ``dequeue-only`` moves exactly the files the Spark read names."""
    loader = make_loader(engine, queue_dir, tmp_path)
    if log != "missing":
        for k in range(3):  # three log parts
            write_files(queue_dir, {f"20240101_0{k}00_00.json": [f'{{"x": {k}, "y": "a"}}']})
            loader.run_once(load_only=True)
        if log == "vacuumed":
            engine.vacuum("load_test_l", target_partitions=2)
            names = set(os.listdir(engine.table_dir("load_test_l")))
            assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
        else:
            engine.truncate("load_test_l")
    write_files(queue_dir, {"20240101_0300_00.json": ['{"x": 3, "y": "a"}']})
    queued = loader.queue.queued_files()
    assert len(queued) == (1 if log == "missing" else 4)
    logged = (
        {r.data_file for r in spark.read.parquet(engine.table_dir("load_test_l")).collect()}
        if engine.table_exists("load_test_l") else set()
    )
    assert (log == "vacuumed") == bool(logged)
    expected = [p for p in queued if os.path.basename(p) not in logged]
    assert loader.new_files(queued) == expected

    home, job_path = _dequeue_only_job(tmp_path, queue_dir)
    r = Context(engine, home=home).load_job(job_path).execute()
    assert r.message == f"dequeued {len(queued) - len(expected)} file(s)"
    assert loader.queue.queued_files() == expected
