"""The publish primitive (``SparkEngine.publish``) and the engine's
recovery: every table-directory rename, move or delete goes through one
manifest-committed path, a crash at any of its file operations leaves a
warehouse that the next engine open turns into exactly the state before
or exactly the state after, and per-table writer locks serialize
writers, loaders and recovery."""

from __future__ import annotations

import ast
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

import pytest

from bricolage_spark.context import Context
from bricolage_spark.engine import SparkEngine
from bricolage_spark.streaming.streaming_load import FileQueue, StreamingLoader

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class SimulatedKill(BaseException):
    """Raised in place of a file operation. A BaseException, so no
    ``except Exception`` cleanup runs — like a SIGKILL at that point."""


_OPS = ((os, "rename"), (os, "replace"), (os, "remove"), (shutil, "rmtree"))


@contextmanager
def kill_at(warehouse: str, k: int | None):
    """Record every rename, replace, remove and rmtree made on a
    warehouse path (lock files aside: a real kill leaves those to the
    stale-pid check) and raise ``SimulatedKill`` instead of the k-th;
    ``k=None`` only records. Yields the list of ``(op, path, target)``."""
    seen: list[tuple] = []
    locks = os.path.join(warehouse, ".locks")
    with pytest.MonkeyPatch.context() as mp:
        for mod, name in _OPS:
            real = getattr(mod, name)

            def fake(path, *a, _real=real, _name=name, **kw):
                p = os.fspath(path)
                if p.startswith(warehouse) and not p.startswith(locks):
                    if len(seen) == k:
                        raise SimulatedKill(f"{_name} {p}")
                    seen.append((_name, p, os.fspath(a[0]) if a else None))
                return _real(path, *a, **kw)

            mp.setattr(mod, name, fake)
        yield seen


def commit_index(ops: list[tuple], warehouse: str) -> int:
    """Index of the last publish's commit point: the first rename of its
    manifest into the transaction directory (later renames of the same
    manifest only record progress)."""
    tx = os.path.join(warehouse, ".streaming_load_tx")
    firsts, seen = [], set()
    for i, (op, _src, target) in enumerate(ops):
        if op == "replace" and os.path.dirname(target) == tx and target not in seen:
            seen.add(target)
            firsts.append(i)
    return firsts[-1]


def leftovers(warehouse: str) -> list[str]:
    """Uncommitted siblings, manifests and lock files."""
    out = []
    for d, dirs, files in os.walk(warehouse):
        for n in dirs + files:
            rel = os.path.relpath(os.path.join(d, n), warehouse)
            if any(m in n for m in (".__stage__", ".__delta__", ".__old__")):
                out.append(rel)
            elif rel.startswith((".streaming_load_tx" + os.sep, ".locks" + os.sep)):
                out.append(rel)
    return out


def rows(engine, table):
    if not engine.table_exists(table):
        return None
    return sorted(map(tuple, engine.table(table).collect()))


# -- the cases: (setup, action, state) over one warehouse -------------------


def _df(spark, data, schema):
    return spark.createDataFrame(data, schema).coalesce(1)


def case_overwrite(spark, tmp):
    def setup(e):
        e.save_table(_df(spark, [(1,), (2,)], "id int"), "t")

    def action(e):
        e.save_table(_df(spark, [(3,)], "id int"), "t")

    return setup, action, lambda e: {"t": rows(e, "t")}


def case_append(spark, tmp):
    def setup(e):
        e.save_table(_df(spark, [(1,)], "id int"), "t")

    def action(e):
        e.save_table(_df(spark, [(2,)], "id int"), "t", mode="append")

    return setup, action, lambda e: {"t": rows(e, "t")}


def case_append_partitioned(spark, tmp):
    schema = "id int, p string"

    def setup(e):
        e.save_table(_df(spark, [(1, "a"), (2, "b")], schema), "t", partition_by=["p"])

    def action(e):
        # p=a exists, p=c is new: the merge must go into and create
        # partition directories
        e.save_table(
            _df(spark, [(3, "a"), (4, "c")], schema), "t",
            mode="append", partition_by=["p"],
        )

    def state(e):
        return {"t": sorted(map(tuple, e.table("t").select("id", "p").collect()))}

    return setup, action, state


def case_bucketed_overwrite(spark, tmp):
    def setup(e):
        e.save_table_bucketed(_df(spark, [(1,), (2,)], "k int"), "bk_kill", "k", 2)

    def action(e):
        e.save_table_bucketed(_df(spark, [(3,), (4,), (5,)], "k int"), "bk_kill", "k", 2)

    def state(e):
        loc = e.bucketed_dir("bk_kill")
        return {
            "files": sorted(r.k for r in spark.read.parquet(loc).collect()),
            "sidecar": os.path.exists(os.path.join(loc, "_bucket_spec.json")),
        }

    return setup, action, state


def case_rename(spark, tmp):
    def setup(e):
        e.save_table(_df(spark, [(1,)], "id int"), "a")

    def action(e):
        e.rename_table("a", "b")

    return setup, action, lambda e: {"a": rows(e, "a"), "b": rows(e, "b")}


def case_drop(spark, tmp):
    def setup(e):
        e.save_table(_df(spark, [(1,)], "id int"), "t")

    def action(e):
        e.drop_table("t")

    return setup, action, lambda e: {"t": rows(e, "t")}


def case_rebuild_rename(spark, tmp):
    home = tmp / "home"
    (home / "subsys").mkdir(parents=True)
    job = str(home / "subsys" / "rb.sql.job")
    with open(job, "w") as f:
        f.write(
            "/*\nclass: rebuild-rename\ndest-table: summary\n"
            "src-tables: {s: src}\n*/\nselect id from $s;\n"
        )

    def run(e):
        assert Context(e, home=str(home)).load_job(job).execute().success

    def setup(e):
        # two earlier rebuilds, so both summary and summary_old exist
        for n in (1, 2):
            e.save_table(_df(spark, [(i,) for i in range(n)], "id int"), "src")
            run(e)
        e.save_table(_df(spark, [(i,) for i in range(3)], "id int"), "src")

    def state(e):
        # zero-downtime: whatever a kill hits, the reopened warehouse has
        # a dest (the before and the after state both hold one)
        assert e.table_exists("summary")
        return {"summary": rows(e, "summary"), "summary_old": rows(e, "summary_old")}

    return setup, run, state


def case_stream_commit(spark, tmp, work_table=None):
    queue = tmp / "queue"
    queue.mkdir()

    def loader(e):
        q = FileQueue(str(queue), str(tmp / "done" / "%Y"), "%Y%m%d_%H%M_%Q.json")
        return StreamingLoader(e, q, "ev", "ev_l", work_table=work_table, fmt="json")

    def setup(e):
        (queue / "20240101_0000_00.json").write_text('{"x": 1}\n')
        loader(e).run_once()
        (queue / "20240101_0100_00.json").write_text('{"x": 2}\n{"x": 3}\n')

    def state(e):
        out = {"ev": rows(e, "ev"), "log": sorted(r.data_file for r in e.table("ev_l").collect())}
        if work_table:
            out[work_table] = rows(e, work_table)
        return out

    return setup, lambda e: loader(e).run_once(), state


def case_stream_commit_work(spark, tmp):
    """The default job shape: the work table's files, hard-linked, are
    the dest delta, and one manifest commits work, dest and log."""
    return case_stream_commit(spark, tmp, work_table="ev_wk")


CASES = {
    "overwrite": case_overwrite,
    "append": case_append,
    "append_partitioned": case_append_partitioned,
    "bucketed_overwrite": case_bucketed_overwrite,
    "rename": case_rename,
    "drop": case_drop,
    "rebuild_rename": case_rebuild_rename,
    "stream_commit": case_stream_commit,
    "stream_commit_work": case_stream_commit_work,
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_kill_at_every_file_operation_recovers_to_before_or_after(case, spark, tmp_path):
    """For every rename, replace, remove and rmtree the case performs on
    the warehouse: kill there, open a fresh engine, and require exactly
    the before state (kill at or before the commit point) or exactly the
    after state (kill after it), with no stage, trash, manifest or lock
    left behind."""
    build = CASES[case]

    def fresh(name):
        tmp = tmp_path / name
        tmp.mkdir()
        setup, action, state = build(spark, tmp)
        engine = SparkEngine(spark, str(tmp / "wh"))
        setup(engine)
        return engine, action, state

    try:
        engine, action, state = fresh("clean")
        before = state(engine)
        with kill_at(engine.warehouse, None) as ops:
            action(engine)
        after = state(engine)
        assert before != after
        commit = commit_index(ops, engine.warehouse)

        for k, op in enumerate(ops):
            engine, action, state = fresh(f"kill{k}")
            with pytest.raises(SimulatedKill):
                with kill_at(engine.warehouse, k):
                    action(engine)
            reopened = SparkEngine(spark, engine.warehouse)
            want = after if k > commit else before
            assert state(reopened) == want, (k, op)
            assert leftovers(engine.warehouse) == [], (k, op)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_kill")


def test_insert_delta_after_a_crash_inside_the_overwrite_keeps_history(
    engine, spark, tmp_path
):
    """Kill the overwrite after the live table has moved away and before
    the stage has moved in. Were the table left missing, the re-run of
    insert-delta would see no table and write only the new rows; the
    next engine open rolls the committed overwrite forward instead, so
    the re-run keeps every row outside delete-cond."""
    home = tmp_path / "home"
    (home / "subsys").mkdir(parents=True)
    job = home / "subsys" / "delta.sql.job"
    job.write_text(
        "/*\nclass: insert-delta\ndest-table: acc\n"
        "src-tables: {s: src_new}\ndelete-cond: \"d = '2024-01-02'\"\n*/\n"
        "select id, d from $s;\n"
    )
    engine.save_table(
        spark.createDataFrame(
            [(1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02")], "id int, d string"
        ),
        "acc",
    )
    engine.save_table(spark.createDataFrame([(4, "2024-01-02")], "id int, d string"), "src_new")
    live = engine.table_dir("acc")
    real_rename = os.rename

    def rename(src, dst):
        if "__stage__" in os.fspath(src) and os.fspath(dst) == live:
            raise SimulatedKill("before the stage moves in")
        real_rename(src, dst)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "rename", rename)
        with pytest.raises(SimulatedKill):
            Context(engine, home=str(home)).load_job(str(job)).execute()

    reopened = SparkEngine(spark, engine.warehouse)
    assert Context(reopened, home=str(home)).load_job(str(job)).execute().success
    assert sorted(r.id for r in reopened.table("acc").collect()) == [1, 2, 4]


def test_vacuum_and_stream_commit_interleaved_lose_no_rows(engine, tmp_path):
    """A stream commit that lands between vacuum's read and its publish
    would be deleted with the trashed directory; vacuum holds the
    table's writer lock from read to publish, so the commit waits."""
    queue = tmp_path / "queue"
    queue.mkdir()
    (queue / "20240101_0000_00.json").write_text('{"x": 1}\n{"x": 2}\n')
    q = FileQueue(str(queue), str(tmp_path / "done"), "%Y%m%d_%H%M_%Q.json")
    loader = StreamingLoader(engine, q, "ev", "ev_l", fmt="json")
    loader.run_once()
    (queue / "20240101_0100_00.json").write_text('{"x": 3}\n{"x": 4}\n{"x": 5}\n')

    vacuum_read, committed = threading.Event(), threading.Event()
    vacuum_thread = threading.current_thread()
    real_save = engine.save_table

    def save_after_read(df, dest, *a, **kw):
        # vacuum's publish: give the loader every chance to commit first
        if threading.current_thread() is vacuum_thread and str(dest) == "ev":
            vacuum_read.set()
            committed.wait(timeout=3)
        return real_save(df, dest, *a, **kw)

    def load():
        vacuum_read.wait(timeout=60)
        loader.run_once()
        committed.set()

    engine.save_table = save_after_read
    t = threading.Thread(target=load)
    t.start()
    try:
        engine.vacuum("ev", target_partitions=1)
    finally:
        t.join()
        del engine.save_table
    assert rows(engine, "ev") == [(x,) for x in range(1, 6)]
    assert sorted(r.data_file for r in engine.table("ev_l").collect()) == [
        "20240101_0000_00.json", "20240101_0100_00.json"
    ]


@pytest.mark.parametrize("rewrite", ["delete", "insert-delta"])
def test_an_append_racing_a_delete_rewrite_loses_no_rows(rewrite, engine, spark, tmp_path):
    """``DELETE FROM`` and ``insert-delta`` read the table, then overwrite
    it with what they kept. An append that lands between the read and
    the publish would be overwritten; both hold the table's writer lock
    from read to publish, so the append waits."""
    schema = "id int, d string"
    engine.save_table(
        spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-02")], schema), "acc"
    )
    home = tmp_path / "home"
    (home / "subsys").mkdir(parents=True)
    job = home / "subsys" / "delta.sql.job"
    job.write_text(
        "/*\nclass: insert-delta\ndest-table: acc\n"
        "delete-cond: \"d = '2024-01-02'\"\n*/\n"
        "select 3 as id, '2024-01-02' as d;\n"
    )
    read, appended = threading.Event(), threading.Event()
    rewriter = threading.current_thread()
    real_save = engine.save_table

    def save_after_read(df, dest, *a, **kw):
        # the rewrite's publish: give the appender every chance to land
        if threading.current_thread() is rewriter and str(dest) == "acc":
            read.set()
            appended.wait(timeout=3)
        return real_save(df, dest, *a, **kw)

    def append():
        read.wait(timeout=60)
        real_save(spark.createDataFrame([(9, "2024-01-03")], schema), "acc", mode="append")
        appended.set()

    engine.save_table = save_after_read
    t = threading.Thread(target=append)
    t.start()
    try:
        if rewrite == "delete":
            engine.execute_statement("DELETE FROM acc WHERE d = '2024-01-02'")
        else:
            assert Context(engine, home=str(home)).load_job(str(job)).execute().success
    finally:
        t.join()
        del engine.save_table
    kept = [(1, "2024-01-01")] + ([(3, "2024-01-02")] if rewrite == "insert-delta" else [])
    assert rows(engine, "acc") == sorted(kept + [(9, "2024-01-03")])


_LOADER = r"""
import os, sys, time
from bricolage_spark.engine import SparkEngine
from bricolage_spark.session import get_spark
from bricolage_spark.streaming.streaming_load import FileQueue, StreamingLoader

wh, queue, done, me, other = sys.argv[1:]
spark = get_spark("loader", master="local[1]", extra_conf={
    "spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "1"})
spark.range(1).collect()
open(me, "w").close()
deadline = time.monotonic() + 120
while not os.path.exists(other) and time.monotonic() < deadline:
    time.sleep(0.02)
engine = SparkEngine(spark, wh)
q = FileQueue(queue, done, "%Y%m%d_%H%M_%Q.json")
print(StreamingLoader(engine, q, "ev", "ev_l", fmt="json").run_once())
"""


def test_two_loader_processes_load_each_file_once(spark, tmp_path):
    """Two loader processes, each with its own session, started together
    over one queue of 6 files: the per-table writer locks serialize
    them, so each file is logged once and its rows land once."""
    queue = tmp_path / "queue"
    queue.mkdir()
    for i in range(6):
        (queue / f"20240101_0{i}00_00.json").write_text(
            "".join(json.dumps({"f": i, "x": j}) + "\n" for j in range(10))
        )
    wh, done = str(tmp_path / "wh"), str(tmp_path / "done")
    ready = [str(tmp_path / "ready0"), str(tmp_path / "ready1")]
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _LOADER, wh, str(queue), done, ready[i], ready[1 - i]],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for i in range(2)
    ]
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-3000:]
    engine = SparkEngine(spark, wh)
    log = [r.data_file for r in engine.table("ev_l").collect()]
    assert sorted(log) == sorted(f"20240101_0{i}00_00.json" for i in range(6))
    got = sorted((r.f, r.x) for r in engine.table("ev").collect())
    assert got == [(i, j) for i in range(6) for j in range(10)]


def test_dead_writers_lock_blocks_neither_recovery_nor_next_writer(engine, spark):
    """A writer killed after its commit point leaves its manifest, its
    stage and — being dead — a lock file naming a dead pid. The next
    engine open breaks that lock and rolls the publish forward; the next
    writer is not held up either."""
    engine.save_table(spark.createDataFrame([(1,)], "id int"), "t")
    with pytest.raises(SimulatedKill):
        with kill_at(engine.warehouse, 1):  # the first move after the commit
            engine.save_table(spark.createDataFrame([(2,)], "id int"), "t", mode="append")
    lock = os.path.join(engine.warehouse, ".locks", "default.t")
    with open(lock, "w") as f:
        f.write("999999999")  # no such pid
    reopened = SparkEngine(spark, engine.warehouse)
    assert rows(reopened, "t") == [(1,), (2,)]
    assert leftovers(engine.warehouse) == []

    with open(lock, "w") as f:
        f.write("999999999")
    t0 = time.monotonic()
    reopened.save_table(spark.createDataFrame([(3,)], "id int"), "t", mode="append")
    assert time.monotonic() - t0 < 30
    assert rows(reopened, "t") == [(1,), (2,), (3,)]
    assert not os.path.exists(lock)


def test_recovery_skips_a_table_a_live_writer_holds(engine, spark):
    """One process's recovery must not sweep another writer's in-flight
    stage: while the table's lock is held, a new engine leaves the stage
    alone; once it is released, recovery sweeps it."""
    stage = engine.table_dir("t") + ".__stage__inflight"
    os.makedirs(stage)
    holding, release = threading.Event(), threading.Event()

    def writer():
        with engine.locked("t"):
            holding.set()
            release.wait(timeout=60)

    t = threading.Thread(target=writer)
    t.start()
    try:
        holding.wait(timeout=60)
        SparkEngine(spark, engine.warehouse)
        assert os.path.isdir(stage)
    finally:
        release.set()
        t.join()
    SparkEngine(spark, engine.warehouse)
    assert not os.path.exists(stage)


# -- tooling guard: one publish path -----------------------------------------

# (file, enclosing function) pairs allowed to rename, replace, move or
# rmtree: the engine's publish and recovery code, and files that are
# not tables — the bucket-spec sidecar, the task queue's state file,
# lock files, and queue files on dequeue
ALLOWED = {
    ("engine.py", "SparkEngine._write_manifest"),
    ("engine.py", "SparkEngine._apply_moves"),
    ("engine.py", "SparkEngine.recover"),
    ("engine.py", "SparkEngine._write_bucket_spec"),
    ("taskqueue.py", "FileTaskQueue.save"),
    ("locks.py", "serialized"),
    ("streaming/streaming_load.py", "FileQueue.dequeue"),
    ("session.py", "_dump_class_archive"),  # the JVM class archive, not a table
}
_GUARDED = {("os", "rename"), ("os", "replace"), ("shutil", "move"), ("shutil", "rmtree")}


def _guarded_calls(path: str, rel: str):
    tree = ast.parse(open(path).read(), path)

    def walk(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield from walk(child, scope + [child.name])
                continue
            if isinstance(child, ast.ImportFrom) and child.module in ("os", "shutil"):
                for a in child.names:
                    if (child.module, a.name) in _GUARDED:
                        yield rel, ".".join(scope) or "<module>", f"from {child.module} import {a.name}"
            if (
                isinstance(child, ast.Attribute)
                and isinstance(child.value, ast.Name)
                and (child.value.id, child.attr) in _GUARDED
            ):
                yield rel, ".".join(scope), f"{child.value.id}.{child.attr}"
            yield from walk(child, scope)

    yield from walk(tree, [])


def test_every_rename_move_and_rmtree_is_in_the_publish_path():
    pkg = os.path.join(REPO, "bricolage_spark")
    found = []
    for d, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                found.extend(_guarded_calls(path, os.path.relpath(path, pkg)))
    stray = [c for c in found if c[:2] not in ALLOWED]
    assert stray == [], (
        "rename/replace/move/rmtree outside SparkEngine.publish and recovery; "
        "publish table changes through SparkEngine.publish"
    )
    # every allow-list entry still names a real call site
    assert {c[:2] for c in found} == ALLOWED
