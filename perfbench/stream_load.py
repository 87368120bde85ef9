"""Workload ``stream_load``: the ``streaming_load`` job class, open loop.

A generator thread drops seeded JSON event files into a queue directory
at a fixed rate; the main thread invokes the streaming_load job once per
micro-batch whenever files are waiting (a job load + compile + execute
each time, as a cron-invoked ``bricolage job`` would). Phases:

1. first batch: a backlog loaded by the process's first invocation;
2. warm-up: a few untimed batches the size of an open-loop batch, so the
   open loop measures the loader after its code has warmed up;
3. open loop: ``RATE`` files per second for ``--seconds``; each file's
   freshness runs from when it was DUE to the end of the batch that
   committed it;
4. drain: a pre-seeded backlog dropped at once and loaded to empty.
"""

from __future__ import annotations

import os
import threading
import time

import datagen
import stats
import warehouse

HERE = os.path.dirname(os.path.abspath(__file__))
JOB = os.path.join(HERE, "stream_home", "stream", "load_events.job")
# files per second in the open loop: a batch then holds well under the 16
# files one wave of tasks reads on 4 cores, so a slow host does not tip
# batches into a second wave (README.md)
RATE = 3.0
N_FIRST = 24  # the cold batch
N_WARM = 2  # warm-up batches before the open loop
WARM_FILES = 6  # per warm-up batch: about what an open-loop batch holds
N_BACKLOG = 100
STALL_S = 60.0  # give up on the open loop this long after its schedule ends

now = time.perf_counter


def put(queue_dir: str, name: str, payload: bytes) -> None:
    """Write under a name the loader's pattern ignores, then rename: the
    loader never sees a half-written file."""
    tmp = os.path.join(queue_dir, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(payload)
    os.rename(tmp, os.path.join(queue_dir, name))


def run(spark, args, tracer):
    from bricolage_spark.context import Context
    from bricolage_spark.engine import SparkEngine
    from bricolage_spark.exception import ApplicationError

    queue_dir = os.path.join(args.run_dir, "queue")
    archive_dir = os.path.join(args.run_dir, "archive")
    done_dir = os.path.join(archive_dir, "2024", "01", "01")
    os.makedirs(queue_dir)
    engine = SparkEngine(spark, warehouse=os.path.join(args.run_dir, "wh"))
    ctx = Context(engine, home=os.path.dirname(os.path.dirname(JOB)))
    cmd_vars = {"queue_dir": queue_dir, "archive_dir": archive_dir}
    files = datagen.event_files(
        args.seed,
        {
            "first": N_FIRST,
            "warm": N_WARM * WARM_FILES,
            "open": int(RATE * args.seconds),
            "backlog": N_BACKLOG,
        },
    )
    attempted = sum(len(v) for v in files.values())
    errors = []

    def batch(name: str, traced: bool) -> float:
        rows_before = warehouse.parquet_rows(engine.warehouse) if traced else 0
        if tracer is not None:
            tracer.begin_unit(name, traced)
        t = now()
        job = ctx.load_job(JOB, cmd_vars)
        job.compile()
        if tracer is not None:
            tracer.before_job(job, "stream/load_events")
        try:
            job.execute()
        except (ApplicationError, OSError) as err:  # what the runner records as a failed job
            errors.append(f"{name}: {err}")
        if tracer is not None:
            tracer.after_job(job, "stream/load_events")
        wall = now() - t
        unit = tracer.end_unit() if tracer is not None else None
        if unit is not None:
            added = warehouse.parquet_rows(engine.warehouse) - rows_before
            unit["engine.rewrite_ratio"] = stats.rewrite_ratio(unit, added)
        return wall

    # 1. first batch — the cold invocation
    for name, payload, _, _ in files["first"]:
        put(queue_dir, name, payload)
    first_run_s = batch("batch:first", False)

    # 2. warm-up
    warm, warm_walls = files["warm"], []
    for k in range(0, len(warm), WARM_FILES):
        for name, payload, _, _ in warm[k:k + WARM_FILES]:
            put(queue_dir, name, payload)
        warm_walls.append(batch(f"batch:warm{k // WARM_FILES}", False))

    # 3. open loop
    open_files = files["open"]
    due = [i / RATE for i in range(len(open_files))]
    written = [None] * len(open_files)
    committed = [None] * len(open_files)
    t0 = now()

    def generate():
        for i, (name, payload, _, _) in enumerate(open_files):
            delay = t0 + due[i] - now()
            if delay > 0:
                time.sleep(delay)
            put(queue_dir, name, payload)
            written[i] = now() - t0

    gen = threading.Thread(target=generate, name="generator", daemon=True)
    gen.start()
    walls, traced = [], []
    idle = 0.0
    seen = 0  # files [0, seen) are written; those not committed are waiting
    while True:
        while seen < len(open_files) and written[seen] is not None:
            seen += 1
        waiting = [i for i in range(seen) if committed[i] is None]
        stalled = now() - t0 > args.seconds + STALL_S
        if stalled or (not waiting and seen == len(open_files)):
            break
        if not waiting:
            t = now()
            time.sleep(0.005)
            idle += now() - t
            continue
        on = tracer is not None and len(walls) % 2 == 1
        walls.append(batch(f"batch:{len(walls)}", on))
        traced.append(on)
        t_end = now() - t0
        n = 0
        for i in range(seen):
            if committed[i] is None and os.path.exists(os.path.join(done_dir, open_files[i][0])):
                committed[i] = t_end
                n += 1
        if on:
            tracer.units[-1]["stream.files_per_batch"] = n
    open_wall = now() - t0
    gen.join()

    # 4. drain
    for name, payload, _, _ in files["backlog"]:
        put(queue_dir, name, payload)
    t = now()
    for attempt in range(5):
        if not any(not n.startswith(".") for n in os.listdir(queue_dir)):
            break
        batch(f"batch:drain{attempt}", False)
    drain_s = now() - t

    checked, loaded_once = check(engine, files, queue_dir)
    problems = errors + open_loop_problems(committed, stalled) + checked
    fresh = stats.freshness(due, committed)
    late = stats.lateness(due, written)
    tail_pct, tail_s = stats.tail(fresh)
    # steady state only: the open loop's first batch starts on a single
    # file and its last one mops up after the generator stopped
    steady = [w for w, on in list(zip(walls, traced))[1:-1] if not on]
    failed = attempted - loaded_once
    result = {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": {
            "first_run_s": first_run_s,
            "makespan_p50_s": stats.median(steady),
            "freshness_p50_s": stats.median(fresh),
            "freshness_tail_s": tail_s,
            "rows_per_s": sum(f[2] for f in files["backlog"]) / drain_s,
            "bytes_per_input_byte": warehouse.size_bytes(engine.warehouse)
            / sum(len(f[1]) for v in files.values() for f in v),
        },
        "info": {
            "warmup_walls_s": [round(w, 3) for w in warm_walls],
            "batch_walls_s": [round(w, 3) for w in walls],
            "freshness_samples": len(fresh),
            "freshness_tail_pct": tail_pct,
            "generator_late_p50_s": stats.median(late),
            "generator_late_max_s": max(late),
            "drain_s": drain_s,
        },
        "layers": {},
    }
    if tracer is not None:
        result["layers"] = stats.layer_medians(tracer.units)
        result["layers"]["stream.idle_frac"] = idle / open_wall
        result["layers"]["trace.overhead_frac"] = stats.tracing_overhead(walls, traced)
    return result


def open_loop_problems(committed, stalled: bool) -> list[str]:
    """Freshness needs one sample per open-loop file. A file the loop left
    uncommitted would be loaded by the drain and pass every output check,
    yet drop out of the freshness percentiles, and it is the stalest."""
    problems = []
    if stalled:
        problems.append(f"open loop stalled: stopped {STALL_S:.0f} s after its schedule ended")
    missing = sum(c is None for c in committed)
    if missing:
        problems.append(f"open loop: {missing} of {len(committed)} files not committed in it")
    return problems


def check(engine, files, queue_dir: str) -> tuple[list[str], int]:
    """Output checks, and the number of generated files that appear
    exactly once in the load log."""
    from pyspark.sql import functions as F

    problems = []
    all_files = [f for v in files.values() for f in v]
    rows = sum(f[2] for f in all_files)
    id_sum = sum(f[3] for f in all_files)
    n, s, d = (
        engine.table("events")
        .select(F.count("*"), F.sum("event_id"), F.countDistinct("event_id"))
        .first()
    )
    if (n, s, d) != (rows, id_sum, rows):
        problems.append(
            f"events: {n} rows, {d} distinct ids, id sum {s}; "
            f"expected {rows} rows, id sum {id_sum}"
        )
    logged = {
        r.data_file: r.n
        for r in engine.table("events_l").groupBy("data_file").agg(F.count("*").alias("n")).collect()
    }
    names = {f[0] for f in all_files}
    loaded_once = sum(1 for name in names if logged.get(name) == 1)
    if loaded_once != len(names) or len(logged) != len(names):
        problems.append(
            f"events_l: {loaded_once} of {len(names)} files logged exactly once, "
            f"{len(logged)} files logged"
        )
    left = [n for n in os.listdir(queue_dir) if not n.startswith(".")]
    if left:
        problems.append(f"queue not empty after drain: {len(left)} files")
    tx = os.path.join(engine.warehouse, ".streaming_load_tx")
    if os.path.isdir(tx) and os.listdir(tx):
        problems.append(f".streaming_load_tx not empty: {os.listdir(tx)}")
    return problems, loaded_once
