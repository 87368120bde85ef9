"""Workload ``curation_net``: the example curation jobnet, closed loop.

Each unit is one full run of ``examples/curation_home/curation/
curation.jobnet`` (24 jobs, fan-out DAG) with ``--parallel 2`` into a
fresh warehouse, over the seeded documents and embeddings — what a
cron-invoked ``bricolage jobnet`` pays per snapshot. The first unit is
the cold one; warm units repeat until ``--seconds`` have passed.
"""

from __future__ import annotations

import os
import shutil
import time

import datagen
import stats
import warehouse

HERE = os.path.dirname(os.path.abspath(__file__))
HOME = os.path.join(os.path.dirname(HERE), "examples", "curation_home")
NET = os.path.join(HOME, "curation", "curation.jobnet")
PARALLEL = 2
N_JOBS = 24
# one warm run keeps a full measurement of the benchmark inside its time
# budget; a traced run needs 3: untraced, traced, untraced, so the traced
# net is timed against a neighbour on each side (the first warm net is
# still much slower than the next, so one neighbour would misread it)
MIN_WARM = 1
MIN_WARM_TRACED = 3

now = time.perf_counter


def run(spark, args, tracer):
    from bricolage_spark.context import Context
    from bricolage_spark.engine import SparkEngine
    from bricolage_spark.jobnet import RootJobNet
    from bricolage_spark.runner import JobNetRunner

    input_dir = os.path.join(args.run_dir, "input")
    input_bytes = warehouse.size_bytes(input_dir)
    deps = {
        str(j): {str(d) for d in ds}
        for j, ds in RootJobNet.load(HOME, NET).real_job_dependencies().items()
    }
    cmd_vars = {"testdata": input_dir}
    attempted = failed = 0

    def net_run(i: int, traced: bool):
        nonlocal attempted, failed
        root = os.path.join(args.run_dir, f"net{i}")
        engine = SparkEngine(spark, warehouse=os.path.join(root, "wh"))
        ctx = Context(engine, home=HOME)
        start, end = {}, {}
        ctx.hooks.before_job.append(lambda job, ref: start.__setitem__(ref, now()))
        ctx.hooks.after_job.append(lambda job, ref, status: end.__setitem__(ref, now()))
        if tracer is not None:
            ctx.hooks.before_job.append(tracer.before_job)
            ctx.hooks.after_job.insert(0, tracer.after_job)
            tracer.begin_unit(f"net:{i}", traced)
        t0 = now()
        report = JobNetRunner(ctx, queue_dir=os.path.join(root, "queue")).run(
            NET, cmd_variables=cmd_vars, parallel=PARALLEL
        )
        wall = now() - t0
        unit = tracer.end_unit() if tracer is not None else None
        attempted += N_JOBS
        failed += N_JOBS - len(report.succeeded)
        if unit is not None and report.success:  # DAG timings need every job
            dispatch = min(start.values())
            unit["runner.ready_wait_s"] = stats.ready_wait(deps, start, end, dispatch)
            unit["runner.critical_path_s"] = stats.critical_path(deps, start, end)
            unit["runner.slot_busy_frac"] = stats.slot_busy_frac(start, end, PARALLEL)
            busy = stats.union_length([(start[j], end[j]) for j in start])
            unit["runner.overhead_s"] = (
                wall - unit["jobs.compile_s"] - unit["jobnet.load_s"] - busy
            )
            unit["engine.rewrite_ratio"] = stats.rewrite_ratio(
                unit, warehouse.parquet_rows(engine.warehouse)  # fresh warehouse
            )
        fresh = [end[j] - t0 for j in end]  # when each job's table is visible
        return engine, wall, fresh, unit

    engine, first_run_s, _, _ = net_run(0, False)
    shutil.rmtree(os.path.join(args.run_dir, "net0"), ignore_errors=True)

    walls, traced, ratios = [], [], []
    p50s, tails = [], []  # per untraced run, so a run's sample count is fixed
    min_warm = MIN_WARM_TRACED if tracer is not None else MIN_WARM
    t_warm = now()
    i = 1
    while True:
        on = tracer is not None and i % 2 == 0
        engine, wall, f, _ = net_run(i, on)
        walls.append(wall)
        traced.append(on)
        if not on:
            p50s.append(stats.median(f))
            tail_pct, tail_s = stats.tail(f)
            tails.append(tail_s)
        ratios.append(warehouse.size_bytes(engine.warehouse) / input_bytes)
        done = len(walls) >= min_warm and now() - t_warm >= args.seconds
        if done and not on:
            break
        shutil.rmtree(os.path.join(args.run_dir, f"net{i}"), ignore_errors=True)
        i += 1

    problems = check(engine)
    untraced = [w for w, on in zip(walls, traced) if not on]
    result = {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": {
            "first_run_s": first_run_s,
            "makespan_p50_s": stats.median(untraced),
            "freshness_p50_s": stats.median(p50s),
            "freshness_tail_s": stats.median(tails),
            "rows_per_s": datagen.N_DOCS / stats.median(untraced),
            "bytes_per_input_byte": stats.median(ratios),
        },
        "info": {
            "warm_walls_s": [round(w, 3) for w in walls],
            "freshness_samples_per_run": N_JOBS,
            "freshness_tail_pct": tail_pct,
            "input_bytes": input_bytes,
        },
        "layers": {},
    }
    if tracer is not None:
        result["layers"] = stats.layer_medians(tracer.units)
        result["layers"]["trace.overhead_frac"] = stats.tracing_overhead(walls, traced)
    return result


def check(engine) -> list[str]:
    """Output checks on the last warm run's warehouse."""
    from pyspark.sql import functions as F

    problems = []
    dedup = engine.table("dedup_documents")
    digest = F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
    n, n_digests = dedup.select(F.count("*"), F.countDistinct(digest)).first()
    if n != n_digests or n == 0:
        problems.append(f"dedup_documents: {n} rows but {n_digests} distinct digests")
    leaking = engine.table("leakage_report").agg(F.sum("n_leaking")).first()[0] or 0
    if leaking != 0:
        problems.append(f"leakage_report: {leaking} leaking pairs")
    selected = engine.table("selected_documents")
    stray = selected.join(engine.table("capped_documents"), "doc_id", "left_anti").count()
    if stray or selected.count() == 0:
        problems.append(f"selected_documents: {stray} rows not in capped_documents")
    return problems
