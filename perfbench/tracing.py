"""Tracing from the benchmark's side of the program's public functions.

``Tracer.install()`` wraps the public functions of each layer (jobnet,
jobs, taskqueue, engine, streaming loader) in place, and
``before_job``/``after_job`` are callbacks for ``Context.hooks``. Each call records a span (id, name, start, end,
parent) and adds its count and time to the current unit's counters — a
unit is one net run or one micro-batch. Spark job/stage/task counts per
bricolage job come from ``SparkContext.statusTracker()`` under a job
group set for the job's thread.

Untraced runs never call ``install()``; traced runs switch ``enabled``
per unit, so one run can time traced and untraced units side by side.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import threading
import time
from collections import Counter

now = time.perf_counter


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.spans: list[tuple] = []  # (id, name, start, end, parent)
        self.units: list[Counter] = []  # counters of each traced unit
        self._unit: Counter | None = None
        self._unit_span: tuple | None = None  # (id, name, start)
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()

    # -- spans and counters -------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> tuple:
        stack = self._stack()
        parent = stack[-1] if stack else (self._unit_span or (None,))[0]
        sid = next(self._ids)
        stack.append(sid)
        return sid, name, now(), parent

    def close(self, token: tuple) -> float:
        sid, name, start, parent = token
        end = now()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()
        with self._lock:
            self.spans.append((sid, name, start, end, parent))
        return end - start

    def add(self, key: str, value: float = 1) -> None:
        with self._lock:
            if self._unit is not None:
                self._unit[key] += value

    def begin_unit(self, name: str, traced: bool) -> None:
        """Start a unit; its span parents every span opened with an empty
        stack, in any thread (the runner's worker threads included)."""
        self.enabled = traced
        if traced:
            self._unit = Counter()
            self._unit_span = (next(self._ids), name, now())

    def end_unit(self) -> Counter | None:
        if not self.enabled:
            return None
        sid, name, start = self._unit_span
        with self._lock:
            self.spans.append((sid, name, start, now(), None))
        unit, self._unit, self._unit_span = self._unit, None, None
        self.units.append(unit)
        self.enabled = False
        return unit

    # -- wrapping the program's public functions ------------------------------

    def wrap(self, owner, attr, name, time_key, calls_key=None, rows_key=None):
        """Replace ``owner.attr`` by a wrapper that, while enabled, records a
        span called ``name`` and adds the call's seconds, one call, and
        (for writers returning a row count) its rows to the unit."""
        static = inspect.getattr_static(owner, attr)
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            token = self.open(name)
            try:
                result = original(*args, **kwargs)
            finally:
                self.add(time_key, self.close(token))
                if calls_key:
                    self.add(calls_key)
            if rows_key and isinstance(result, int):
                self.add(rows_key, result)
            return result

        if isinstance(static, classmethod):
            traced = staticmethod(traced)  # ``original`` is already bound
        setattr(owner, attr, traced)

    def install(self) -> None:
        from bricolage_spark.engine import SparkEngine
        from bricolage_spark.jobnet import RootJobNet
        from bricolage_spark.jobs import Job
        from bricolage_spark.streaming.streaming_load import FileQueue, StreamingLoader
        from bricolage_spark.taskqueue import FileTaskQueue

        self.wrap(RootJobNet, "load", "jobnet.load", "jobnet.load_s")
        self.wrap(Job, "compile", "jobs.compile", "jobs.compile_s")
        self.wrap(
            FileTaskQueue, "save", "taskqueue.save", "taskqueue.save_s",
            "taskqueue.save.calls",
        )
        for fn in ("save_table", "save_table_bucketed"):
            key = f"engine.{fn}"
            self.wrap(
                SparkEngine, fn, key, f"{key}.s", f"{key}.calls", f"{key}.rows"
            )
        for fn in ("execute_statement", "register"):
            key = f"engine.{fn}"
            self.wrap(SparkEngine, fn, key, f"{key}.s", f"{key}.calls")
        for owner, fn in (
            (StreamingLoader, "run_once"),
            (StreamingLoader, "recover"),
            (StreamingLoader, "new_files"),
            (FileQueue, "queued_files"),
            (FileQueue, "dequeue"),
        ):
            self.wrap(owner, fn, f"stream.{fn}", f"stream.{fn}_s")

    # -- per-job spans and Spark counters --------------------------------------

    def before_job(self, job, ref: str) -> None:
        if not self.enabled:
            return
        group = f"bench:{self._unit_span[0]}:{ref}"
        self._local.job = (self.open(f"job:{job.class_name}"), group)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)

    def after_job(self, job, ref: str, status: str = "") -> None:
        if not self.enabled or getattr(self._local, "job", None) is None:
            return
        token, group = self._local.job
        self._local.job = None
        self.add(f"jobs.execute_s.{job.class_name}", self.close(token))
        self.add(f"jobs.count.{job.class_name}")
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            self.add("spark.jobs")
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    self.add("spark.stages")
                    self.add("spark.tasks", stage.numTasks)

    def dump(self, path: str) -> None:
        """Write every span, times relative to the first span's start."""
        t0 = min((s[2] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s, "name": n, "start": a - t0, "end": b - t0, "parent": p}
                    for s, n, a, b, p in sorted(self.spans, key=lambda x: x[2])
                ],
                f,
            )
