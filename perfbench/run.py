"""The benchmark of record. Run from the repository root:

    python3 perfbench/run.py --workload curation_net --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, times the cold start
(for ``stream_load`` twice: a set-up probe and the measured process
itself), runs the workload in a fresh process, checks its outputs, and prints one JSON object as the
last line of standard output. ``--trace 0`` reports the end-to-end metrics
of ``BENCHMARK.json``, ``--trace 1`` the per-layer ones and writes the
spans to ``perfbench/.out/``. Exits non-zero when the workload fails (then
without a result line) or when an output check fails (then the result
says ``"correct": false``). See README.md in this directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402

WORKLOADS = ("curation_net", "stream_load")
# cold starts timed per run: set-up probes + the measured process itself.
# A curation_net run is the longest by far; a probe (about 10 s) would
# take the margin out of the time budget of a full measurement (README.md)
SETUP_SAMPLES = {"curation_net": 1, "stream_load": 2}
DEADLINE_S = 170.0  # every child is killed by then
PR_SET_CHILD_SUBREAPER = 36


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def descendants(root: int) -> list[int]:
    """Every live process below ``root``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while we looked
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            found.append(pid)
            todo.append(pid)
    return found


def stop_descendants(timeout_s: float = 10.0) -> None:
    """Kill every process below this one and reap each, until none is
    left. Spark's JVM and its Python worker daemon, which moves itself to
    a process group of its own, are all below the worker; as subreaper
    (see main) this process inherits whatever a killed parent orphans, so
    once ``waitpid`` finds no child, nothing it started is left."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        time.sleep(0.01)


class Child:
    """A worker process in a session of its own, away from the
    terminal's signals."""

    def __init__(self, argv, cwd, env, log):
        self.t_spawn = time.perf_counter()
        self.proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, start_new_session=True,
        )
        self.t_ready = None
        self.result = None

    def read(self, until: str) -> int | None:
        """Read the child's lines up to the ``until`` marker; then the
        child is done (it and its JVM are killed, not stopped: shutting
        Spark down is no part of what is measured). Returns the exit code
        if the child ended before the marker, else None."""
        for line in self.proc.stdout:
            if line.startswith("@@ready") and self.t_ready is None:
                self.t_ready = time.perf_counter()
            elif line.startswith("@@result "):
                self.result = json.loads(line[len("@@result "):])
            if line.startswith(until):
                stop_descendants()
                self.proc.wait()  # already reaped; this records it
                return None
        return self.proc.wait()


def launch(args, run_dir, probe, log):
    env = dict(os.environ)
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    os.makedirs(tmp, exist_ok=True)
    argv = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir,
    ] + (["--probe"] if probe else [])
    return Child(argv, run_dir, env, log)


def fail(msg: str, log_path: str | None = None) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    if log_path and os.path.exists(log_path):
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
    return 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a killed worker's JVM and Python workers are re-parented to this
    # process, not to init, so stop_descendants() finds and reaps them
    try:
        ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass
    # a run stopped with SIGTERM leaves through the ``finally`` below, so
    # it stops every process it started too
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))

    if not os.path.isdir(os.path.join(REPO, "bricolage_spark")):
        return fail(f"no bricolage_spark package next to {HERE}; run from a checkout")
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)

    run_dir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log_path = os.path.join(run_dir, "worker.log")

    watchdog = threading.Timer(DEADLINE_S, stop_descendants)
    watchdog.start()
    try:
        if args.workload == "curation_net":
            datagen.write_curation_inputs(args.seed, os.path.join(run_dir, "input"))
        setup = []
        with open(log_path, "w") as log:
            for probe in [True] * (SETUP_SAMPLES[args.workload] - 1) + [False]:
                child = launch(args, run_dir, probe, log)
                rc = child.read("@@ready" if probe else "@@result")
                if rc is not None:
                    return fail(f"worker exited early with code {rc}", log_path)
                setup.append(child.t_ready - child.t_spawn)
        res = child.result
        if res is None:
            return fail("worker printed no result", log_path)
        res["metrics"]["setup_s"] = statistics.median(setup)
        info = dict(res["info"], seed=args.seed, nproc=nproc(), **res["env"])
        info["setup_samples_s"] = setup
        if args.trace:
            spans = os.path.join(HERE, ".out", f"spans-{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copyfile(os.path.join(run_dir, "spans.json"), spans)
            info["spans_file"] = os.path.relpath(spans, REPO)
            wanted, values = spec["per_layer"], res["layers"]
        else:
            wanted, values = spec["end_to_end"], res["metrics"]
        # a layer the workload never reaches reads 0; a metric that could
        # not be computed at all (None, NaN) fails the run
        metrics = {
            m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
            for m in wanted
        }
        bad = [k for k, v in metrics.items() if v["value"] is None or not math.isfinite(v["value"])]
        if bad:
            return fail(f"metrics not measured: {', '.join(bad)}", log_path)
        correct = not res["problems"] and res["failed"] == 0
        for p in res["problems"]:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        print("info " + json.dumps(info))
        print(json.dumps({
            "correct": correct,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        watchdog.cancel()
        stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
