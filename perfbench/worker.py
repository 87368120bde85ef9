"""One benchmark process: cold start, then one workload.

Launched by ``run.py`` in a fresh interpreter, with the run's temporary
directory as working directory. It prints ``@@ready`` once the session
is warm (import, ``get_spark``, first action) — the launcher times the
set-up from spawn to that line — then, unless it is a set-up probe, runs
the workload and prints ``@@result <json>``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--probe", action="store_true")
    args = ap.parse_args()

    from bricolage_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    print("@@ready", flush=True)
    if args.probe:
        time.sleep(60)  # the launcher kills the probe once it is ready
        return 1

    import curation_net
    import stream_load
    from tracing import Tracer

    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        tracer.install()
    workload = {"curation_net": curation_net, "stream_load": stream_load}[args.workload]
    result = workload.run(spark, args, tracer)
    if tracer is not None:
        result["layers"]["session.get_spark_s"] = get_spark_s
        result["layers"]["trace.spans"] = len(tracer.spans) / len(tracer.units)
        tracer.dump(os.path.join(args.run_dir, "spans.json"))
    result["env"] = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),  # noqa: SLF001
        "python": sys.version.split()[0],
    }
    print("@@result " + json.dumps(result), flush=True)
    time.sleep(60)  # the launcher kills the worker once it has the result
    return 1


if __name__ == "__main__":
    sys.exit(main())
