"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median), next to its bound:

    python3 perfbench/spread.py --workload stream_load --runs 10 [--first-seed 1]

A spread under a third of the bound is the steadiness target; the
set-up time's spread is reported but only its median is bounded.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=REPO, capture_output=True, text=True,
        )
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: " + json.dumps({k: round(v["value"], 4) for k, v in result["metrics"].items()}))
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        spread = stats.quartile_spread(vs) if len(vs) > 1 else float("nan")
        flag = "ok" if spread < m["bound"] / 3 else ("within bound" if spread <= m["bound"] else "TOO WIDE")
        print(f"{m['name']:<22} median {stats.median(vs):>10.4f} {m['unit']:<7} "
              f"spread {spread:6.3f}  bound {m['bound']:.2f}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
