"""Record a traced run of every workload next to an untraced one.

    python3 perfbench/record_trace.py --seed 42 --out perfbench/results

For each workload this runs ``perfbench/run.py`` once with tracing off and
once with it on (same seed, one after the other, never concurrently) and
writes ``<out>/trace-seed<seed>.json``: the end-to-end metrics, the
per-layer metrics, the spans of the traced run's forced pass and its wall
time, and the tracing overhead (the traced run's timed pass, which logs
Spark events, minus the untraced run's pass).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, traced: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(traced)],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", default=os.path.join(HERE, "results"))
    args = ap.parse_args()

    record = {"seed": args.seed, "workloads": {}}
    for name in WORKLOADS:
        plain = run(name, args.seed, 0)
        traced = run(name, args.seed, 1)
        with open(os.path.join(ROOT, ".perfbench", "traces",
                               f"{name}-seed{args.seed}.json")) as f:
            trace = json.load(f)
        wall = plain["metrics"]["wall_s"]["value"]
        record["workloads"][name] = {
            "end_to_end": plain["metrics"],
            "per_layer": traced["metrics"],
            "tracing_overhead_s": traced["metrics"]["trace.wall_s"]["value"]
            - wall,
            "forced_pass_s": trace["forced_pass_s"],
            "spans": trace["spans"],
        }
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"trace-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(path)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
