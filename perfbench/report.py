"""Every metric of every workload from one command.

    python3 perfbench/report.py [--seed 1] [--seconds 14] [--workloads migrate,corpus,ingest]

Runs each workload twice with the same seed — untraced, then traced —
each through ``run.py`` in its own process, and prints the end-to-end
metrics (with ``fail_ratio``), the per-layer metrics, and the tracing
overhead: the traced run's steady wall minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True)
    return json.loads(r.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--workloads", default="migrate,corpus,ingest")
    args = ap.parse_args()
    for w in args.workloads.split(","):
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        ratio = plain["failed"] / plain["attempted"]
        print(f"== {w} (seed {args.seed}): correct={plain['correct'] and traced['correct']}")
        for k, m in plain["metrics"].items():
            print(f"  {k:<30} {m['value']:>16.4f}  {m['unit']}")
        print(f"  {'fail_ratio':<30} {ratio:>16.4f}  ratio "
              f"({plain['failed']}/{plain['attempted']})")
        for k, m in traced["metrics"].items():
            print(f"  {k:<30} {m['value']:>16.4f}  {m['unit']}")
        over = traced["metrics"]["trace.wall_s"]["value"] - plain["metrics"]["wall_s"]["value"]
        print(f"  {'trace.overhead_s':<30} {over:>16.4f}  s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
