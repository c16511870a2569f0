"""Tracing overhead: traced minus untraced, per end-to-end metric.

    python3 perfbench/overhead.py --workload NAME --seed N --seconds S

Runs the benchmark twice on the same seed, once with ``--trace 0`` and once
with ``--trace 1``, and prints one JSON object per end-to-end metric with
both values and their difference.  The traced run's end-to-end values are
read from its ``# detail`` line on stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds",
         str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    detail = next(json.loads(line[len("# detail "):])
                  for line in p.stderr.splitlines()
                  if line.startswith("# detail "))
    return result, detail


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args(argv)
    plain, _ = _run(args, 0)
    _, traced = _run(args, 1)
    out = {}
    for name, m in plain["metrics"].items():
        t = traced["e2e"][name]
        out[name] = {"untraced": m["value"], "traced": t,
                     "overhead": t - m["value"], "unit": m["unit"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "overhead": out}))


if __name__ == "__main__":
    main()
