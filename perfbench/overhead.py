"""Tracing overhead: traced minus untraced run, per workload.

    python3 perfbench/overhead.py --seed 1 [--seconds 30] [--workload tail_mor_serve ...]

Runs ``run.py`` once with ``--trace 0`` and once with ``--trace 1`` on the
same seed, then prints, for every end-to-end metric, the untraced value,
the traced run's own value (from its span file) and the difference.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["tail_mor_serve", "backfill"]


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--workload", nargs="*", default=WORKLOADS)
    args = ap.parse_args()
    for w in args.workload:
        plain = _run(w, args.seed, args.seconds, 0)
        _run(w, args.seed, args.seconds, 1)
        with open(os.path.join(ROOT, ".bench_out", f"trace-{w}-{args.seed}.json")) as f:
            traced = json.load(f)["end_to_end_traced"]
        print(f"{w} (seed {args.seed})")
        for k, v in plain["metrics"].items():
            t = traced[k]
            print(f"  {k:26s} untraced {v['value']:12.4f}  traced {t:12.4f}  "
                  f"diff {t - v['value']:+10.4f} {v['unit']} ({(t / v['value'] - 1) * 100:+.1f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
