"""Exactness audit of the per-layer counts.

Runs two traced runs of each workload on the same seed and marks every
count in ``run.COUNT_KEYS`` *exact* (equal for every operation of every
pass both runs measured) or *varies* (with the two runs' values where they
first differ). A later change may cite an *exact* count as a count.

    python3 perfbench/audit.py --seed 7 --seconds 10 --out perfbench/EXACTNESS.json
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def traced_counts(workload: str, seed: int, seconds: float, out: str) -> list[dict]:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
         "--counts-out", out],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    with open(out) as f:
        return json.load(f)


def compare(a: list[dict], b: list[dict], keys) -> dict:
    """Per count: exact, or the first (pass, op, a, b) that differs."""
    pairs = list(zip(a, b))  # the shorter run bounds the comparison
    out = {}
    for k in keys:
        diff = next(
            ((x["pass"], x["op"], x[k], y[k]) for x, y in pairs if x[k] != y[k]), None
        )
        out[k] = (
            {"verdict": "exact", "operations_compared": len(pairs)}
            if diff is None
            else {
                "verdict": "varies",
                "first_difference": {"pass": diff[0], "op": diff[1], "run1": diff[2], "run2": diff[3]},
            }
        )
    return out


def main(argv=None) -> int:
    from run import COUNT_KEYS
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    report = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_audit") as tmp:
        for name in WORKLOADS:
            runs = [
                traced_counts(name, args.seed, args.seconds, os.path.join(tmp, f"{name}{i}.json"))
                for i in (1, 2)
            ]
            report["workloads"][name] = compare(runs[0], runs[1], COUNT_KEYS)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")
    for name, verdicts in report["workloads"].items():
        for k, v in verdicts.items():
            print(f"{name} {k}: {v['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
