"""Exact-count audit: run the traced mode twice on one seed per workload and
report, for every per-layer metric counted in bytes or items, whether it
repeats exactly; for the others (and for times), the spread of the pair.

    python3 perfbench/audit.py [--seed N] [--seconds S] [workload ...]

A later claim may rest on a count only if this audit shows it repeating.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNT_UNITS = {"count", "bytes"}


def traced(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    report = {}
    for w in names:
        a, b = traced(w, args.seed, args.seconds), traced(w, args.seed, args.seconds)
        rows = {}
        for m in bench["per_layer"]:
            x, y = a[m["name"]]["value"], b[m["name"]]["value"]
            kind = "count" if m["unit"] in COUNT_UNITS else "time"
            spread = abs(x - y) / max(abs(x), abs(y)) if max(abs(x), abs(y)) else 0.0
            rows[m["name"]] = {"kind": kind, "a": x, "b": y, "exact": x == y,
                               "spread": spread}
            print(f"{w:18s} {m['name']:30s} {kind:5s} "
                  f"{'exact' if x == y else f'spread {spread:.3%}':>14s}  {x} / {y}")
        report[w] = rows
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
