"""Smoke test of the benchmark itself: every workload once at the tiny
``smoke`` size, untraced and traced, asserting that the result line
carries every metric BENCHMARK.json names, with its unit, and that no op
failed.

    python3 perfbench/smoke.py            # from the root of a checkout
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n"
                             f"{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    import workloads

    names = [w["name"] for w in bench["workloads"]]
    extra = sorted(set(workloads.WORKLOADS) - set(names))
    problems = []
    for workload in names + extra:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(workload, trace)
            if res["failed"] or not res["correct"]:
                problems.append(f"{workload} trace={trace}: {res['failed']} ops failed")
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{workload} trace={trace}: {m['name']} missing")
                elif got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    problems.append(f"{workload} trace={trace}: {m['name']} = {got}")
            print(f"{workload} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} ops", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
