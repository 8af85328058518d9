"""Paired A/B runs of the benchmark in two checkouts.

    python scripts/ab_pairs.py --parent DIR --change DIR --seeds 5001-5010
        [--workloads fill_dup_few ...] [--claim fill_dup_few:op_s_p50]
        [--out runs.jsonl]
    python scripts/ab_pairs.py --from runs.jsonl [--claim ...]
    python scripts/ab_pairs.py --parent DIR --change DIR --trace-seed 9301
        [--workloads fill_unique_many ...]

Runs ``perfbench/run.py`` (untraced, for BENCHMARK.json's ``run_seconds``)
in each checkout, one pair per seed and workload, alternating which side
runs first. Each run's result goes to ``--out`` as one JSON line as soon
as it ends, so an interrupted session keeps its pairs, and ``--from``
summarizes such a file without running.

For each workload and end-to-end metric of the change's BENCHMARK.json it
prints both sides' medians and quartiles, the change's wins (ties count
for neither side) and every pair's values. A ``--claim WORKLOAD:METRIC``
gets the paired verdict: at least 10 pairs, the change better in at least
9 of every 10, and the medians apart by more than the parent's
interquartile range. Every other pairing gets a bound check: the change's
median may be worse than the parent's by at most the metric's ``bound``
(a share of the parent's median), and its share of failed ops may not be
larger. Exit status 1 when a claim or a bound check fails.

``--trace-seed N`` runs instead one traced ``perfbench/run.py`` per side
and workload on seed N and prints every per-layer metric side by side,
with the median per-op task run time from the trace file. The exact counts
of ``perfbench/README.md``'s audit repeat for a seed, so one that differs
between the sides is flagged: the change moved it. Exit status 1 when a
traced run fails.

The two checkouts should be clean copies of the commits being compared
(``git clone`` or ``git archive``); each run writes only under its own
checkout's ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")
# the counts perfbench/README.md's exact-count audit found repeating
EXACT_COUNTS = (
    *(f"core.{k}.state_bytes" for k in ("udds", "kll", "tdigest", "hll", "cms")),
    "agg.partial_rows", "agg.partial_state_bytes", "agg.bucket_rows",
    "spark.scan_bytes", "spark.shuffle_bytes", "spark.shuffle_records",
    "spark.python_bytes_sent", "spark.python_bytes_received", "spark.jobs",
    "spark.tasks", "driver.collect_rows", "checkpoint.files_scanned",
    "checkpoint.rescan_share",
)
# from each traced run's trace file: median over the traced ops
TASK_RUN = "op.task_run_s"


def parse_seeds(spec: str) -> list[int]:
    """'5001-5010' or '5001,5003,5007' (ranges and lists combine)."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def _bench(checkout: str, workload: str, seed: int, seconds: float,
           trace: int) -> dict | None:
    """The result line of one benchmark run, or None when it failed."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run: the result line, plus the attempted and
    failed op counts (``failed`` is None when the run itself failed)."""
    res = _bench(checkout, workload, seed, seconds, 0)
    if res is None:
        return {"metrics": {}, "attempted": 0, "failed": None}
    return {"metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "attempted": res["attempted"], "failed": res["failed"]}


def run_traced(checkout: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One traced benchmark run: {metric: value} over the per-layer record
    and the median per-op task run time; None when the run failed."""
    res = _bench(checkout, workload, seed, seconds, 1)
    if res is None:
        return None
    metrics = {k: v["value"] for k, v in res["metrics"].items()}
    path = os.path.join(checkout, ".perfbench_out", f"trace-{workload}-{seed}.json")
    with open(path) as f:
        per_op = json.load(f)["per_op"]
    metrics[TASK_RUN] = statistics.median(r["task_run_s"] for r in per_op)
    return metrics


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def pair_up(runs: list[dict]) -> dict:
    """{workload: {seed: {side: run}}} keeping only complete pairs."""
    out: dict = {}
    for r in runs:
        out.setdefault(r["workload"], {}).setdefault(r["seed"], {})[r["side"]] = r
    return {w: {s: p for s, p in by_seed.items() if len(p) == 2}
            for w, by_seed in out.items()}


def summarize(pairs: dict, spec: dict, claims: set) -> bool:
    """Print the per-metric tables and verdicts; False when a claim or a
    bound check fails."""
    ok = True
    metrics = spec["end_to_end"]
    for workload, by_seed in sorted(pairs.items()):
        seeds = sorted(by_seed)
        print(f"\n== {workload}: {len(seeds)} pairs (seeds {seeds})")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            vals = {side: [by_seed[s][side]["metrics"].get(name) for s in seeds]
                    for side in SIDES}
            if any(v is None for side in SIDES for v in vals[side]):
                print(f"  {name}: missing in some run")
                ok = False
                continue
            wins = sum((c < p) if lower else (c > p)
                       for p, c in zip(vals["parent"], vals["change"]))
            losses = sum((c > p) if lower else (c < p)
                         for p, c in zip(vals["parent"], vals["change"]))
            pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
            print(f"  {name} [{m['unit']}, {m['better']} is better]: parent "
                  f"{pq[1]:.6g} (q1 {pq[0]:.6g}, q3 {pq[2]:.6g}); change "
                  f"{cq[1]:.6g} (q1 {cq[0]:.6g}, q3 {cq[2]:.6g}); change wins "
                  f"{wins}, loses {losses} of {len(seeds)}")
            print("    pairs (parent/change): " + ", ".join(
                f"{p:.4g}/{c:.4g}" for p, c in zip(vals["parent"], vals["change"])))
            if (workload, name) in claims:
                n = len(seeds)
                gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
                iqr = pq[2] - pq[0]
                held = n >= 10 and wins >= 0.9 * n and gap > iqr
                ok &= held
                print(f"    CLAIM {'HOLDS' if held else 'FAILS'}: n {n} (>= 10), "
                      f"wins {wins} (>= {0.9 * n:g}), median gap {gap:.6g} > "
                      f"parent IQR {iqr:.6g}")
            else:
                worse = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])
                limit = m["bound"] * abs(pq[1])
                held = worse <= limit
                ok &= held
                # a spread wider than the bound cannot show "unchanged",
                # unless every change run beats every parent run
                better = (max if lower else min)(vals["change"])
                beats_all = (better < min(vals["parent"])) if lower \
                    else (better > max(vals["parent"]))
                wide = pq[2] - pq[0] > limit and not beats_all
                print(f"    bound {'EXCEEDED' if not held else 'unresolved' if wide else 'ok'}"
                      f": worse by {worse:.6g}, bound {limit:.6g} ({m['bound']:g} x "
                      f"parent median), parent IQR {pq[2] - pq[0]:.6g}")
        share = {side: sum(by_seed[s][side]["failed"] or 0 for s in seeds)
                 / max(1, sum(by_seed[s][side]["attempted"] for s in seeds))
                 for side in SIDES}
        broken = [s for s in seeds for side in SIDES if by_seed[s][side]["failed"] is None]
        held = share["change"] <= share["parent"] and not broken
        ok &= held
        print(f"  failed ops share: parent {share['parent']:.4g}, change "
              f"{share['change']:.4g}; runs that did not finish: {broken or 'none'}"
              f" -> {'ok' if held else 'WORSE'}")
    return ok


def compare_traced(workload: str, seed: int, traced: dict, spec: dict) -> list[str]:
    """Print both sides' per-layer metrics of one traced seed; return the
    exact counts that differ."""
    print(f"\n== {workload}: traced, seed {seed}")
    print(f"  {'metric':30s} {'unit':6s} {'parent':>14s} {'change':>14s}  change vs parent")
    rows = [(m["name"], m["unit"]) for m in spec["per_layer"]] + [(TASK_RUN, "s")]
    differ = []
    for name, unit in rows:
        p, c = (traced[side].get(name) for side in SIDES)
        exact = name in EXACT_COUNTS
        if p is None or c is None:
            note = "missing"
        elif exact and p != c:
            note = "EXACT COUNT DIFFERS"
            differ.append(name)
        elif exact:
            note = "exact count, equal"
        else:
            note = f"{(c - p) / abs(p):+.1%}" if p else ("equal" if c == p else "n/a")
        fmt = ".12g" if exact else ".6g"
        p_s, c_s = ("-" if v is None else format(v, fmt) for v in (p, c))
        print(f"  {name:30s} {unit:6s} {p_s:>14s} {c_s:>14s}  {note}")
    print(f"  exact counts that differ: {', '.join(differ) or 'none'}")
    return differ


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--seeds", help="e.g. 5001-5010 or 5001,5004")
    ap.add_argument("--workloads", nargs="*",
                    help="default: every workload in the change's BENCHMARK.json")
    ap.add_argument("--claim", action="append", default=[],
                    help="WORKLOAD:METRIC the change claims to improve (repeatable)")
    ap.add_argument("--out", help="append each run's result here as a JSON line")
    ap.add_argument("--from", dest="src", help="summarize this --out file; run nothing")
    ap.add_argument("--trace-seed", type=int,
                    help="run one traced benchmark per side on this seed and "
                         "print the per-layer metrics side by side")
    args = ap.parse_args(argv)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(args.change or here, "BENCHMARK.json")) as f:
        spec = json.load(f)
    claims = {tuple(c.split(":", 1)) for c in args.claim}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]

    if args.trace_seed is not None:
        if not (args.parent and args.change):
            ap.error("--trace-seed needs --parent and --change")
        ok = True
        for workload in workloads:
            traced = {side: run_traced(os.path.abspath(getattr(args, side)), workload,
                                       args.trace_seed, spec["run_seconds"])
                      for side in SIDES}
            failed = [side for side in SIDES if traced[side] is None]
            if failed:
                print(f"\n== {workload}: traced run failed on {', '.join(failed)}")
                ok = False
                continue
            compare_traced(workload, args.trace_seed, traced, spec)
        return 0 if ok else 1

    if args.src:
        with open(args.src) as f:
            runs = [json.loads(ln) for ln in f if ln.strip()]
    else:
        if not (args.parent and args.change and args.seeds):
            ap.error("--parent, --change and --seeds are required unless --from is given")
        checkouts = {"parent": os.path.abspath(args.parent),
                     "change": os.path.abspath(args.change)}
        runs = []
        for i, seed in enumerate(parse_seeds(args.seeds)):
            for workload in workloads:
                order = SIDES if i % 2 == 0 else SIDES[::-1]
                for side in order:
                    r = run_once(checkouts[side], workload, seed, spec["run_seconds"])
                    r.update(workload=workload, seed=seed, side=side)
                    runs.append(r)
                    print(json.dumps(r), file=sys.stderr, flush=True)
                    if args.out:
                        with open(args.out, "a") as f:
                            f.write(json.dumps(r) + "\n")
    return 0 if summarize(pair_up(runs), spec, claims) else 1


if __name__ == "__main__":
    sys.exit(main())
