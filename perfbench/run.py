"""puddsketch_spark benchmark: one closed-loop client on local[k].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--size bench|smoke]

Run from the root of a checkout. One driver process issues one op at a
time (closed loop, one client) on ``local[k]``, k = min(4, usable cores).
The seed fixes the generated input; the program sees only those files.

Phases of a run:

1. set-up: session start, then the input set-up (generate the parquet
   files, register the table) repeated ``SETUP_REPEATS`` times, then one
   pass of the state-returning fills (it measures ``state_bytes`` and warms
   the same code paths), then a fixed number of warm-up ops. ``setup_s`` =
   session start + median input set-up + state pass + warm-up. Exact
   oracles are computed after the input set-up and are excluded.
2. timed window: ops back to back until ``--seconds`` have passed; the
   window ends when the op in flight ends. Every op's result is checked;
   an op that raises or fails its check is counted and the run goes on.
3. traced runs only: ops alternate traced / untraced, then the layer
   probes run, the session stops, and the event log is folded into the
   per-layer record.

Stdout: one JSON line with the full record (run context, samples, per-
kernel errors), then the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1`` the
spans, plans and per-op layer records go to
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPEATS = 3
WARMUP_OPS = {"fill_dup_few": 3, "fill_unique_many": 1, "ingest_incremental": 3}
SMOKE_WARMUP_OPS = 1
# a traced op's child spans must cover its wall time to within this share
SPAN_COVERAGE_TOL = 0.02

END_TO_END_UNITS = {
    "setup_s": "s", "rows_per_s": "1/s", "op_s_p50": "s", "peak_rss_mb": "MB",
    "state_bytes": "bytes", "err_to_bound": "ratio",
}


def tail_percentile(samples):
    """(p, value) for the highest percentile with at least 10 samples above
    it, or None when that percentile would be the median or lower."""
    n = len(samples)
    p = 1.0 - 10.0 / n if n else 0.0
    if p <= 0.5:
        return None
    s = sorted(samples)
    return round(100 * p, 1), s[min(n - 1, int(math.floor(p * n)))]


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc every 0.1 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._done = threading.Event()

    def _tree_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:
                continue
            ppid = int(fields["PPid"])
            children.setdefault(ppid, []).append(int(pid))
            rss[int(pid)] = int(fields.get("VmRSS", "0 kB").split()[0])
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            total += rss.get(pid, 0)
            stack.extend(children.get(pid, []))
        return total

    def run(self):
        while not self._done.wait(0.1):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def stop(self) -> float:
        self._done.set()
        self.join()
        return max(self.peak_kb, self._tree_rss_kb()) / 1024.0


def start_session(k: int, work_dir: str, event_log: str | None):
    """Session on local[k] whose scratch files (shuffle, spill, temp) stay
    under ``work_dir``."""
    from puddsketch_spark.spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM the launcher starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{k}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_context(spark, k: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "usable_cores": len(os.sched_getaffinity(0)),
        "master": f"local[{k}]",
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def one_op(wl, tr, op_id: str, spark):
    """Run one op; returns (seconds, rows, state_bytes, collect_rows, check)
    or (seconds, None, ...) when it raised."""
    wl.before_op()
    spark.sparkContext.setJobGroup(op_id, op_id)
    tr.op_id = op_id
    t0 = time.perf_counter()
    try:
        with tr.span("op"):
            rows, state_bytes, collect_rows, check = wl.op(tr)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, None, None, 0, None
    return time.perf_counter() - t0, rows, state_bytes, collect_rows, check


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "smoke"), default="bench")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "puddsketch_spark", "__init__.py")):
        print(f"perfbench: no puddsketch_spark package next to {HERE}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work_dir = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    k = max(1, min(3, len(os.sched_getaffinity(0)) - 1))
    load_start = os.getloadavg()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        event_log = os.path.join(work_dir, "eventlog") if traced else None
        spark = start_session(k, work_dir, event_log)
        session_s = time.perf_counter() - T_START
        ctx = run_context(spark, k)
        wl = workloads.WORKLOADS[args.workload](spark, work_dir, args.seed, args.size)

        input_setup = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            input_setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.oracle()
        oracle_s = time.perf_counter() - t0

        tr = Tracer(traced)
        off = Tracer(False)
        t0 = time.perf_counter()
        wl.state_pass()
        state_pass_s = time.perf_counter() - t0
        n_warm = SMOKE_WARMUP_OPS if args.size == "smoke" else WARMUP_OPS[args.workload]
        warm = [one_op(wl, off, f"warmup-{i}", spark)[0] for i in range(n_warm)]
        setup_s = session_s + statistics.median(input_setup) + state_pass_s + sum(warm)

        samples, traced_samples, errs = [], [], {}
        attempted = failed = 0
        rows_done = 0
        state_bytes = collect_rows = None
        failures = []
        t_window = time.perf_counter()
        deadline = t_window + args.seconds
        while True:
            use = tr if (traced and attempted % 2 == 0) else off
            sec, rows, sb, crow, check = one_op(wl, use, f"op-{attempted}", spark)
            attempted += 1
            ok = check is not None and not check.failures
            if check is not None:
                for kern, r in check.ratios.items():
                    errs[kern] = max(errs.get(kern, 0.0), r)
                failures.extend(check.failures[:3])
            if ok:
                rows_done += rows
                state_bytes, collect_rows = sb, crow
            else:
                failed += 1
            (traced_samples if use is tr else samples).append(sec)
            if time.perf_counter() >= deadline:
                break
        window_s = time.perf_counter() - t_window
        load_end = os.getloadavg()

        layer = {}
        if traced:
            layer = traced_layers(spark, wl, tr, traced_samples, samples, work_dir)
        stop_session(spark)
        spark = None
        peak_rss_mb = rss.stop()
        if traced:
            per_op, ev_layer = event_log_layers(tr, event_log)
            layer.update(ev_layer, **{"driver.collect_rows": collect_rows})
            trace_checks = {
                "span_coverage_tol": SPAN_COVERAGE_TOL,
                "span_coverage_ok": layer["trace.span_coverage"] >= 1 - SPAN_COVERAGE_TOL,
                "python_units_ok": all(r["python_units_ok"] for r in per_op),
                "plan_python_nodes": sorted({
                    n["node"] for plans in tr.plans.values() for p in plans
                    for n in p["nodes"] if "Python" in n["node"] or "Pandas" in n["node"]
                    or "Arrow" in n["node"]}),
            }
            tr.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, "per_op": per_op,
                     "checks": trace_checks})
    except Exception:
        traceback.print_exc(file=sys.stderr)
        if spark is not None:
            stop_session(spark)
        return 1
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    tail = tail_percentile(samples)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": rows_done / window_s,
        "op_s_p50": statistics.median(samples or traced_samples),
        "peak_rss_mb": peak_rss_mb,
        "state_bytes": state_bytes if state_bytes is not None else 0,
        "err_to_bound": errs.get("udds", 0.0),
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "trace": args.trace,
        "context": {**ctx, "load_start": load_start, "load_end": load_end,
                    "input_rows_per_op": wl.input_rows, "input_files": len(wl.files)},
        "setup": {"session_s": session_s, "input_setup_s": input_setup,
                  "state_pass_s": state_pass_s, "warmup_op_s": warm, "oracle_s": oracle_s},
        "op_s": {"n": len(samples), "p50": e2e["op_s_p50"],
                 "tail": {"percentile": tail[0], "value": tail[1]} if tail else None,
                 "samples": samples, "traced_samples": traced_samples},
        "window_s": window_s,
        "ops_attempted": attempted,
        "ops_failed_share": failed / attempted,
        "failures": [list(map(str, f)) for f in failures[:10]],
        "err_to_bound_by_kernel": errs,
        "collect_rows": collect_rows,
        "end_to_end": e2e,
        "per_layer": layer,
        "trace_checks": trace_checks if traced else None,
    }
    print(json.dumps(record))
    metrics = layer if traced else e2e
    units = LAYER_UNITS if traced else END_TO_END_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }
    print(json.dumps(result))
    return 0


LAYER_UNITS = {
    **{f"core.{k}.{m}": u for k in ("udds", "kll", "tdigest", "hll", "cms")
       for m, u in (("update_ns", "ns"), ("merge_us", "us"), ("serde_us", "us"),
                    ("state_bytes", "bytes"))},
    "agg.partial_s": "s", "agg.partial_rows": "count", "agg.partial_state_bytes": "bytes",
    "agg.merge_s": "s", "agg.finalize_s": "s", "agg.bucket_table_s": "s",
    "agg.bucket_rows": "count",
    "spark.scan_s": "s", "spark.scan_bytes": "bytes", "spark.agg_s": "s",
    "spark.shuffle_bytes": "bytes", "spark.shuffle_records": "count",
    "spark.python_s": "s", "spark.python_boot_s": "s", "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes", "spark.jobs": "count", "spark.tasks": "count",
    "driver.uncovered_s": "s", "driver.collect_rows": "count",
    "checkpoint.write_s": "s", "checkpoint.bytes_written": "bytes",
    "checkpoint.resume_s": "s", "checkpoint.files_scanned": "count",
    "checkpoint.rescan_share": "ratio",
    "trace.op_s_p50": "s", "trace.overhead_s": "s", "trace.span_coverage": "ratio",
}


def traced_layers(spark, wl, tr, traced_samples, samples, work_dir) -> dict:
    """Layer probes on the workload's own input, plus trace overhead."""
    import layers
    import workloads

    out = {}
    tr.op_id = "layers"
    spark.sparkContext.setJobGroup("layers", "layers")
    n = layers.CORE_VALUES
    with tr.span("layer.core"):
        out.update(layers.core_probe(wl.cols[wl.value_col][:n].astype("float64"),
                                     workloads.conv_ids(wl.cols["conv"][:n])))
    out.update(layers.agg_probe(tr, wl.table, wl.value_col, wl.group_cols))
    out.update(layers.checkpoint_probe(tr, spark, wl.files, work_dir, wl.value_col,
                                       wl.group_cols))
    out["trace.op_s_p50"] = statistics.median(traced_samples)
    out["trace.overhead_s"] = (statistics.median(traced_samples) - statistics.median(samples)
                               if samples else 0.0)
    return out


def event_log_layers(tr, log_dir: str):
    """Per-op Spark and driver layer metrics (median over traced ops), from
    the event log grouped by job group = op id, and span coverage."""
    from spans import SQL_METRICS, read_event_log, union_length

    groups = read_event_log(log_dir)
    by_op: dict[str, dict] = {}
    for s in tr.spans:
        if s["name"] == "op":
            by_op[s["op"]] = {"wall": s["end"] - s["start"], "start": s["start"],
                              "end": s["end"], "children": []}
    for s in tr.spans:
        if s["op"] in by_op and s["name"] != "op" and s["parent"] is not None \
                and tr.spans[s["parent"]]["name"] == "op":
            by_op[s["op"]]["children"].append([s["start"], s["end"]])
    per_op = []
    for op_id, o in by_op.items():
        g = groups[op_id]
        jobs = [[max(a, o["start"]), min(b, o["end"])] for a, b in g["jobs"]]
        rec = {
            "op": op_id,
            "wall_s": o["wall"],
            "span_coverage": union_length(o["children"]) / o["wall"],
            "driver.uncovered_s": o["wall"] - union_length(jobs),
            "spark.jobs": len(g["jobs"]),
            "spark.tasks": g["tasks"],
            "spark.shuffle_bytes": g["shuffle_bytes"],
            "spark.shuffle_records": g["shuffle_records"],
            "task_run_s": g["task_run_s"],
            **{name: g["sql"].get(name, 0.0) for name in SQL_METRICS.values()},
        }
        # read as ms, no Python node's time may exceed its task's run time
        rec["python_units_ok"] = g["python_time_over_task"] == 0
        per_op.append(rec)
    out = {}
    for name in ("driver.uncovered_s", "spark.jobs", "spark.tasks", "spark.shuffle_bytes",
                 "spark.shuffle_records", *SQL_METRICS.values()):
        out[name] = statistics.median(r[name] for r in per_op)
    out["trace.span_coverage"] = min(r["span_coverage"] for r in per_op)
    return per_op, out


if __name__ == "__main__":
    sys.exit(main())
