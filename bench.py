"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line (LAST on stdout, sized to fit the driver's
~2KB tail-capture window — r4's line grew past it and the committed
BENCH_r04.json came back unparseable, VERDICT r4 item 1):
  {"metric": "...", "value": <sec>, "unit": "sec",
   "queries": {...per-query MEDIAN sec...}, "sf": <dir>}
The full result (query_spread [min,max], repeats, throughput side metrics,
pin state) is written to BENCH/last_run.json instead of the stdout line.
BENCH/last_run.json is UNTRACKED (every run — including the driver's
post-checkout one — overwrites it); the committed, prose-quotable artifact
is BENCH/pinned_run.json, updated only by a deliberate `bench.py --pin`
(VERDICT r5 item 1: the SURVEY-headline pin test anchored to the mutable
file and failed whenever the driver benched after the final commit).

Headline composition (VERDICT r5 item 5): entries that exist to VERIFY an
operator's contract rather than to time its single-pass use (currently
`range_partition_balance`, which deliberately pays two sketch fills plus a
balance audit) are timed under `verification_queries` / `verification_sec`
and EXCLUDED from the headline `value`, so the headline stays comparable
round-over-round as gate scaffolding grows.

Noise control: every timed entry runs SPARK_GRAFT_REPEATS times (default 3)
and reports the per-query median, with [min, max] spread alongside — this VM's
run-to-run variance (BENCH/HISTORY.md) made single-shot round comparisons
need a prose caveat; medians don't. Set SPARK_GRAFT_PIN=1 to pin the whole
process to the first $SPARK_GRAFT_CPUS cores via taskset (same protocol as
scripts/scaling.py) so background load doesn't migrate workers mid-query.

Throughput protocol mirrors the reference (updates/s over fill+merge,
/root/reference/ParallelDDSketch/src/ParallelSketcher.cc:870-879): the
`udds_transcripts` entry sketches a generated transcript table and reports
turns/sec in the side metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _maybe_pin(cpus: str) -> None:
    """Re-exec under taskset on the first N cores (opt-in, linux-only)."""
    import shutil

    if os.environ.get("SPARK_GRAFT_PIN") != "1" or os.environ.get("_SG_PINNED"):
        return
    if not str(cpus).isdigit() or shutil.which("taskset") is None:
        return  # degrade to unpinned (reported as pinned=false)
    os.environ["_SG_PINNED"] = "1"
    os.execvp("taskset", ["taskset", "-c", f"0-{int(cpus) - 1}", sys.executable]
              + sys.argv)


def _machine_probe() -> dict:
    """Calibration: fixed CPU-bound work, timed single-thread and on every
    core at once. Recorded in the artifact so round-over-round headline
    drift can be attributed (slow machine vs slow code) from the shipped
    numbers alone — three rounds running, uniform drift on untouched
    pure-Catalyst queries needed a manual pinned A/B to attribute; the
    probe ships that evidence with every run. Elementwise numpy streaming
    ops: single-threaded by construction (no BLAS thread pool) and
    memory-bandwidth sensitive — the resource noisy neighbors actually
    contend on, which plain Python loops miss."""
    import multiprocessing as mp

    one = min(_probe_child(0) for _ in range(3))
    n = os.cpu_count() or 1
    with mp.Pool(n) as pool:
        allc = sorted(pool.map(_probe_child, range(n)))
    return {
        "probe_1t_sec": round(one, 4),
        # median across workers: the machine's effective per-core speed
        # under full load (contention + SMT + any host throttling)
        "probe_allcore_sec": round(allc[n // 2], 4),
        "probe_cores": n,
    }


def _probe_child(_i: int) -> float:
    import numpy as np

    a = np.arange(4_000_000, dtype=np.float64)  # 32 MB: spills the cache
    b = np.ones_like(a)
    t0 = time.perf_counter()
    for _ in range(10):
        a = a * 1.0000001 + b
    return time.perf_counter() - t0


def _timed(fn, repeats: int) -> list[float]:
    """Run fn repeats times, return sorted wall times."""
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return sorted(samples)


def run_bench(sf_dir: str, cpus: str, n_turn_target: int = 2_000_000) -> dict:
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.datagen import transcripts
    from puddsketch_spark.spark.agg import (
        quantile_table,
        sketch_grouped,
        sketch_grouped_jvm,
    )
    from puddsketch_spark.spark.session import get_spark

    import __spark_entry__ as entry

    # calibration BEFORE the session exists (and again after it stops):
    # attributes round-over-round drift to machine speed vs code from the
    # shipped artifact alone
    probe0 = _machine_probe()

    spark = get_spark(app_name=f"bench[{cpus}]", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus) if str(cpus).isdigit() else 32)
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    timings: dict[str, float] = {}
    verification: dict[str, float] = {}  # gate scaffolding, not headline
    raw_median: dict[str, float] = {}  # unrounded, for throughput division
    spread: dict[str, list[float]] = {}
    extras: dict[str, float] = {}

    def record(name: str, fn, into: dict | None = None) -> None:
        s = _timed(fn, repeats)
        raw_median[name] = statistics.median(s)
        (timings if into is None else into)[name] = round(raw_median[name], 3)
        spread[name] = [round(s[0], 3), round(s[-1], 3)]

    qs = entry.queries()
    # untimed warmup: spins up codegen + the python worker pool so the first
    # timed query doesn't absorb session startup
    qs["q1_pricing_summary"](spark, sf_dir).count()
    qs["udds_quantile_by_flag"](spark, sf_dir).count()
    for name in [
        "q1_pricing_summary",
        "q3_top_revenue_orders",
        "udds_quantile_global",
        "udds_quantile_by_flag",
        "ddsketch_signed_quantiles",
        "events_gap_quantile",
        "dedup_exact_documents",
        "minhash_selfdup_recall",
        "cosine_topk_embeddings",
        "doc_token_stats",
        "ddsketch_ddog_quantiles",
        "heavy_hitters_custkeys",
        "multimodal_pipeline_stats",
        "theta_custkey_overlap",
        "decontam_docs",
        "asof_error_last_click",
        "events_sessionization",
        "boilerplate_line_dedup",
        "moments_price_by_flag",
        "range_join_value_bands",
        "tfidf_top_terms",
        "pii_redaction_stats",
        "semantic_dedup_survivors",
        "incremental_dedup_check",
        "source_quota_cap",
        "udds_grouping_sets",
    ]:
        record(name, lambda name=name: qs[name](spark, sf_dir).count())
    # verification entries: the query's cost is dominated by deliberate
    # contract-checking scaffolding (range_partition_balance pays THREE
    # bound computations — fresh fill, serde-restored state, different
    # physical layout — plus the balance audit; the operator itself is one
    # sketch pass at use-sites). Timed and spread-tracked like everything
    # else, but summed separately so the headline compares operator cost.
    for name in ["range_partition_balance"]:
        record(name, lambda name=name: qs[name](spark, sf_dir).count(),
               into=verification)

    # sketch throughput on the north_rule transcript shape: generate (timed
    # separately), then fill+merge, report turns/sec over the sketch phase
    # for both engines (jvm = flagship Tungsten fill; arrow = generic path)
    n_conv = max(1, n_turn_target // 8)
    t0 = time.time()
    t = transcripts(spark, n_conv=n_conv, avg_turns=8, seed=42, with_text=False)
    # north_star shape: quantiles grouped by role AND tool
    t = t.select("role", "tool", "text_len").persist()
    n_turns = t.count()
    gen_s = time.time() - t0

    def fill_jvm():
        merged = sketch_grouped_jvm(t, "text_len", ["role", "tool"], 0.01, 200)
        quantile_table(merged, ["role", "tool"], [0.5, 0.9, 0.99, 0.999],
                       UDDSketch.from_bytes).collect()

    def fill_arrow():
        merged = sketch_grouped(
            t, "text_len", ["role", "tool"],
            lambda: UDDSketch(initial_alpha=0.01, m=200), UDDSketch.from_bytes,
        )
        quantile_table(merged, ["role", "tool"], [0.5, 0.9, 0.99, 0.999],
                       UDDSketch.from_bytes).collect()

    record("udds_transcripts_grouped_jvm", fill_jvm)
    record("udds_transcripts_grouped_arrow", fill_arrow)
    t.unpersist()
    extras["transcript_turns"] = n_turns
    extras["transcript_gen_sec"] = round(gen_s, 3)
    extras["sketch_throughput_turns_per_sec_jvm"] = round(
        n_turns / raw_median["udds_transcripts_grouped_jvm"], 1)
    extras["sketch_throughput_turns_per_sec_arrow"] = round(
        n_turns / raw_median["udds_transcripts_grouped_arrow"], 1)

    # high-dim embedding audit: dim-768 hyperplane-LSH near-dups via the
    # Arrow matmul engine (no catalyst literal blowup); planted exact dupes
    # give a known recall target
    from puddsketch_spark.datagen import embeddings_table
    from puddsketch_spark.ops.dedup import embedding_near_dups, release_cached

    emb768 = embeddings_table(spark, n=8_000, dim=768, seed=5, n_dupes=100).persist()
    emb768.count()
    # 16 planes/band: 8-bit bands collide randomly at 0.5^8 and the exact-
    # cosine verify on ~500k junk candidates dominates; 16 bits cuts random
    # collisions ~256x while keeping >0.9 recall at cosine 0.99
    n_pairs = 0

    def near_dups():
        nonlocal n_pairs
        pairs = embedding_near_dups(
            emb768, threshold=0.99, num_bands=4, planes_per_band=16
        )
        n_pairs = pairs.count()
        release_cached(pairs)

    record("embedding_near_dups_dim768", near_dups)
    emb768.unpersist()
    extras["dim768_near_dup_pairs"] = n_pairs
    assert n_pairs >= 100  # the planted duplicates must all surface

    spark.stop()
    probe1 = _machine_probe()
    extras["machine_probe_start"] = probe0
    extras["machine_probe_end"] = probe1
    total = round(sum(timings.values()), 3)
    return {
        "metric": "headline query wall time (sum of medians)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "verification_queries": verification,
        "verification_sec": round(sum(verification.values()), 3),
        "query_spread": spread,
        "repeats": repeats,
        "pinned": os.environ.get("_SG_PINNED") == "1",
        "sf": sf_dir,
        "cpus": cpus,
        **extras,
    }


def _load_round(path: str) -> dict | None:
    """Extract our bench JSON line from a driver BENCH_r*.json (the driver
    wraps stdout in a 'tail' string) or from a raw bench.py output file.

    If the tail-captured line is truncated (r4: the line outgrew the driver's
    capture window, so its head — including '{"metric"' — is cut off), recover
    the per-query medians that DID survive in the window and return them with
    ``"partial": True`` so emit_history can footnote the round instead of
    silently skipping it."""
    import re

    with open(path) as f:
        doc = json.load(f)
    if "queries" in doc:
        return doc
    tail = doc.get("tail", "")
    idx = tail.rfind('{"metric"')
    if idx >= 0:
        try:
            return json.loads(tail[idx:])
        except json.JSONDecodeError:
            pass  # head present but line cut off mid-stream: fall through
    # partial recovery: per-query pairs that appear before the first
    # non-headline section (verification entries must not leak into the
    # recovered headline sum)
    cuts = [c for c in (tail.find('"verification_queries"'),
                        tail.find('"query_spread"')) if c >= 0]
    head = tail[:min(cuts)] if cuts else tail
    pairs = re.findall(r'"([a-z][a-z0-9_]+)":\s*([0-9]+\.[0-9]+)', head)
    queries = {k: float(v) for k, v in pairs
               if k not in ("value", "sf", "transcript_gen_sec")}
    if not queries:
        print(f"WARNING: {path} holds no parseable bench line "
              "(tail-truncated beyond recovery); round skipped",
              file=sys.stderr)
        return None
    return {"queries": queries, "repeats": 3, "partial": True}


def emit_history() -> None:
    """Regenerate the per-round table in BENCH/HISTORY.md between the
    table:begin/table:end markers from the committed BENCH_r*.json
    artifacts — the table is GENERATED, never hand-edited, so it cannot
    drift from the shipped JSON again (VERDICT r3 finding 2)."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for path in sorted(glob.glob(os.path.join(here, "BENCH_r*.json"))):
        tag = re.search(r"BENCH_(r\d+)", path).group(1)
        data = _load_round(path)
        if data:
            rounds.append((tag, data))
    names: list[str] = []
    for _, data in rounds:
        for q in data["queries"]:
            if q not in names:
                names.append(q)
    heads = [f"{tag}{'*' if data.get('partial') else ''} "
             f"(s{', median' if data.get('repeats', 1) > 1 else ''})"
             for tag, data in rounds]
    lines = ["| query | " + " | ".join(heads) + " |",
             "|---|" + "---|" * len(rounds)]
    for q in names:
        cells = [
            ("%.3f" % data["queries"][q]) if q in data["queries"] else "—"
            for _, data in rounds
        ]
        lines.append(f"| {q} | " + " | ".join(cells) + " |")
    totals = " | ".join(
        ("%.3f*" if d.get("partial") else "%.3f") % sum(d["queries"].values())
        for _, d in rounds)
    lines.append(f"| **sum** | {totals} |")
    if any(d.get("partial") for _, d in rounds):
        lines.append("")
        lines.append("\\* partial round: the driver's tail capture truncated "
                     "the bench line; only the query medians that survived in "
                     "the window are shown and the sum covers those only.")
    table = "\n".join(lines)

    hist = os.path.join(here, "BENCH", "HISTORY.md")
    with open(hist) as f:
        text = f.read()
    begin, end = "<!-- table:begin -->", "<!-- table:end -->"
    if begin not in text or end not in text:
        raise SystemExit(f"{hist} is missing the {begin}/{end} markers")
    pre, rest = text.split(begin, 1)
    _, post = rest.split(end, 1)
    with open(hist, "w") as f:
        f.write(pre + begin + "\n" + table + "\n" + end + post)
    print(f"regenerated HISTORY table from {len(rounds)} rounds: "
          + ", ".join(tag for tag, _ in rounds))


def pin_last_run() -> None:
    """Promote BENCH/last_run.json (untracked, overwritten every run) to
    BENCH/pinned_run.json (committed; the artifact SURVEY quotes and the
    headline pin test reads). Deliberate-commit-only update path."""
    import shutil

    here = os.path.dirname(os.path.abspath(__file__))
    src = os.path.join(here, "BENCH", "last_run.json")
    dst = os.path.join(here, "BENCH", "pinned_run.json")
    with open(src) as f:
        doc = json.load(f)  # refuse to pin an unparseable artifact
    shutil.copyfile(src, dst)
    print(f"pinned {doc['value']}s over {len(doc['queries'])} headline + "
          f"{len(doc.get('verification_queries', {}))} verification entries "
          f"-> {dst}")


def main() -> None:
    if "--history" in sys.argv:
        emit_history()
        return
    if "--pin" in sys.argv:
        pin_last_run()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    _maybe_pin(cpus)
    result = run_bench(sf_dir, cpus)
    # full detail (spread, repeats, throughput, pin state) goes to a file;
    # stdout carries only the compact line the driver's tail capture can hold
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH", "last_run.json"), "w") as f:
        json.dump(result, f, indent=2)
    compact = {k: result[k] for k in ("metric", "value", "unit", "queries",
                                      "verification_queries",
                                      "verification_sec", "sf")}
    line = json.dumps(compact)
    if len(line) >= 1800:
        # never abort a completed run (and never replace the line with a
        # traceback the driver can't parse) — ship it and warn; _load_round
        # can partially recover a truncated line, a traceback recovers
        # nothing. Not an assert: python -O would silently drop that.
        print(f"WARNING: bench line {len(line)}B may outgrow the driver's "
              "tail window; trim the query set", file=sys.stderr)
    sys.stdout.flush()
    print(line)
    sys.stdout.flush()


if __name__ == "__main__":
    sys.exit(main())
