"""scripts/ab_pairs.py verdicts on synthetic runs: the paired claim rule
(>= 10 pairs, 9 of 10 wins, median gap over the parent's IQR), the bound
check and the failed-ops share."""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "ab_pairs", os.path.join(REPO, "scripts", "ab_pairs.py"))
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _runs(op_s, failed=(0, 0)):
    """One fill_dup_few pair per (parent, change) op_s_p50; every other
    metric equal on both sides."""
    runs = []
    for seed, pair in enumerate(op_s):
        for side, v, f in zip(ab.SIDES, pair, failed):
            metrics = {m["name"]: 1.0 for m in SPEC["end_to_end"]}
            metrics["op_s_p50"] = v
            runs.append({"workload": "fill_dup_few", "seed": seed, "side": side,
                         "metrics": metrics, "attempted": 10, "failed": f})
    return ab.pair_up(runs)


CLAIM = {("fill_dup_few", "op_s_p50")}


def test_parse_seeds():
    assert ab.parse_seeds("5001-5003,5007") == [5001, 5002, 5003, 5007]


def test_claim_needs_ten_pairs_and_nine_wins(capsys):
    nine_wins = [(1.0, 0.8)] * 9 + [(0.7, 0.8)]
    assert ab.summarize(_runs(nine_wins), SPEC, CLAIM)
    assert "CLAIM HOLDS" in capsys.readouterr().out
    assert not ab.summarize(_runs(nine_wins[1:]), SPEC, CLAIM)  # 9 pairs
    eight_wins = [(1.0, 0.8)] * 8 + [(0.7, 0.8)] * 2
    assert not ab.summarize(_runs(eight_wins), SPEC, CLAIM)
    # ten wins, but a gap inside the parent's own spread
    spread = [(1.0 + 0.1 * i, 0.99 + 0.1 * i) for i in range(10)]
    assert not ab.summarize(_runs(spread), SPEC, CLAIM)
    assert "CLAIM FAILS" in capsys.readouterr().out


def test_bound_and_failed_share(capsys):
    assert ab.summarize(_runs([(1.0, 1.2)] * 10), SPEC, set())  # within 0.25
    assert not ab.summarize(_runs([(1.0, 1.3)] * 10), SPEC, set())
    assert "bound EXCEEDED" in capsys.readouterr().out
    assert not ab.summarize(_runs([(1.0, 0.8)] * 10, failed=(0, 1)), SPEC, CLAIM)
    assert "-> WORSE" in capsys.readouterr().out


def test_trace_compare_flags_exact_counts(capsys):
    """--trace-seed's side-by-side table: an exact count that moves is
    flagged, a time that moves is not."""
    layer = {m["name"]: 1.0 for m in SPEC["per_layer"]}
    parent = {**layer, ab.TASK_RUN: 2.45, "spark.python_bytes_sent": 78430224}
    change = {**parent, ab.TASK_RUN: 2.03, "agg.partial_s": 0.5}
    sides = dict(zip(ab.SIDES, (parent, change)))
    assert ab.compare_traced("fill_unique_many", 9301, sides, SPEC) == []
    out = capsys.readouterr().out
    assert "78430224" in out and "exact counts that differ: none" in out
    assert "-50.0%" in out and "-17.1%" in out  # agg.partial_s, op.task_run_s
    change["spark.tasks"] = 22
    assert ab.compare_traced("fill_unique_many", 9301, sides, SPEC) == ["spark.tasks"]
    assert "EXACT COUNT DIFFERS" in capsys.readouterr().out
