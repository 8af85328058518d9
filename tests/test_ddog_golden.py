"""Golden parity for the DDSketch pair collapse flavors against the
COMPILED reference kernels.

tests/golden/ddog_compat.json was produced by a generator that compiled
the READ-ONLY reference sources (ParallelDDSketch/src/{MapSketch,
ArraySketch,Merger,Summary}.cc; provenance in tests/golden/README.md) in
both -DLowBins and -DHighBins modes and replayed the full
distributed protocol — per-rank VALIDATION fill with per-item
OriginalPairCollapse (ParallelSketcher.cc:546-648, MapSketch.cc:87-247),
pack_SketchesPair, a reduceOriginal fold (Merger.cc:472-739), and
PairQuantile walks (ArraySketch.cc:10-79) — plus the UNIFORM-collapse
variant (per-item collapseUniformly fill, reduceSketchPair fold,
Merger.cc:283-463 / ArraySketch.cc:171-206,505-546). These tests assert
our DDSketchPair (compat=True) reproduces every stage
bucket-for-bucket in all three collapse modes: the per-slice fills
(incl. uniform collapse counts and the alpha trajectory), the standalone
kernel fold in both recorded merge orders, the quantile walk, and the
engine's distributed keyed merge path (merge_grouped).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from puddsketch_spark.core import DDSketchPair

MIN_KEY = 1 << 30  # B* bucket key magnitude (Header.h:40)


@pytest.fixture(scope="module")
def ddog_golden():
    """Load the DDOG goldens; a missing manifest or value file fails the
    test, as for the UDD goldens (test_uddsketch_kernel.py)."""
    golden_dir = os.path.join(os.path.dirname(__file__), "golden")
    with open(os.path.join(golden_dir, "ddog_compat.json")) as f:
        cases = json.load(f)["cases"]
    missing = [c["file"] for c in cases
               if not os.path.exists(os.path.join(golden_dir, c["file"]))]
    assert not missing, f"tests/golden/ is missing {missing}"
    return golden_dir, cases


def _split_bstar(pairs):
    """Reference packs B* inside the positive array (key -2^30); our kernel
    keeps it as zero_count."""
    zero, keys, counts = 0, [], []
    for k, c in pairs:
        if k == -MIN_KEY:
            zero += c
        else:
            keys.append(k)
            counts.append(c)
    return zero, np.array(keys, dtype=np.int64), np.array(counts, dtype=np.int64)


def _build_slices(case, golden_dir):
    vals = np.fromfile(os.path.join(golden_dir, case["file"]), dtype="<f8")
    assert vals.size == case["n"]
    P = case["P"]
    base, rem = divmod(vals.size, P)
    mode = {"low": "ddog_low", "high": "ddog_high", "uniform": "uniform"}[
        case["mode"]
    ]
    sks, off = [], 0
    for p in range(P):
        cnt = base + (1 if p < rem else 0)
        sk = DDSketchPair(
            initial_alpha=case["alpha"], m=case["bound"],
            collapse_mode=mode, compat=True,
        )
        sk.update(vals[off:off + cnt])
        off += cnt
        sks.append(sk)
    return sks


def _assert_matches(sk: DDSketchPair, posi_pairs, nega_pairs, label):
    zero, pk, pc = _split_bstar(posi_pairs)
    nk = np.array([k for k, _ in nega_pairs], dtype=np.int64)
    nc = np.array([c for _, c in nega_pairs], dtype=np.int64)
    assert sk.zero_count == zero, label
    assert np.array_equal(sk.pos_keys, pk), (label, sk.pos_keys, pk)
    assert np.array_equal(sk.pos_counts, pc), (label, sk.pos_counts, pc)
    assert np.array_equal(sk.neg_keys, nk), (label, sk.neg_keys, nk)
    assert np.array_equal(sk.neg_counts, nc), (label, sk.neg_counts, nc)


def _fold(sks, order):
    """Replay the harness's recorded reduce order with our kernel merge.
    linear: acc at rank P-1, ranks folded descending (reduceOriginal(in=r,
    out=acc)); tree: pairwise binary tree, rank i absorbs rank i+step."""
    sks = [s.copy() for s in sks]
    if order == "linear":
        acc = sks[-1]
        for r in range(len(sks) - 2, -1, -1):
            acc = acc.merge(sks[r])
        return acc
    step = 1
    while step < len(sks):
        for i in range(0, len(sks) - step, 2 * step):
            sks[i] = sks[i].merge(sks[i + step])
        step *= 2
    return sks[0]


def test_ddog_fill_golden_parity(ddog_golden):
    """Per-rank fill: batch compat update == the reference's sequential
    per-item fill (fence redirection + OriginalPairCollapse for the ddog
    modes; per-item collapseUniformly for the uniform pair variant,
    including the collapse COUNT and alpha trajectory)."""
    golden_dir, cases = ddog_golden
    assert len(cases) >= 22
    for case in cases:
        if case["order"] != "linear":
            continue  # slices identical across orders; skip the duplicate
        sks = _build_slices(case, golden_dir)
        for p, (sk, ref) in enumerate(zip(sks, case["slices"])):
            _assert_matches(sk, ref["posi"], ref["nega"],
                            (case["name"], "slice", p))
            if case["mode"] == "uniform":
                assert sk.num_collapses == ref["collapses"], (case["name"], p)
                assert sk.alpha == pytest.approx(ref["alpha"], rel=1e-12)


def test_ddog_merge_golden_parity(ddog_golden):
    """The distributed fold: our batch merge == the compiled reduceOriginal
    (optMergeBinsPosi/Nega + originalCollapseArrayPair) bucket-for-bucket,
    in both recorded merge orders."""
    golden_dir, cases = ddog_golden
    for case in cases:
        sks = _build_slices(case, golden_dir)
        acc = _fold(sks, case["order"])
        fin = case["final"]
        _assert_matches(acc, fin["posi"], fin["nega"], (case["name"], "final"))
        zero, _, _ = _split_bstar(fin["posi"])
        assert acc.count == fin["posipop"] + fin["negapop"]
        assert int(acc.neg_counts.sum()) == fin["negapop"]
        # uniform: reference iterates a' = 2a/(1+a^2); ours is the closed
        # form (g-1)/(g+1) — agree to accumulated-ulp precision
        assert acc.alpha == pytest.approx(fin["alpha"], rel=1e-12)
        if case["mode"] == "uniform":
            assert acc.num_collapses == fin["collapses"], case["name"]


def test_ddog_quantile_golden_parity(ddog_golden):
    """PairQuantile walk parity: same bucket key at every probed rank
    (exact, via our own bucket-value expression), value within float
    expression-reordering tolerance of the reference's estimate."""
    golden_dir, cases = ddog_golden
    for case in cases:
        if case["order"] != "linear":
            continue
        acc = _fold(_build_slices(case, golden_dir), "linear")
        for ref in case["quantiles"]:
            got = acc.quantile(ref["q"])
            if ref["key"] == -MIN_KEY:  # B*: both sides collapse to 0.0
                assert got == 0.0, (case["name"], ref)
                continue
            sign = -1.0 if ref["est"] < 0 else 1.0
            expected = sign * acc._bucket_value(ref["key"])
            assert got == expected, (case["name"], ref, got)
            assert got == pytest.approx(ref["est"], rel=1e-13), (
                case["name"], ref, got,
            )


def test_ddog_distributed_merge_golden_parity(ddog_golden, spark):
    """The engine's keyed distributed merge path (merge_grouped) lands on
    the same buckets as the compiled reference fold. Valid to compare
    under the engine's arbitrary shuffle order because the goldens prove
    order-stability (linear == tree for every case; asserted here too)."""
    from puddsketch_spark.spark.agg import merge_grouped

    golden_dir, cases = ddog_golden
    by_base = {}
    for case in cases:
        by_base.setdefault(case["name"].rsplit("/", 1)[0], []).append(case)
    for base, pair in by_base.items():
        assert pair[0]["final"] == pair[1]["final"], (base, "order-unstable")
    # one Spark job per mode is enough: pick the signed cases (hardest)
    for base in ("signed_mix/low", "signed_mix/high", "signed_mix/uniform"):
        case = next(c for c in by_base[base])
        sks = _build_slices(case, golden_dir)
        rows = [("g", bytearray(sk.to_bytes())) for sk in sks]
        df = spark.createDataFrame(rows, "grp string, state binary")
        out = merge_grouped(df, ["grp"], DDSketchPair.from_bytes).collect()
        assert len(out) == 1
        acc = DDSketchPair.from_bytes(bytes(out[0]["state"]))
        fin = case["final"]
        _assert_matches(acc, fin["posi"], fin["nega"], (base, "distributed"))
