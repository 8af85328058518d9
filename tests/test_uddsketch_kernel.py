"""Unit + property tests for the UDDSketch numpy kernel.

Mirrors the reference's correctness methodology (SURVEY.md §5): hand-checked
bucket math, collapse/merge invariants, serde roundtrip, accuracy vs exact
quantiles for seeded distributions (VALIDATE-mode analogue of
/root/reference/ParallelDDSketch/src/Quantiles.cc:64-94).
"""

import numpy as np
import pytest

from puddsketch_spark.core.uddsketch import MIN_ADDRESSABLE, UDDSketch, bucket_keys


def exact_quantile(values, q):
    """Reference oracle: exact order statistic at rank floor(q*(n-1))."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    rank = int(np.floor(q * (len(v) - 1)))
    return v[rank]


# ---------------------------------------------------------------- bucket math
def test_bucket_keys_hand_checked():
    a = 0.01
    gamma = (1 + a) / (1 - a)
    s = UDDSketch(initial_alpha=a, m=0)
    # v = gamma^k exactly -> key k (ceil of exact k)
    for k in [1, 5, 100, -7]:
        v = gamma**k
        got = bucket_keys(np.array([v]), a)[0]
        assert got in (k, k + 1)  # float-exact boundary may round up
    # v strictly inside (gamma^(k-1), gamma^k) -> key k
    v = gamma**4.5
    assert bucket_keys(np.array([v]), a)[0] == 5
    s.update(np.array([v]))
    assert s.keys.tolist() == [5] and s.counts.tolist() == [1]


def test_bucket_value_relative_error_bound():
    a = 0.01
    rng = np.random.default_rng(0)
    v = rng.uniform(1e-6, 1e6, 10000)
    s = UDDSketch(initial_alpha=a, m=0)
    keys = bucket_keys(v, a)
    est = np.array([s.bucket_value(int(k)) for k in keys])
    rel = np.abs(est - v) / v
    assert rel.max() <= a * (1 + 1e-9)


def test_zero_bucket_routing():
    s = UDDSketch(initial_alpha=0.01, m=0)
    s.update(np.array([0.0, 1e-320, MIN_ADDRESSABLE / 2, -3.0, 5.0]))
    assert s.zero_count == 4
    assert s.count == 5
    # rank below zero bucket -> 0.0
    assert s.quantile(0.5) == 0.0
    # rank floor(0.99*4)=3 < zero_count=4 -> still 0.0 (reference semantics)
    assert s.quantile(0.99) == 0.0
    # rank 4 reaches the real bucket holding 5.0
    assert s.quantile(1.0) == pytest.approx(5.0, rel=0.01)


# ---------------------------------------------------------------- collapse
def test_collapse_regroups_and_widens_alpha():
    a = 0.01
    s = UDDSketch(initial_alpha=a, m=0)
    s.keys = np.array([-3, -2, -1, 0, 1, 2, 3], dtype=np.int64)
    s.counts = np.ones(7, dtype=np.int64)
    g0 = s.gamma
    s.collapse(1)
    # ceil(k/2): -3,-2->-1; -1,0->0; 1,2->1; 3->2
    assert s.keys.tolist() == [-1, 0, 1, 2]
    assert s.counts.tolist() == [2, 2, 2, 1]
    assert np.isclose(s.gamma, g0**2)
    assert np.isclose(s.alpha, (g0**2 - 1) / (g0**2 + 1))
    assert s.count == 7


def test_m_bound_enforced():
    s = UDDSketch(initial_alpha=0.01, m=4)
    rng = np.random.default_rng(1)
    s.update(rng.uniform(1, 1e9, 5000))
    assert s.num_buckets <= 4
    assert s.num_collapses > 0
    assert s.count == 5000



@pytest.mark.parametrize("m", [0, 8])
def test_from_bucket_table_equals_single_batch_update(m):
    """A JVM-style bucket table (keys in any order, a zero bucket)
    assembles to the single-batch update() state."""
    rng = np.random.default_rng(17)
    v = np.concatenate([rng.lognormal(3, 2, 5000), np.zeros(9), -rng.uniform(1, 5, 4)])
    table = UDDSketch(initial_alpha=0.01, m=0).update(v)
    assert table.zero_count == 13
    perm = rng.permutation(table.keys.size)
    sk = UDDSketch.from_bucket_table(0.01, m, table.zero_count,
                                     table.keys[perm], table.counts[perm])
    assert sk.same_buckets(UDDSketch(initial_alpha=0.01, m=m).update(v))
    assert (sk.num_collapses > 0) == (m > 0)


# ---------------------------------------------------------------- remove
def test_remove_batch():
    """Deletion support (uddsketch.cpp:189-208): decrement, erase empties,
    report failures."""
    s = UDDSketch(initial_alpha=0.01, m=0)
    s.update(np.array([5.0, 5.0, 7.0, 0.0]))
    assert s.count == 4 and s.zero_count == 1
    assert s.remove(np.array([5.0])) == 0
    assert s.count == 3
    # removing a value whose bucket is absent fails
    assert s.remove(np.array([1e9])) == 1
    # removing more than present: one success, one failure
    assert s.remove(np.array([7.0, 7.0])) == 1
    assert 7.0 not in [s.bucket_value(int(k)) for k in s.keys] or s.keys.size == 1
    # zero bucket decrements, then fails when empty
    assert s.remove(np.array([0.0])) == 0
    assert s.remove(np.array([0.0])) == 1
    assert s.count == 1  # only one 5.0 left


# ---------------------------------------------------------------- merge
def test_merge_population_conservation_and_commutativity():
    rng = np.random.default_rng(2)
    a = UDDSketch(0.01, m=100).update(rng.lognormal(5, 1, 20000))
    b = UDDSketch(0.01, m=100).update(rng.exponential(10, 30000))
    ab = a.copy().merge(b.copy())
    ba = b.copy().merge(a.copy())
    assert ab.count == 50000
    assert ab.same_buckets(ba)


def test_merge_associativity():
    rng = np.random.default_rng(3)
    parts = [UDDSketch(0.01, m=64).update(rng.uniform(1, 1000, 5000)) for _ in range(3)]
    left = parts[0].copy().merge(parts[1].copy()).merge(parts[2].copy())
    right = parts[0].copy().merge(parts[1].copy().merge(parts[2].copy()))
    assert left.same_buckets(right)


def test_merge_alignment_mixed_resolution():
    rng = np.random.default_rng(4)
    fine = UDDSketch(0.01, m=0).update(rng.uniform(1, 100, 1000))
    coarse = UDDSketch(0.01, m=0).update(rng.uniform(1, 100, 1000)).collapse(2)
    merged = fine.copy().merge(coarse.copy())
    assert merged.num_collapses == 2
    assert merged.count == 2000
    sym = coarse.copy().merge(fine.copy())
    assert merged.same_buckets(sym)


def test_merge_alpha_mismatch_raises():
    a = UDDSketch(0.01)
    b = UDDSketch(0.02)
    with pytest.raises(ValueError, match="incompatible alpha"):
        a.merge(b)


# ---------------------------------------------------------------- serde
def test_serde_roundtrip():
    rng = np.random.default_rng(5)
    s = UDDSketch(0.01, m=50).update(rng.lognormal(3, 2, 10000))
    s.update(np.zeros(17))
    t = UDDSketch.from_bytes(s.to_bytes())
    assert t.same_buckets(s)
    assert t.m == s.m and t.alpha == pytest.approx(s.alpha)


def test_serde_size_check():
    s = UDDSketch(0.01).update(np.array([1.0, 2.0]))
    with pytest.raises(ValueError, match="Serialized size"):
        UDDSketch.from_bytes(s.to_bytes()[:-1])


# ---------------------------------------------------------------- accuracy
@pytest.mark.parametrize("dist", ["uniform", "lognormal", "exponential", "normal"])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_accuracy_within_alpha(dist, seed):
    """VALIDATE-mode analogue: |est-exact|/exact <= current alpha."""
    rng = np.random.default_rng(seed)
    n = 100_000
    if dist == "uniform":
        v = rng.uniform(1, 1000, n)
    elif dist == "lognormal":
        v = rng.lognormal(5, 1, n)
    elif dist == "exponential":
        v = rng.exponential(1.0, n) + 1e-9
    else:
        v = np.clip(rng.normal(30, 10, n), 1e-3, None)
    s = UDDSketch(0.01, m=200).update(v)
    for q in [0.01, 0.05, 0.25, 0.5, 0.9, 0.95, 0.99, 0.999]:
        est = s.quantile(q)
        exact = exact_quantile(v, q)
        assert abs(est - exact) / exact <= s.alpha, (dist, seed, q, est, exact, s.alpha)


def test_partition_invariance():
    """Same estimates from 1 vs 8 vs 32 'partitions' (merge-order invariance)."""
    rng = np.random.default_rng(7)
    v = rng.lognormal(5, 1, 64_000)
    whole = UDDSketch(0.01, m=200).update(v)
    for nparts in [8, 32]:
        parts = [UDDSketch(0.01, m=200).update(c) for c in np.array_split(v, nparts)]
        merged = parts[0].copy()
        for p in parts[1:]:
            merged.merge(p)
        assert merged.count == whole.count
        # collapse whole to the same resolution for a fair bucket compare
        w = whole.copy()
        if w.num_collapses < merged.num_collapses:
            w.collapse(merged.num_collapses - w.num_collapses)
        elif merged.num_collapses < w.num_collapses:
            merged.collapse(w.num_collapses - merged.num_collapses)
        # estimates agree within the (coarser) alpha bound
        for q in [0.5, 0.9, 0.99]:
            assert abs(merged.quantile(q) - w.quantile(q)) <= 2 * w.alpha * w.quantile(q)


def test_reduce_order_invariance_random_trees():
    """treeReduce order must not change the result (north_rule)."""
    rng = np.random.default_rng(8)
    v = rng.uniform(1, 1000, 32_000)
    parts = [UDDSketch(0.01, m=128).update(c) for c in np.array_split(v, 16)]
    ref = parts[0].copy()
    for p in parts[1:]:
        ref.merge(p)
    for seed in range(3):
        order = np.random.default_rng(seed).permutation(16)
        pool = [parts[i].copy() for i in order]
        while len(pool) > 1:  # pairwise tree reduction
            pool = [
                pool[i].merge(pool[i + 1]) if i + 1 < len(pool) else pool[i]
                for i in range(0, len(pool), 2)
            ]
        assert pool[0].same_buckets(ref)


@pytest.fixture(scope="module")
def golden_cases():
    """Load the compiled-reference goldens (provenance:
    tests/golden/README.md). A missing manifest or value file fails the
    test: the goldens are the reference data and cannot be regenerated
    without the reference sources."""
    import json
    import os

    golden_dir = os.path.join(os.path.dirname(__file__), "golden")
    with open(os.path.join(golden_dir, "udds_compat.json")) as f:
        cases = json.load(f)["cases"]
    missing = [c["file"] for c in cases
               if not os.path.exists(os.path.join(golden_dir, c["file"]))]
    assert not missing, f"tests/golden/ is missing {missing}"
    return golden_dir, cases


def test_compat_fastlog_golden_parity_kernel(golden_cases):
    """compat=True must reproduce the reference binary's sketches
    bucket-for-bucket. tests/golden/* was generated by COMPILING the
    read-only reference kernel (tests/golden/README.md) and dumping
    its exact bucket layout + quantiles for deterministic inputs."""
    import os

    golden_dir, cases = golden_cases
    assert len(cases) >= 3
    for case in cases:
        vals = np.fromfile(os.path.join(golden_dir, case["file"]), dtype="<f8")
        assert vals.size == case["n"]
        sk = UDDSketch(initial_alpha=case["alpha"], m=case["m"], compat=True)
        sk.update(vals)
        got = {str(int(k)): int(c) for k, c in zip(sk.keys, sk.counts)}
        assert got == case["buckets"], case["name"]  # bucket-for-bucket
        assert sk.zero_count == case["zero"]
        # our alpha is re-derived from gamma ((g-1)/(g+1)) while the
        # reference stores the constructor value -> agree to the last ulp;
        # quantile estimates inherit that one-ulp wiggle via (1 - alpha)
        assert sk.alpha == pytest.approx(case["alpha"], rel=1e-15)
        for q, ref_est in case["quantiles"].items():
            assert sk.quantile(float(q)) == pytest.approx(ref_est, rel=5e-16), (
                case["name"], q,
            )
        # and the exact-log default path lands within one bucket of compat
        ex = UDDSketch(initial_alpha=case["alpha"], m=0).update(vals)
        for q in (0.5, 0.99):
            a, b = sk.quantile(q), ex.quantile(q)
            assert abs(a - b) <= 3 * case["alpha"] * abs(b) + 1e-12


def test_compat_golden_parity_distributed(spark, golden_cases):
    """The same golden inputs replayed through the SPARK pipeline: the
    headerless binary-double source (the reference's VALIDATE input format)
    -> distributed compat fill -> treeReduce merge == the reference binary's
    sequential sketch, bucket-for-bucket (m=0: merge-order invariant)."""
    import os

    from puddsketch_spark.sources import read_binary_doubles
    from puddsketch_spark.spark.agg import sketch_global

    golden_dir, cases = golden_cases
    case = cases[0]
    df = read_binary_doubles(
        spark, os.path.join(golden_dir, case["file"])
    ).repartition(8)
    assert df.count() == case["n"]
    sk = sketch_global(
        df, "value",
        lambda: UDDSketch(initial_alpha=case["alpha"], m=0, compat=True),
        UDDSketch.from_bytes,
    )
    got = {str(int(k)): int(c) for k, c in zip(sk.keys, sk.counts)}
    assert got == case["buckets"]
    assert sk.zero_count == case["zero"]
    for q, ref_est in case["quantiles"].items():
        assert sk.quantile(float(q)) == pytest.approx(ref_est, rel=5e-16)


def test_rank_of_and_cdf():
    """Inverse quantile: bucket-granular CDF — exact at bucket upper
    bounds, within one bucket's mass elsewhere, monotone, zero/negative/
    NaN domains handled like the positive-store reference."""
    import numpy as np

    from puddsketch_spark.core import UDDSketch

    rng = np.random.default_rng(9)
    x = rng.lognormal(1.0, 1.0, 40_000)
    sk = UDDSketch(0.01, m=0).update(np.concatenate([x, [0.0, 0.0]]))
    assert sk.rank_of(-5.0) == 0 and sk.rank_of(0.0) == 2  # zero bucket
    prev = 0
    for v in (0.3, 1.0, 3.0, 10.0, 100.0, 1e9):
        r = sk.rank_of(v)
        assert r >= prev  # monotone
        lo = int((x <= v / sk.gamma).sum()) + 2
        hi = int((x <= v * sk.gamma).sum()) + 2
        assert lo <= r <= hi, (v, r, lo, hi)
        prev = r
    assert sk.cdf(1e9) == 1.0
    assert sk.rank_of(float("nan")) == 0
    # exact at a bucket upper bound: rank(bucket_value * (1+alpha)/(1))
    k = int(sk.keys[len(sk.keys) // 2])
    ub = sk.gamma ** k  # items with key <= k are exactly those <= gamma^k
    assert sk.rank_of(ub) == 2 + int(
        sk.counts[sk.keys <= k].sum()
    )


def test_ks_distance_drift_detection():
    """KS between sketches: ~0 for same-distribution samples, matches the
    raw-data KS within one bucket's mass for shifted distributions, exact
    0/1 extremes, alpha mismatch raises, collapse alignment works."""
    import numpy as np
    import pytest

    from puddsketch_spark.core import UDDSketch

    rng = np.random.default_rng(7)
    a_vals = rng.lognormal(1, 1, 100_000)
    b_same = rng.lognormal(1, 1, 100_000)
    b_shift = rng.lognormal(1.5, 1, 100_000)
    sa = UDDSketch(0.01, m=0).update(a_vals)
    assert sa.ks_distance(UDDSketch(0.01, m=0).update(b_same)) <= 0.02
    ks = sa.ks_distance(UDDSketch(0.01, m=0).update(b_shift))
    # exact raw KS via sorted scan
    allv = np.sort(np.concatenate([a_vals, b_shift]))
    ca = np.searchsorted(np.sort(a_vals), allv, side="right") / a_vals.size
    cb = np.searchsorted(np.sort(b_shift), allv, side="right") / b_shift.size
    exact = np.abs(ca - cb).max()
    assert abs(ks - exact) <= 0.02, (ks, exact)
    # disjoint supports -> KS = 1
    lo = UDDSketch(0.01, m=0).update(np.full(100, 1.0))
    hi = UDDSketch(0.01, m=0).update(np.full(100, 1e6))
    assert lo.ks_distance(hi) == 1.0
    assert lo.ks_distance(lo) == 0.0
    # collapse alignment: m-bounded vs unbounded still comparable
    small = UDDSketch(0.01, m=32).update(a_vals)
    assert small.ks_distance(sa) <= 0.05
    with pytest.raises(ValueError, match="alpha"):
        sa.ks_distance(UDDSketch(0.001, m=0))
