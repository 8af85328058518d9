"""DDSketch pair kernel: signed-value accuracy, B* routing, merge invariants."""

import numpy as np
import pytest

from puddsketch_spark.core.ddsketch import DDSketchPair


def exact_quantile(values, q):
    v = np.sort(np.asarray(values, dtype=np.float64))
    return v[int(np.floor(q * (len(v) - 1)))]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_signed_accuracy_within_alpha(seed):
    rng = np.random.default_rng(seed)
    v = rng.normal(0, 100, 100_000)  # mixed sign
    sk = DDSketchPair(initial_alpha=0.005, m=0).update(v)
    for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]:
        est, exact = sk.quantile(q), exact_quantile(v, q)
        assert abs(est - exact) <= sk.alpha * abs(exact) + 1e-9, (q, est, exact)


def test_sign_split_and_zero_bucket():
    sk = DDSketchPair(initial_alpha=0.01, m=0)
    sk.update(np.array([-10.0, -1.0, 0.0, 2.0, 100.0, np.nan]))
    assert sk.count == 5
    assert sk.zero_count == 1
    assert sk.neg_keys.size == 2 and sk.pos_keys.size == 2
    # ordered walk: q=0 -> most negative, q=1 -> most positive
    assert sk.quantile(0.0) == pytest.approx(-10.0, rel=0.02)
    assert sk.quantile(0.5) == pytest.approx(0.0, abs=1e-12)
    assert sk.quantile(1.0) == pytest.approx(100.0, rel=0.02)


def test_negative_only():
    rng = np.random.default_rng(3)
    v = -rng.lognormal(3, 1, 50_000)
    sk = DDSketchPair(initial_alpha=0.01, m=200).update(v)
    for q in [0.1, 0.5, 0.9]:
        est, exact = sk.quantile(q), exact_quantile(v, q)
        assert abs(est - exact) <= sk.alpha * abs(exact), (q, est, exact)


def test_bound_applies_jointly_and_preserves_population():
    rng = np.random.default_rng(4)
    v = np.concatenate([rng.lognormal(2, 2, 20_000), -rng.lognormal(2, 2, 20_000)])
    sk = DDSketchPair(initial_alpha=0.01, m=64).update(v)
    assert sk.num_buckets <= 64
    assert sk.num_collapses > 0
    assert sk.count == 40_000


def test_merge_commutative_and_serde():
    rng = np.random.default_rng(5)
    a = DDSketchPair(0.01, m=128).update(rng.normal(-50, 20, 30_000))
    b = DDSketchPair(0.01, m=128).update(rng.normal(50, 20, 30_000))
    ab = DDSketchPair.from_bytes(a.to_bytes()).merge(b.copy())
    ba = DDSketchPair.from_bytes(b.to_bytes()).merge(a.copy())
    assert ab.same_buckets(ba)
    assert ab.count == 60_000
    rt = DDSketchPair.from_bytes(ab.to_bytes())
    assert rt.same_buckets(ab)


def test_merge_alpha_mismatch_raises():
    with pytest.raises(ValueError, match="incompatible alpha"):
        DDSketchPair(0.01).merge(DDSketchPair(0.02))


def test_ddog_low_collapse_bound_and_fences():
    """DataDog-original LowBins collapse: gamma fixed, excess bins fold from
    the low end of the value axis, fences mark where accuracy starts.
    (Reference tracks the accurate quantile range [q0B, q1B] for the same
    reason: ParallelSketcher.cc:920-1028.)"""
    rng = np.random.default_rng(7)
    v = np.concatenate([rng.lognormal(2, 2, 20_000), -rng.lognormal(2, 2, 20_000)])
    sk = DDSketchPair(initial_alpha=0.01, m=64, collapse_mode="ddog_low").update(v)
    assert sk.num_buckets <= 64
    assert sk.count == 40_000
    assert sk.num_collapses == 0  # resolution unchanged
    assert sk.alpha == pytest.approx(0.01)
    assert sk.pair_collapses > 0
    assert sk.fence_neg is not None  # negative store gave bins first (LowBins)
    # accuracy holds exactly for values ABOVE the positive fence
    fence_value = sk.gamma ** sk.fence_pos if sk.fence_pos is not None else -np.inf
    for q in [0.7, 0.9, 0.99, 0.999]:
        exact = exact_quantile(v, q)
        if exact > fence_value:
            est = sk.quantile(q)
            assert abs(est - exact) <= sk.alpha * abs(exact) + 1e-9, (q, est, exact)
    # the top decile of a lognormal must be above any reasonable fence here
    assert exact_quantile(v, 0.999) > fence_value


def test_ddog_merge_commutative_and_serde():
    rng = np.random.default_rng(8)
    a = DDSketchPair(0.01, m=100, collapse_mode="ddog_low").update(rng.normal(-10, 30, 20_000))
    b = DDSketchPair(0.01, m=100, collapse_mode="ddog_low").update(rng.normal(10, 30, 20_000))
    ab = DDSketchPair.from_bytes(a.to_bytes()).merge(b.copy())
    ba = DDSketchPair.from_bytes(b.to_bytes()).merge(a.copy())
    assert ab.count == ba.count == 40_000
    assert ab.num_buckets <= 100 and ba.num_buckets <= 100
    rt = DDSketchPair.from_bytes(ab.to_bytes())
    assert rt.same_buckets(ab) and rt.collapse_mode == "ddog_low"
    assert rt.pair_collapses == ab.pair_collapses and rt.fence_neg == ab.fence_neg


def test_ddog_high_collapse_bound_and_fences():
    """HighBins mirror: highest positive keys fold first, then the
    highest-value (lowest-|key|) negatives; accuracy holds BELOW the fence."""
    rng = np.random.default_rng(9)
    v = np.concatenate([rng.lognormal(2, 2, 20_000), -rng.lognormal(2, 2, 20_000)])
    sk = DDSketchPair(initial_alpha=0.01, m=64, collapse_mode="ddog_high").update(v)
    assert sk.num_buckets <= 64
    assert sk.count == 40_000
    assert sk.num_collapses == 0 and sk.alpha == pytest.approx(0.01)
    assert sk.pair_collapses > 0
    assert sk.fence_pos is not None  # positive store gave bins first (HighBins)
    fence_value = sk.gamma ** sk.fence_pos
    for q in [0.001, 0.01, 0.1, 0.3]:
        exact = exact_quantile(v, q)
        if exact < -(sk.gamma ** sk.fence_neg if sk.fence_neg is not None else -np.inf):
            est = sk.quantile(q)
            assert abs(est - exact) <= sk.alpha * abs(exact) + 1e-9, (q, est, exact)
    # the accurate window reported must exclude the folded top mass
    q0, q1 = sk.accurate_range()
    assert q0 == 0.0 and q1 < 1.0
    exact_inside = exact_quantile(v, q1 * 0.5)
    if abs(exact_inside) > 1e-12 and exact_inside < fence_value:
        est = sk.quantile(q1 * 0.5)
        assert abs(est - exact_inside) <= sk.alpha * abs(exact_inside) + 1e-9


def _ref_sequential_collapse(pos, neg, zero, bound, mode):
    """One-pair-at-a-time emulation of the reference's
    originalCollapseArrayPair (ArraySketch.cc:212-443): LowBins folds the
    highest-key negative bin into its neighbor until one remains, then the
    lowest positive keys; HighBins folds the highest positive keys until one
    non-B* bin remains, then the lowest-|key| negatives. B* (zero) counts
    toward the bound but never collapses."""
    pos = [list(b) for b in pos]
    neg = [list(b) for b in neg]
    while (len(pos) + (1 if zero > 0 else 0) + len(neg)) > bound:
        if mode == "ddog_low":
            if len(neg) > 1:
                neg[-2][1] += neg[-1][1]
                neg.pop()
            elif len(pos) > 1:
                pos[1][1] += pos[0][1]
                pos.pop(0)
            else:
                break
        else:
            if len(pos) >= 2:
                pos[-2][1] += pos[-1][1]
                pos.pop()
            elif len(neg) > 1:
                neg[1][1] += neg[0][1]
                neg.pop(0)
            else:
                break
    return pos, neg


@pytest.mark.parametrize("mode", ["ddog_low", "ddog_high"])
@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_ddog_merge_matches_reference_trash_bin_fold(mode, seed):
    """Our ddog merge (absorb + batch fold) must land on the same bucket
    layout as the reference's trash-bin reduce: merge-join the two stores,
    then fold one pair at a time from the collapsing end into the bound-width
    array (Merger.cc:472-739; the staged per-store bounds there reach the
    same endpoint because each mode folds its secondary store to one bin
    before touching the primary)."""
    rng = np.random.default_rng(seed)
    bound = int(rng.integers(8, 40))
    sketches = []
    for _ in range(2):
        n_pos = int(rng.integers(0, 60))
        n_neg = int(rng.integers(0, 60))
        vals = np.concatenate([
            rng.lognormal(1, 2, n_pos),
            -rng.lognormal(1, 2, n_neg),
            np.zeros(int(rng.integers(0, 3))),
        ])
        sketches.append(
            DDSketchPair(initial_alpha=0.02, m=bound, collapse_mode=mode).update(vals)
        )
    a, b = sketches
    # reference endpoint: union-sum both stores, then sequential pair fold
    def union(k1, c1, k2, c2):
        d = {}
        for k, c in zip(list(k1) + list(k2), list(c1) + list(c2)):
            d[int(k)] = d.get(int(k), 0) + int(c)
        return sorted(d.items())

    upos = union(a.pos_keys, a.pos_counts, b.pos_keys, b.pos_counts)
    uneg = union(a.neg_keys, a.neg_counts, b.neg_keys, b.neg_counts)
    zero = a.zero_count + b.zero_count
    rpos, rneg = _ref_sequential_collapse(upos, uneg, zero, bound, mode)

    merged = a.copy().merge(b.copy())
    assert [(int(k), int(c)) for k, c in zip(merged.pos_keys, merged.pos_counts)] == [
        (k, c) for k, c in rpos
    ]
    assert [(int(k), int(c)) for k, c in zip(merged.neg_keys, merged.neg_counts)] == [
        (k, c) for k, c in rneg
    ]
    assert merged.zero_count == zero
    assert merged.count == a.count + b.count


def test_ddog_accurate_range_low_mode():
    """LowBins: q0 bounds the trash mass; estimates above q0 are accurate."""
    rng = np.random.default_rng(11)
    v = rng.lognormal(2, 2, 50_000)
    sk = DDSketchPair(initial_alpha=0.01, m=48, collapse_mode="ddog_low").update(v)
    q0, q1 = sk.accurate_range()
    assert q1 == 1.0 and 0.0 < q0 < 1.0
    # trash mass really is the first positive bin
    assert q0 == pytest.approx(sk.pos_counts[0] / sk.count)
    # estimates are alpha-accurate exactly INSIDE the reported window (below
    # q0 the trash bin makes them arbitrarily wrong — that is the point of
    # the report)
    for frac in (0.05, 0.5, 0.9):
        q = q0 + frac * (1.0 - q0)
        est, exact = sk.quantile(q), exact_quantile(v, q)
        assert abs(est - exact) <= sk.alpha * abs(exact) + 1e-9, (q, est, exact)
    # collapsed-bin alpha mirrors ParallelSketcher.cc:956-959 and must be a
    # (much) looser bound than alpha
    assert sk.collapsed_alpha() > sk.alpha


def test_ddog_minmax_tracking_and_serde():
    rng = np.random.default_rng(12)
    v = rng.normal(0, 10, 1000)
    sk = DDSketchPair(0.01, m=0).update(v)
    assert sk.min_value == v.min() and sk.max_value == v.max()
    rt = DDSketchPair.from_bytes(sk.to_bytes())
    assert rt.min_value == sk.min_value and rt.max_value == sk.max_value
    other = DDSketchPair(0.01, m=0).update(v + 100)
    m = sk.copy().merge(other)
    assert m.min_value == v.min() and m.max_value == (v + 100).max()


@pytest.mark.parametrize("mode", ["uniform", "ddog_low", "ddog_high"])
def test_from_bucket_table_equals_single_batch_update(mode):
    """Unsorted signed bucket tables + B* + min/max assemble to the
    single-batch update() state, for every collapse mode at a folding m."""
    rng = np.random.default_rng(21)
    v = np.concatenate([rng.normal(0, 50, 4000), np.zeros(7)])
    table = DDSketchPair(0.01, m=0).update(v)
    pp = rng.permutation(table.pos_keys.size)
    pn = rng.permutation(table.neg_keys.size)
    sk = DDSketchPair.from_bucket_table(
        0.01, 8, table.zero_count,
        table.pos_keys[pp], table.pos_counts[pp],
        table.neg_keys[pn], table.neg_counts[pn],
        v.min(), v.max(), mode,
    )
    want = DDSketchPair(0.01, m=8, collapse_mode=mode).update(v)
    assert want.num_collapses + want.pair_collapses > 0 and want.zero_count == 7
    # the blob carries stores, B*, folds, fences and min/max
    assert sk.to_bytes() == want.to_bytes()


def test_ddog_mode_mismatch_raises():
    with pytest.raises(ValueError, match="collapse modes"):
        DDSketchPair(0.01).merge(DDSketchPair(0.01, collapse_mode="ddog_low"))


def test_mixed_resolution_merge():
    rng = np.random.default_rng(6)
    fine = DDSketchPair(0.01, m=0).update(rng.normal(0, 10, 5_000))
    coarse = DDSketchPair(0.01, m=0).update(rng.normal(0, 10, 5_000)).collapse(2)
    merged = fine.copy().merge(coarse.copy())
    assert merged.num_collapses == 2 and merged.count == 10_000
    assert merged.same_buckets(coarse.copy().merge(fine.copy()))


@pytest.mark.parametrize("mode", ["ddog_low", "ddog_high"])
@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5])
def test_ddog_merge_associative(mode, seed):
    """(a + b) + c == a + (b + c) bucket-for-bucket: the trash-bin fold only
    ever deletes keys that lie below (LowBins) / above (HighBins) the FINAL
    union's fold target, so intermediate folds cannot change the endpoint —
    the property treeReduce needs for any reduction topology."""
    rng = np.random.default_rng(100 + seed)
    bound = int(rng.integers(6, 24))
    sks = []
    for _ in range(3):
        vals = np.concatenate([
            rng.lognormal(1, 2, int(rng.integers(0, 40))),
            -rng.lognormal(1, 2, int(rng.integers(0, 40))),
        ])
        sks.append(
            DDSketchPair(initial_alpha=0.02, m=bound, collapse_mode=mode).update(vals)
        )
    a, b, c = sks
    left = a.copy().merge(b.copy()).merge(c.copy())
    right = a.copy().merge(b.copy().merge(c.copy()))
    assert left.same_buckets(right)
    swapped = c.copy().merge(a.copy()).merge(b.copy())
    assert left.same_buckets(swapped)


def test_rank_of_signed_domain():
    """Signed rank walk: negatives by magnitude-descending, B*, positives —
    within one bucket of the empirical rank everywhere, exact at 0."""
    import numpy as np

    from puddsketch_spark.core import DDSketchPair

    rng = np.random.default_rng(31)
    x = np.concatenate([
        -rng.lognormal(1, 1, 20_000), rng.lognormal(1, 1, 30_000), np.zeros(7)
    ])
    sk = DDSketchPair(initial_alpha=0.01, m=0).update(x)
    g = sk.gamma
    assert sk.rank_of(0.0) == (x < 0).sum() + 7  # all negatives + B*
    prev = 0
    for v in (-20.0, -3.0, -0.5, 0.4, 2.0, 25.0, 1e9):
        r = sk.rank_of(v)
        assert r >= prev
        lo = int((x <= (v * g if v < 0 else v / g)).sum())
        hi = int((x <= (v / g if v < 0 else v * g)).sum()) + 7
        assert lo <= r <= hi, (v, r, lo, hi)
        prev = r
    assert sk.cdf(1e9) == 1.0 and sk.rank_of(float("nan")) == 0
    assert sk.rank_of(float("-inf")) == 0


def test_ks_distance_signed_vs_exact():
    """Pair KS matches the exact two-sample statistic to bucket granularity
    on a mixed-sign dataset, is symmetric, zero against itself, and works
    across different alphas (no key-space alignment needed)."""
    import numpy as np

    from puddsketch_spark.core import DDSketchPair

    rng = np.random.default_rng(37)
    a = np.concatenate([-rng.lognormal(1, 1, 15_000), rng.lognormal(1, 1, 5_000)])
    b = np.concatenate([-rng.lognormal(1.6, 1, 10_000), rng.lognormal(1, 1, 10_000)])

    def ks_exact(x, y):
        allv = np.sort(np.concatenate([x, y]))
        cx = np.searchsorted(np.sort(x), allv, side="right") / x.size
        cy = np.searchsorted(np.sort(y), allv, side="right") / y.size
        return float(np.abs(cx - cy).max())

    sa = DDSketchPair(initial_alpha=0.01, m=0).update(a)
    sb = DDSketchPair(initial_alpha=0.01, m=0).update(b)
    exact = ks_exact(a, b)
    got = sa.ks_distance(sb)
    assert abs(got - exact) <= 0.03, (got, exact)
    assert got == sb.ks_distance(sa)
    assert sa.ks_distance(sa) == 0.0
    # cross-alpha: coarser sketch, still within its (wider) bucket tolerance
    sb2 = DDSketchPair(initial_alpha=0.05, m=0).update(b)
    assert abs(sa.ks_distance(sb2) - exact) <= 0.1
    import math

    assert math.isnan(sa.ks_distance(DDSketchPair(initial_alpha=0.01, m=0)))
