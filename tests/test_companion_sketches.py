"""Companion-sketch kernels: accuracy vs exact oracles + mergeable contract
(FIXTURES.md §4): HLL within published RSE, CMS overestimate-only, Bloom zero
false negatives, t-digest/KLL rank error within bound, all merges commutative."""

import numpy as np
import pytest

from puddsketch_spark.core import BloomFilter, CountMinSketch, HLLSketch, KLLSketch, TDigest
from puddsketch_spark.core.bloom import optimal_params


def _ids(n, seed=0, card=None):
    rng = np.random.default_rng(seed)
    card = card or n
    return np.array([f"conv{j:09d}" for j in rng.integers(0, card, n)], dtype=object)


# ---------------------------------------------------------------- HLL
@pytest.mark.parametrize("card", [100, 5_000, 200_000])
def test_hll_accuracy(card):
    vals = np.array([f"id{j}" for j in range(card)], dtype=object)
    sk = HLLSketch(p=14).update(vals).update(vals[: card // 2])  # dupes don't count
    rse = 1.04 / np.sqrt(2**14)
    assert abs(sk.estimate() - card) / card <= 4 * rse, (sk.estimate(), card)


def test_hll_merge_commutative_and_serde():
    a = HLLSketch(p=12).update(_ids(20_000, 1, 5_000))
    b = HLLSketch(p=12).update(_ids(20_000, 2, 8_000))
    ab = HLLSketch.from_bytes(a.to_bytes()).merge(b)
    ba = HLLSketch.from_bytes(b.to_bytes()).merge(a)
    assert ab.same_buckets(ba)
    exact = len(set(_ids(20_000, 1, 5_000)) | set(_ids(20_000, 2, 8_000)))
    assert abs(ab.estimate() - exact) / exact <= 0.05


def test_hll_precision_mismatch_raises():
    with pytest.raises(ValueError, match="precision"):
        HLLSketch(p=12).merge(HLLSketch(p=14))


def test_hll_ints_and_floats():
    sk = HLLSketch(p=12).update(np.arange(10_000, dtype=np.int64))
    assert abs(sk.estimate() - 10_000) / 10_000 <= 0.05


# ---------------------------------------------------------------- CMS
def test_cms_bounds():
    rng = np.random.default_rng(3)
    # zipf-ish tool frequencies
    tools = np.array(["search", "python", "browser", "editor"], dtype=object)
    draws = tools[np.minimum(rng.geometric(0.5, 50_000) - 1, 3)]
    sk = CountMinSketch(depth=5, width=2048).update(draws)
    exact = {t: int((draws == t).sum()) for t in tools}
    est = sk.query(tools)
    for t, e in zip(tools, est):
        assert e >= exact[t]  # never underestimates
        assert e <= exact[t] + sk.eps * sk.total
    assert sk.total == 50_000


def test_cms_merge_and_serde():
    a = CountMinSketch().update(_ids(10_000, 4, 100))
    b = CountMinSketch().update(_ids(10_000, 5, 100))
    ab = CountMinSketch.from_bytes(a.to_bytes()).merge(b)
    ba = CountMinSketch.from_bytes(b.to_bytes()).merge(a)
    assert ab.same_buckets(ba)
    assert ab.total == 20_000


def test_cms_weighted_update():
    sk = CountMinSketch()
    sk.update_weighted(np.array(["x", "y"], dtype=object), np.array([10, 32]))
    assert sk.query(np.array(["x"], dtype=object))[0] >= 10
    assert sk.total == 42


# ---------------------------------------------------------------- Bloom
def test_bloom_no_false_negatives_and_fpr():
    present = np.array([f"c{j:08d}" for j in range(50_000)], dtype=object)
    m, k = optimal_params(50_000, fpr=0.01)
    assert m % 64 == 0  # helper output is directly constructible
    bf = BloomFilter(num_bits=m, num_hashes=k).update(present)
    assert bf.contains(present).all()  # ZERO false negatives
    absent = np.array([f"z{j:08d}" for j in range(10_000)], dtype=object)
    fpr = bf.contains(absent).mean()
    assert fpr <= 0.02, fpr


def test_bloom_merge_or_semantics():
    m, k = 1 << 16, 5
    a = BloomFilter(num_bits=m, num_hashes=k).update(np.array(["a", "b"], dtype=object))
    b = BloomFilter(num_bits=m, num_hashes=k).update(np.array(["c"], dtype=object))
    ab = BloomFilter.from_bytes(a.to_bytes()).merge(b)
    assert ab.contains(np.array(["a", "b", "c"], dtype=object)).all()
    ba = BloomFilter.from_bytes(b.to_bytes()).merge(a)
    assert ab.same_buckets(ba)


# ---------------------------------------------------------------- t-digest
@pytest.mark.parametrize("dist,seed", [("lognormal", 0), ("uniform", 1), ("exponential", 2)])
def test_tdigest_accuracy(dist, seed):
    rng = np.random.default_rng(seed)
    n = 100_000
    v = {
        "lognormal": rng.lognormal(5, 1, n),
        "uniform": rng.uniform(1, 1000, n),
        "exponential": rng.exponential(10, n),
    }[dist]
    td = TDigest(delta=200)
    for chunk in np.array_split(v, 10):
        td.update(chunk)
    sv = np.sort(v)
    for q in [0.01, 0.5, 0.9, 0.99, 0.999]:
        est = td.quantile(q)
        # rank error: where does est fall in the true CDF?
        r = np.searchsorted(sv, est) / n
        assert abs(r - q) <= 0.01, (dist, q, est, r)


def test_tdigest_merge_commutative_exact():
    rng = np.random.default_rng(7)
    a = TDigest().update(rng.normal(100, 10, 20_000))
    b = TDigest().update(rng.exponential(50, 20_000))
    ab = TDigest.from_bytes(a.to_bytes()).merge(b)
    ba = TDigest.from_bytes(b.to_bytes()).merge(a)
    assert ab.same_buckets(ba)
    assert ab.count == 40_000


def test_tdigest_extremes():
    td = TDigest().update(np.array([1.0, 2.0, 3.0]))
    assert td.quantile(0.0) == 1.0
    assert td.quantile(1.0) == 3.0


# ---------------------------------------------------------------- KLL
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_kll_rank_error_within_bound(seed):
    rng = np.random.default_rng(seed)
    n = 200_000
    v = rng.lognormal(5, 1, n)
    sk = KLLSketch(k=200)
    for chunk in np.array_split(v, 16):
        sk.update(chunk)
    assert sk.n == n
    sv = np.sort(v)
    eps = sk.rank_eps  # ~1.33% at k=200
    for q in [0.05, 0.25, 0.5, 0.75, 0.9, 0.99]:
        est = sk.quantile(q)
        r = np.searchsorted(sv, est) / n
        assert abs(r - q) <= 2 * eps, (q, r, eps)


def test_kll_merge_population_and_bound():
    rng = np.random.default_rng(9)
    parts = [KLLSketch(k=200).update(rng.uniform(0, 1, 30_000)) for _ in range(4)]
    merged = KLLSketch.from_bytes(parts[0].to_bytes())
    for p in parts[1:]:
        merged.merge(p)
    assert merged.n == 120_000
    assert merged.num_buckets <= 3 * 200  # retained items stay bounded
    for q in [0.1, 0.5, 0.9]:
        assert abs(merged.quantile(q) - q) <= 0.03


def test_kll_serde_roundtrip():
    rng = np.random.default_rng(11)
    sk = KLLSketch(k=128).update(rng.normal(0, 1, 50_000))
    rt = KLLSketch.from_bytes(sk.to_bytes())
    assert rt.same_buckets(sk) and rt.n == sk.n
    assert rt.quantile(0.5) == sk.quantile(0.5)


def test_kll_k_mismatch_raises():
    with pytest.raises(ValueError, match="k mismatch"):
        KLLSketch(k=100).merge(KLLSketch(k=200))


def test_bloom_weighted_matches_row_path():
    """update_weighted (the weighted fill) sets the same bits AND
    the same n_added as row-at-a-time update, NaN counts dropped too."""
    import numpy as np

    from puddsketch_spark.core import BloomFilter

    b1 = BloomFilter(num_bits=1024, num_hashes=3)
    b2 = BloomFilter(num_bits=1024, num_hashes=3)
    b1.update(np.array([1.0, 2.0, 2.0, 3.0, np.nan]))
    b2.update_weighted(np.array([1.0, 2.0, 3.0, np.nan]), np.array([1, 2, 1, 5]))
    assert np.array_equal(b1.bits, b2.bits)
    assert b1.n_added == b2.n_added == 4


# ---------------------------------------------------------------- Theta
def test_theta_exact_mode_below_k():
    from puddsketch_spark.core import ThetaSketch

    vals = np.array([f"id{j}" for j in range(1_000)], dtype=object)
    sk = ThetaSketch(k=4096).update(vals).update(vals[:500])  # dupes don't count
    assert sk.is_exact and sk.estimate() == 1_000.0
    assert sk.rse() == 0.0


@pytest.mark.parametrize("card", [50_000, 400_000])
def test_theta_accuracy_estimation_mode(card):
    from puddsketch_spark.core import ThetaSketch

    vals = np.array([f"id{j}" for j in range(card)], dtype=object)
    sk = ThetaSketch(k=4096).update(vals)
    assert not sk.is_exact
    rse = 1.0 / np.sqrt(4096 - 1)
    assert abs(sk.estimate() - card) / card <= 4 * rse, (sk.estimate(), card)


def test_theta_merge_commutative_associative_bucket_for_bucket():
    from puddsketch_spark.core import ThetaSketch

    def fill(seed, card):
        return ThetaSketch(k=256).update(_ids(30_000, seed, card))

    a, b, c = fill(1, 20_000), fill(2, 30_000), fill(3, 10_000)
    ab = ThetaSketch.from_bytes(a.to_bytes()).merge(b)
    ba = ThetaSketch.from_bytes(b.to_bytes()).merge(a)
    assert ab.same_buckets(ba)
    abc1 = ThetaSketch.from_bytes(ab.to_bytes()).merge(c)
    bc = ThetaSketch.from_bytes(b.to_bytes()).merge(c)
    abc2 = ThetaSketch.from_bytes(a.to_bytes()).merge(bc)
    assert abc1.same_buckets(abc2)
    exact = len(
        set(_ids(30_000, 1, 20_000)) | set(_ids(30_000, 2, 30_000)) | set(_ids(30_000, 3, 10_000))
    )
    assert abs(abc1.estimate() - exact) / exact <= 4 / np.sqrt(255)


def test_theta_set_ops_vs_exact():
    from puddsketch_spark.core import ThetaSketch

    a_vals = np.array([f"id{j}" for j in range(0, 60_000)], dtype=object)
    b_vals = np.array([f"id{j}" for j in range(40_000, 120_000)], dtype=object)
    sa = ThetaSketch(k=4096).update(a_vals)
    sb = ThetaSketch(k=4096).update(b_vals)
    tol = 5 / np.sqrt(4096 - 1)  # intersection error grows ~1/jaccard; generous
    inter = ThetaSketch.intersect(sa, sb).estimate()
    assert abs(inter - 20_000) / 20_000 <= tol, inter
    diff = ThetaSketch.a_not_b(sa, sb).estimate()
    assert abs(diff - 40_000) / 40_000 <= tol, diff
    uni = ThetaSketch.union(sa, sb).estimate()
    assert abs(uni - 120_000) / 120_000 <= tol, uni
    # intersection result is itself a sketch: compose (A ∩ B) \ B == empty
    ab = ThetaSketch.intersect(sa, sb)
    assert ThetaSketch.a_not_b(ab, sb).estimate() == 0.0


def test_theta_serde_roundtrip_and_k_mismatch():
    from puddsketch_spark.core import ThetaSketch

    sk = ThetaSketch(k=64).update(_ids(5_000, 7, 3_000))
    rt = ThetaSketch.from_bytes(sk.to_bytes())
    assert rt.same_buckets(sk)
    with pytest.raises(ValueError, match="k mismatch"):
        ThetaSketch(k=64).merge(ThetaSketch(k=128))


def test_theta_weighted_matches_row_path_and_nan():
    from puddsketch_spark.core import ThetaSketch

    t1 = ThetaSketch(k=64).update(np.array([1.0, 2.0, 2.0, 3.0, np.nan]))
    t2 = ThetaSketch(k=64).update_weighted(
        np.array([1.0, 2.0, 3.0, np.nan]), np.array([1, 2, 1, 5])
    )
    assert t1.same_buckets(t2) and t1.estimate() == 3.0


# ---------------------------------------------------------------- Moments
def test_moments_matches_numpy_one_shot():
    from puddsketch_spark.core.moments import MomentsSketch

    rng = np.random.default_rng(5)
    x = rng.lognormal(1.0, 0.7, 100_000)
    sk = MomentsSketch()
    for chunk in np.array_split(x, 13):  # uneven incremental fills
        sk.update(chunk)
    assert sk.count == 100_000
    assert abs(sk.mean - x.mean()) <= 1e-12 * abs(x.mean())
    assert abs(sk.variance() - x.var()) <= 1e-10 * x.var()
    c = x - x.mean()
    skew = np.sqrt(x.size) * (c**3).sum() / ((c**2).sum()) ** 1.5
    kurt = x.size * (c**4).sum() / ((c**2).sum()) ** 2 - 3.0
    assert abs(sk.skewness() - skew) <= 1e-8 * abs(skew)
    assert abs(sk.kurtosis() - kurt) <= 1e-8 * abs(kurt)
    assert sk.vmin == x.min() and sk.vmax == x.max()


def test_moments_merge_any_order_and_serde():
    from puddsketch_spark.core.moments import MomentsSketch

    rng = np.random.default_rng(6)
    parts = [rng.normal(i, 1 + i, 5_000) for i in range(6)]
    whole = MomentsSketch().update(np.concatenate(parts))

    fwd = MomentsSketch()
    for p in parts:
        fwd.merge(MomentsSketch.from_bytes(MomentsSketch().update(p).to_bytes()))
    rev = MomentsSketch()
    for p in reversed(parts):
        rev.merge(MomentsSketch().update(p))
    for sk in (fwd, rev):
        assert sk.n == whole.n
        assert abs(sk.mean - whole.mean) <= 1e-12 * abs(whole.mean)
        assert abs(sk.variance() - whole.variance()) <= 1e-10 * whole.variance()
        assert abs(sk.kurtosis() - whole.kurtosis()) <= 1e-8
    rt = MomentsSketch.from_bytes(fwd.to_bytes())
    assert rt.same_buckets(fwd)


def test_moments_weighted_matches_expansion_and_nan():
    from puddsketch_spark.core.moments import MomentsSketch

    vals = np.array([1.0, 5.0, 9.0, np.nan])
    w = np.array([3, 1, 2, 7])
    expanded = np.array([1.0, 1.0, 1.0, 5.0, 9.0, 9.0])
    a = MomentsSketch().update_weighted(vals, w)
    b = MomentsSketch().update(expanded)
    assert a.n == b.n == 6
    assert abs(a.variance() - b.variance()) <= 1e-12
    assert abs(a.skewness() - b.skewness()) <= 1e-12
    assert (a.vmin, a.vmax) == (1.0, 9.0)


def test_moments_empty_and_degenerate():
    from puddsketch_spark.core.moments import MomentsSketch

    e = MomentsSketch()
    assert e.count == 0 and np.isnan(e.skewness())
    const = MomentsSketch().update(np.full(100, 7.0))
    assert const.variance() == 0.0 and np.isnan(const.kurtosis())
    assert MomentsSketch().merge(const).same_buckets(const)


def test_tdigest_cdf_inverse_of_quantile():
    from puddsketch_spark.core import TDigest

    rng = np.random.default_rng(13)
    x = rng.normal(10, 3, 80_000)
    sk = TDigest(delta=200).update(x)
    # cdf matches the empirical CDF within ~rank error
    for v in (4.0, 8.0, 10.0, 13.0, 16.0):
        emp = (x <= v).mean()
        assert abs(sk.cdf(v) - emp) <= 0.012, (v, sk.cdf(v), emp)
    # inverse consistency away from the extremes
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        assert abs(sk.cdf(sk.quantile(q)) - q) <= 0.012, q
    assert sk.cdf(sk.vmin - 1) == 0.0 and sk.cdf(sk.vmax + 1) == 1.0


def test_cms_inner_product_join_size():
    from puddsketch_spark.core import CountMinSketch

    rng = np.random.default_rng(19)
    a = rng.integers(0, 500, 30_000)
    b = rng.integers(0, 500, 20_000)
    ca = np.bincount(a, minlength=500)
    cb = np.bincount(b, minlength=500)
    exact = int((ca * cb).sum())
    sa = CountMinSketch(depth=5, width=4096).update(a)
    sb = CountMinSketch(depth=5, width=4096).update(b)
    est = sa.inner_product(sb)
    assert est >= exact  # never underestimates
    assert est <= exact + sa.eps * sa.total * sb.total
    with pytest.raises(ValueError, match="dimension"):
        sa.inner_product(CountMinSketch(depth=4, width=4096))


def test_theta_partition_identity_and_mixed_type_fallback():
    """Sketch-level set identity: at a common theta, retained(A∩B) +
    retained(A\\B) = retained(A) — so the estimates partition exactly."""
    from puddsketch_spark.core import ThetaSketch

    a = ThetaSketch(k=128).update(_ids(20_000, 3, 9_000))
    b = ThetaSketch(k=128).update(_ids(20_000, 4, 9_000))
    theta = min(a.theta, b.theta)
    inter = ThetaSketch.intersect(a, b)
    diff = ThetaSketch.a_not_b(a, b)
    a_live = int((a.keys < theta).sum())
    assert inter.num_buckets + diff.num_buckets == a_live
    assert inter.theta == diff.theta == theta
    assert abs(inter.estimate() + diff.estimate()
               - a_live * float(1 << 63) / float(theta)) < 1e-6


def test_review_regressions_rank_inf_and_weighted_minmax():
    """Review regressions: rank_of(+inf) = n (cdf 1.0); zero/NaN-weight
    entries contribute nothing — including to vmin/vmax."""
    from puddsketch_spark.core import MomentsSketch, UDDSketch

    sk = UDDSketch(0.01, m=0).update(np.array([1.0, 2.0, 3.0]))
    assert sk.rank_of(float("inf")) == 3 and sk.cdf(float("inf")) == 1.0
    assert sk.rank_of(float("-inf")) == 0

    m = MomentsSketch().update_weighted(
        np.array([5.0, -100.0, 7.0]), np.array([3.0, 0.0, np.nan])
    )
    assert m.n == 3 and (m.vmin, m.vmax) == (5.0, 5.0)
