"""Hypothesis property tests: the merge algebra that distributed correctness
rests on (commutativity, associativity, population conservation, weighted ==
repeated), over generated inputs rather than fixed seeds."""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from puddsketch_spark.core import (
    CountMinSketch,
    DDSketchPair,
    HLLSketch,
    KLLSketch,
    TDigest,
    UDDSketch,
)

finite_pos = st.floats(min_value=1e-6, max_value=1e12, allow_nan=False)
finite_any = st.floats(min_value=-1e12, max_value=1e12, allow_nan=False)
arr_pos = st.lists(finite_pos, min_size=0, max_size=300).map(np.array)
arr_any = st.lists(finite_any, min_size=0, max_size=300).map(np.array)


@settings(max_examples=60, deadline=None)
@given(a=arr_pos, b=arr_pos, m=st.sampled_from([0, 8, 64]))
def test_udd_merge_commutative_bucketwise(a, b, m):
    sa = UDDSketch(0.01, m=m).update(a)
    sb = UDDSketch(0.01, m=m).update(b)
    ab = sa.copy().merge(sb.copy())
    ba = sb.copy().merge(sa.copy())
    assert ab.same_buckets(ba)
    assert ab.count == len(a) + len(b)


@settings(max_examples=40, deadline=None)
@given(a=arr_pos, b=arr_pos, c=arr_pos)
def test_udd_merge_associative(a, b, c):
    ss = [UDDSketch(0.01, m=32).update(x) for x in (a, b, c)]
    left = ss[0].copy().merge(ss[1].copy()).merge(ss[2].copy())
    right = ss[0].copy().merge(ss[1].copy().merge(ss[2].copy()))
    assert left.same_buckets(right)


@settings(max_examples=40, deadline=None)
@given(vals=st.lists(finite_pos, min_size=1, max_size=100))
def test_udd_weighted_equals_repeated(vals):
    v = np.array(sorted(set(vals)))
    counts = np.arange(1, v.size + 1, dtype=np.int64)
    w = UDDSketch(0.01, m=0).update_weighted(v, counts)
    r = UDDSketch(0.01, m=0).update(np.repeat(v, counts))
    assert w.same_buckets(r)


@settings(max_examples=40, deadline=None)
@given(a=arr_any, b=arr_any, mode=st.sampled_from(["uniform", "ddog_low"]))
def test_ddsketch_merge_population(a, b, mode):
    sa = DDSketchPair(0.01, m=32, collapse_mode=mode).update(a)
    sb = DDSketchPair(0.01, m=32, collapse_mode=mode).update(b)
    merged = sa.copy().merge(sb.copy())
    assert merged.count == len(a) + len(b)
    assert merged.m == 0 or merged.num_buckets <= 32 or merged.num_buckets <= 2


@settings(max_examples=30, deadline=None)
@given(a=st.lists(st.text(min_size=1, max_size=12), max_size=200),
       b=st.lists(st.text(min_size=1, max_size=12), max_size=200))
def test_hll_merge_commutative_and_superset(a, b):
    av = np.array(a, dtype=object)
    bv = np.array(b, dtype=object)
    sa = HLLSketch(p=10).update(av)
    sb = HLLSketch(p=10).update(bv)
    ab = HLLSketch.from_bytes(sa.to_bytes()).merge(sb)
    ba = HLLSketch.from_bytes(sb.to_bytes()).merge(sa)
    assert ab.same_buckets(ba)
    # merged estimate >= max single-side estimate (registers are maxed)
    assert ab.estimate() >= max(sa.estimate(), sb.estimate()) - 1e-9


@settings(max_examples=30, deadline=None)
@given(a=st.lists(st.text(min_size=1, max_size=8), max_size=150))
def test_cms_never_underestimates(a):
    av = np.array(a, dtype=object)
    sk = CountMinSketch(depth=3, width=64).update(av) if len(a) else CountMinSketch()
    if len(a):
        uniq, counts = np.unique(av, return_counts=True)
        est = sk.query(uniq)
        assert (est >= counts).all()


@settings(max_examples=30, deadline=None)
@given(a=arr_pos, b=arr_pos)
# equal means from both sides: the merge must order ties the same way
@example(a=np.array([1.0]), b=np.array([1.0] * 33))
def test_tdigest_merge_commutative(a, b):
    ta = TDigest(delta=100).update(a)
    tb = TDigest(delta=100).update(b)
    ab = ta.copy_like() if hasattr(ta, "copy_like") else TDigest.from_bytes(ta.to_bytes())
    ab = ab.merge(TDigest.from_bytes(tb.to_bytes()))
    ba = TDigest.from_bytes(tb.to_bytes()).merge(TDigest.from_bytes(ta.to_bytes()))
    assert ab.same_buckets(ba)


@settings(max_examples=30, deadline=None)
@given(a=arr_pos)
def test_kll_population_and_serde(a):
    sk = KLLSketch(k=32).update(a)
    assert sk.n == len(a)
    rt = KLLSketch.from_bytes(sk.to_bytes())
    assert rt.same_buckets(sk)


# ---------------------------------------------------------------- packing
@settings(max_examples=100, deadline=None)
@given(
    toks=st.lists(st.integers(min_value=0, max_value=3000), min_size=0,
                  max_size=400),
    budget=st.integers(min_value=1, max_value=2048),
    batches=st.integers(min_value=1, max_value=4),
)
def test_bfd_packing_invariants(toks, budget, batches):
    """pack_sequences' BFD core, with state carried across Arrow-batch
    splits: every item assigned exactly once; no pack containing an
    under-budget item exceeds the budget; oversized items are singletons;
    the half-empty-bin space bound holds (single partition: n_parts=1)."""
    from puddsketch_spark.ops.sampling import _BFDState

    toks = np.array(toks, dtype=np.int64)
    state = _BFDState()
    assign = np.concatenate(
        [state.pack_batch(chunk, budget)
         for chunk in np.array_split(toks, batches)]
    ) if toks.size else np.empty(0, dtype=np.int64)

    assert assign.size == toks.size
    sums: dict[int, int] = {}
    counts: dict[int, int] = {}
    maxes: dict[int, int] = {}
    for b, t in zip(assign, toks):
        sums[b] = sums.get(b, 0) + int(t)
        counts[b] = counts.get(b, 0) + 1
        maxes[b] = max(maxes.get(b, 0), int(t))
    # feasibility: packs whose members are all < budget never exceed it
    small_packs = [b for b, mx in maxes.items() if mx < budget]
    assert all(sums[b] <= budget for b in small_packs)
    # oversized items are singletons
    assert all(counts[b] == 1 for b, mx in maxes.items() if mx >= budget)
    # space bound (the pack_sequences_report oracle boolean, n_parts=1):
    # at most one small pack can end <= half-full under BFD
    small_tok = sum(sums[b] for b in small_packs)
    assert len(small_packs) <= (2 * small_tok) // budget + 1
    # all bins indices are dense-ish and unique per opening
    assert state.n_bins == len(sums) or toks.size == 0


@settings(max_examples=60, deadline=None)
@given(a=st.lists(st.integers(0, 5000), min_size=0, max_size=400).map(np.array),
       b=st.lists(st.integers(0, 5000), min_size=0, max_size=400).map(np.array),
       c=st.lists(st.integers(0, 5000), min_size=0, max_size=400).map(np.array),
       k=st.sampled_from([16, 64]))
def test_theta_merge_commutative_associative(a, b, c, k):
    from puddsketch_spark.core import ThetaSketch

    sa = ThetaSketch(k=k).update(a.astype(np.int64))
    sb = ThetaSketch(k=k).update(b.astype(np.int64))
    sc = ThetaSketch(k=k).update(c.astype(np.int64))
    ab = ThetaSketch.from_bytes(sa.to_bytes()).merge(sb)
    ba = ThetaSketch.from_bytes(sb.to_bytes()).merge(sa)
    assert ab.same_buckets(ba)
    left = ThetaSketch.from_bytes(ab.to_bytes()).merge(sc)
    right = ThetaSketch.from_bytes(sa.to_bytes()).merge(
        ThetaSketch.from_bytes(sb.to_bytes()).merge(sc))
    assert left.same_buckets(right)
    # exact mode is exact
    if left.is_exact:
        assert left.estimate() == len(set(a) | set(b) | set(c))


@settings(max_examples=60, deadline=None)
@given(a=arr_any, b=arr_any)
def test_moments_merge_commutative_and_conserving(a, b):
    from puddsketch_spark.core import MomentsSketch

    sa = MomentsSketch().update(a)
    sb = MomentsSketch().update(b)
    ab = MomentsSketch.from_bytes(sa.to_bytes()).merge(sb)
    ba = MomentsSketch.from_bytes(sb.to_bytes()).merge(sa)
    assert ab.n == ba.n == len(a) + len(b)
    both = np.concatenate([a, b])
    if both.size:
        assert ab.vmin == both.min() and ab.vmax == both.max()
        # mean precision scales with the VALUE magnitude, not the mean:
        # near-cancelling inputs (±1e12 summing to ~1e5) legitimately lose
        # relative precision in the mean itself
        vscale = max(1.0, abs(ab.vmin), abs(ab.vmax))
        assert abs(ab.mean - ba.mean) <= 1e-9 * vscale
        whole = MomentsSketch().update(both)
        scale = max(1.0, abs(whole.m2), (vscale * 1e-6) ** 2)
        assert abs(ab.m2 - whole.m2) <= 1e-6 * scale


@settings(max_examples=40, deadline=None)
@given(a=arr_any, b=arr_any)
def test_ddpair_ks_distance_properties(a, b):
    """Signed KS: range [0,1], symmetric, zero against self, NaN iff a side
    is empty, and invariant under merge order of the inputs (the statistic
    is a pure function of the two bucketed distributions)."""
    import math

    sa = DDSketchPair(initial_alpha=0.01, m=0).update(a)
    sb = DDSketchPair(initial_alpha=0.01, m=0).update(b)
    ks = sa.ks_distance(sb)
    if len(a) == 0 or len(b) == 0:
        assert math.isnan(ks)
        return
    assert 0.0 <= ks <= 1.0
    assert ks == sb.ks_distance(sa)
    assert sa.ks_distance(sa) == 0.0
    # splitting a side and merging the halves cannot change the statistic
    half = len(a) // 2
    sa2 = (DDSketchPair(initial_alpha=0.01, m=0).update(a[:half])
           .merge(DDSketchPair(initial_alpha=0.01, m=0).update(a[half:])))
    assert sa2.ks_distance(sb) == ks


@settings(max_examples=25, deadline=None)
@given(
    mu=st.floats(min_value=-1.0, max_value=2.0),
    shift=st.floats(min_value=0.0, max_value=2.0),
    neg_frac=st.floats(min_value=0.0, max_value=1.0),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_ddpair_ks_close_to_exact_two_sample(mu, shift, neg_frac, seed):
    """Against generated mixed-sign distributions the sketched KS tracks the
    exact two-sample statistic to bucket granularity."""
    rng = np.random.default_rng(seed)
    n = 1500
    k = int(n * neg_frac)
    a = np.concatenate([-rng.lognormal(mu, 1, k), rng.lognormal(mu, 1, n - k)])
    b = np.concatenate([
        -rng.lognormal(mu + shift, 1, k), rng.lognormal(mu + shift, 1, n - k)
    ])
    allv = np.sort(np.concatenate([a, b]))
    ca = np.searchsorted(np.sort(a), allv, side="right") / a.size
    cb = np.searchsorted(np.sort(b), allv, side="right") / b.size
    exact = float(np.abs(ca - cb).max())
    sa = DDSketchPair(initial_alpha=0.01, m=0).update(a)
    sb = DDSketchPair(initial_alpha=0.01, m=0).update(b)
    assert abs(sa.ks_distance(sb) - exact) <= 0.05
