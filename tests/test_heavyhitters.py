"""Misra-Gries heavy hitters: guarantees under any merge order."""

import numpy as np
import pytest

from puddsketch_spark.core.heavyhitters import MisraGries


def _zipf_draws(n, seed):
    rng = np.random.default_rng(seed)
    # heavy head: item i with prob ~ 1/(i+1)^1.3
    p = 1.0 / np.arange(1, 201) ** 1.3
    p /= p.sum()
    return np.array([f"item{j}" for j in rng.choice(200, n, p=p)], dtype=object)


def test_guarantees_single_stream():
    v = _zipf_draws(100_000, 0)
    sk = MisraGries(k=64)
    for chunk in np.array_split(v, 10):
        sk.update(chunk)
    uniq, counts = np.unique(v, return_counts=True)
    exact = dict(zip(uniq.tolist(), counts.tolist()))
    n = len(v)
    assert sk.total == n
    assert sk.err <= n / (sk.k + 1)
    # every item above n/(k+1) must be retained
    for key, c in exact.items():
        if c > n / (sk.k + 1):
            assert key in sk.counters, key
    # bounds bracket the truth for every retained key
    for key in sk.counters:
        lo, hi = sk.estimate(key)
        assert lo <= exact[key] <= hi, (key, lo, exact[key], hi)


def test_merge_any_order_keeps_guarantees():
    v = _zipf_draws(80_000, 1)
    parts = [MisraGries(k=64).update(c) for c in np.array_split(v, 8)]
    uniq, counts = np.unique(v, return_counts=True)
    exact = dict(zip(uniq.tolist(), counts.tolist()))
    for seed in range(3):
        order = np.random.default_rng(seed).permutation(8)
        merged = MisraGries.from_bytes(parts[order[0]].to_bytes())
        for i in order[1:]:
            merged.merge(MisraGries.from_bytes(parts[i].to_bytes()))
        assert merged.total == len(v)
        assert merged.err <= len(v) / (merged.k + 1) * 2  # per-part + merge decrements
        for key, c in exact.items():
            if c > 2 * len(v) / (merged.k + 1):
                assert key in merged.counters
        for key in merged.counters:
            lo, hi = merged.estimate(key)
            assert lo <= exact[key] <= hi


def test_heavy_hitters_superset():
    v = _zipf_draws(50_000, 2)
    sk = MisraGries(k=128).update(v)
    uniq, counts = np.unique(v, return_counts=True)
    true_hh = {k for k, c in zip(uniq.tolist(), counts.tolist()) if c >= 0.02 * len(v)}
    found = set(sk.heavy_hitters(phi=0.02))
    assert true_hh <= found


def test_weighted_and_serde_and_mismatch():
    sk = MisraGries(k=8)
    sk.update_weighted(np.array(["a", "b"], dtype=object), np.array([100, 5]))
    assert sk.estimate("a")[0] == 100 and sk.total == 105
    rt = MisraGries.from_bytes(sk.to_bytes())
    assert rt.counters == sk.counters and rt.err == sk.err
    with pytest.raises(ValueError, match="k mismatch"):
        MisraGries(k=8).merge(MisraGries(k=16))


def test_merge_order_gives_the_same_bytes():
    """to_bytes writes items sorted by type tag then key, so merging the
    same partials in either order serializes to the same bytes."""
    def part(vals):
        return MisraGries(k=8).update(np.array(vals, dtype=np.int64))

    ab = part([1, 2]).merge(part([3, 1]))
    ba = part([3, 1]).merge(part([1, 2]))
    assert ab.counters == ba.counters
    assert ab.to_bytes() == ba.to_bytes()
    mixed = MisraGries(k=8, total=9, counters={"b": 1, 2: 2, "a": 3, 1.5: 2, True: 1})
    rt = MisraGries.from_bytes(mixed.to_bytes())
    assert rt.counters == mixed.counters and rt.to_bytes() == mixed.to_bytes()


def test_int_keys_roundtrip():
    sk = MisraGries(k=16).update(np.array([7, 7, 9], dtype=np.int64))
    rt = MisraGries.from_bytes(sk.to_bytes())
    assert rt.estimate(7)[0] == 2  # int key survives serde as int


def test_bool_keys_roundtrip():
    """Regression: bool keys were tagged 'i' and crashed from_bytes."""
    sk = MisraGries(k=8).update(np.array([True, True, False], dtype=object))
    rt = MisraGries.from_bytes(sk.to_bytes())
    assert rt.estimate(True)[0] == 2 and rt.estimate(False)[0] == 1


def test_distributed_bigint_keys_preserved(spark):
    """Snowflake-style int64 IDs above 2^53: the distributed pipeline must
    not round-trip them through float64 (which conflates neighbors), and
    grouped output items must be '9007199254740993'-style strings, not
    '9.007199254740992e+15'."""
    from puddsketch_spark.spark.agg import sketch_global
    from puddsketch_spark.spark.sketches import heavy_hitters_grouped

    base = 2**53 + 1  # adjacent int64s that collide in float64
    rows = [(base, "g")] * 5 + [(base + 1, "g")] * 3
    df = spark.createDataFrame(rows, "user_id long, grp string")
    sk = sketch_global(df, "user_id", lambda: MisraGries(k=8), MisraGries.from_bytes)
    assert sk.estimate(base)[0] == 5
    assert sk.estimate(base + 1)[0] == 3  # distinct from its float64 twin
    out = heavy_hitters_grouped(df, "user_id", ["grp"], k=8, phi=0.1).collect()
    items = {r.item: r.count_lo for r in out}
    assert items == {str(base): 5, str(base + 1): 3}


def test_weighted_total_is_n(spark):
    """The gate derives n from sk.total on the weight_col fill path (r7:
    it replaced a separate SUM job). Pin the contract: total inserted
    weight == SUM(weights) == row count of the pre-aggregated source."""
    from puddsketch_spark.spark.agg import sketch_global

    rows = [(i % 7, "x") for i in range(100)]
    df = spark.createDataFrame(rows, "key long, pad string")
    counts = df.groupBy("key").count()
    sk = sketch_global(counts, "key", lambda: MisraGries(k=8),
                       MisraGries.from_bytes, weight_col="count")
    assert sk.total == 100
