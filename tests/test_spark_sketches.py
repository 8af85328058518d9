"""Companion sketches through the distributed pipeline (sketches.py APIs)."""

import numpy as np
from pyspark.sql import functions as F

from puddsketch_spark.datagen import transcripts
from puddsketch_spark.spark.features import with_text_len
from puddsketch_spark.spark.sketches import (
    bloom_global,
    cms_global,
    hll_distinct,
    kll_quantiles,
    tdigest_quantiles,
)


def test_hll_grouped_vs_exact(spark):
    t = transcripts(spark, n_conv=800, avg_turns=8, seed=5).cache()
    est = {r.role: r.est for r in hll_distinct(t, "conv_id", ["role"], p=14).collect()}
    exact = {
        r.role: r.x
        for r in t.groupBy("role").agg(F.count_distinct("conv_id").alias("x")).collect()
    }
    for role, x in exact.items():
        assert abs(est[role] - x) / x <= 0.05, (role, est[role], x)


def test_hll_global_int_column(spark):
    t = transcripts(spark, n_conv=500, avg_turns=8, seed=6)
    n = hll_distinct(t.select(F.col("turn_idx").cast("long").alias("v")), "v")
    exact = t.select("turn_idx").distinct().count()
    assert abs(n - exact) / exact <= 0.05


def test_cms_global_tool_freq(spark):
    t = transcripts(spark, n_conv=500, avg_turns=8, seed=7).where("tool is not null")
    cms = cms_global(t, "tool")
    exact = {r[0]: r[1] for r in t.groupBy("tool").count().collect()}
    tools = np.array(sorted(exact), dtype=object)
    est = cms.query(tools)
    for tool, e in zip(tools, est):
        assert exact[tool] <= e <= exact[tool] + cms.eps * cms.total


def test_bloom_global_membership(spark):
    t = transcripts(spark, n_conv=300, avg_turns=8, seed=8)
    bf = bloom_global(t, "conv_id", num_bits=1 << 18, num_hashes=7)
    present = np.array([f"c{j:08d}" for j in range(300)], dtype=object)
    absent = np.array([f"c{j:08d}" for j in range(1000, 1300)], dtype=object)
    assert bf.contains(present).all()
    assert bf.contains(absent).mean() <= 0.02


def test_tdigest_and_kll_grouped(spark):
    t = with_text_len(transcripts(spark, n_conv=1000, avg_turns=8, seed=9)).cache()
    exact = {
        (r.role, q): r[f"p{i}"]
        for r in t.groupBy("role")
        .agg(*[F.expr(f"percentile(text_len, {q})").alias(f"p{i}") for i, q in enumerate([0.5, 0.9])])
        .collect()
        for i, q in enumerate([0.5, 0.9])
    }
    for fn, tol in [(tdigest_quantiles, 0.02), (kll_quantiles, 0.03)]:
        est = {
            (r.role, r.q): r.est for r in fn(t, "text_len", ["role"], [0.5, 0.9]).collect()
        }
        for (role, q), x in exact.items():
            # uniform(1,1000): value error ~ rank error * range
            assert abs(est[(role, q)] - x) <= tol * 1000 + 1, (fn.__name__, role, q)


def test_heavy_hitters_grouped(spark):
    from puddsketch_spark import heavy_hitters_grouped, heavy_hitters_global

    t = transcripts(spark, n_conv=400, avg_turns=8, seed=12).where("tool is not null")
    out = heavy_hitters_grouped(t, "tool", ["role"], k=16, phi=0.05).collect()
    exact = {
        (r.role, r.tool): r["count"]
        for r in t.groupBy("role", "tool").count().collect()
    }
    assert len(out) > 0
    for r in out:
        # bracket: count_lo <= exact <= count_lo + err
        assert r.count_lo <= exact[(r.role, r.item)] <= r.count_lo + r.err
    # global helper + top-level re-export
    hh = heavy_hitters_global(t, "tool", k=16, phi=0.1)
    assert set(hh) <= {"search", "python", "browser", "editor"}
    assert len(hh) >= 1


def test_dd_quantiles_grouped_and_modes(spark):
    """Grouped signed quantiles via the DDSketch pair across all three
    collapse flavors; the accurate-range columns gate which estimates carry
    the alpha guarantee."""
    import numpy as np

    from puddsketch_spark.spark.sketches import dd_quantiles

    rng = np.random.default_rng(21)
    rows = [("a", float(v)) for v in rng.normal(0, 50, 40_000)] + [
        ("b", float(v)) for v in rng.lognormal(3, 1, 40_000)
    ]
    df = spark.createDataFrame(rows, "grp string, v double").repartition(8)
    pdfs = {}
    for mode in ("uniform", "ddog_low", "ddog_high"):
        out = dd_quantiles(df, "v", ["grp"], qs=[0.1, 0.5, 0.9], alpha=0.01,
                           bound=256, collapse_mode=mode)
        got = {(r.grp, r.q): r for r in out.collect()}
        assert len(got) == 6
        pdfs[mode] = got
        for (grp, q), r in got.items():
            assert 0.0 <= r.q0 <= r.q1 <= 1.0
            if r.q0 <= q <= r.q1:
                vals = np.array([v for g, v in rows if g == grp])
                exact = np.sort(vals)[int(np.floor(q * (len(vals) - 1)))]
                assert abs(r.est - exact) <= r.alpha_now * abs(exact) + 1e-9, (
                    mode, grp, q,
                )
    # uniform mode reports the full window
    assert all(r.q0 == 0.0 and r.q1 == 1.0 for r in pdfs["uniform"].values())
    # global (ungrouped) path
    g = dd_quantiles(df.where("grp = 'b'"), "v", (), qs=[0.5], alpha=0.01,
                     bound=256, collapse_mode="ddog_low").first()
    assert g.q == 0.5 and g.est > 0


def test_theta_distributed_set_ops_vs_exact(spark):
    """Two transcript slices through theta_global + theta_set_ops; every
    set-algebra estimate within 5x the k=4096 RSE of the exact join answer,
    and the distributed fill is bucket-identical to a local fill (merge-order
    invariance through the shuffle)."""
    from puddsketch_spark.core import ThetaSketch
    from puddsketch_spark.spark.sketches import theta_global, theta_set_ops

    t = transcripts(spark, n_conv=3_000, avg_turns=6, seed=9).cache()
    a = t.where("role = 'user'")
    b = t.where("tool is not null")
    ops = theta_set_ops(a, "conv_id", b, "conv_id", k=1024)
    ea = a.select("conv_id").distinct().count()
    eb = b.select("conv_id").distinct().count()
    einter = a.select("conv_id").intersect(b.select("conv_id")).count()
    eunion = a.select("conv_id").union(b.select("conv_id")).distinct().count()
    # Set-op error is ABSOLUTE, ~sqrt(n/theta): a small A\B difference out of a
    # big union has std ~ sqrt(n_diff * |union| / k), not n_diff * rse.
    for key, exact in [("a", ea), ("b", eb), ("intersection", einter), ("union", eunion),
                       ("a_not_b", ea - einter), ("b_not_a", eb - einter)]:
        if exact == 0:
            assert ops[key] == 0.0
        else:
            tol = 5 * np.sqrt(max(exact, 1) * eunion / 1024)
            assert abs(ops[key] - exact) <= tol, (key, ops[key], exact, tol)

    # distributed fill == local single-threaded fill, bucket-for-bucket
    dist = theta_global(a, "conv_id", k=256)
    local_vals = np.array([r[0] for r in a.select("conv_id").collect()], dtype=object)
    local = ThetaSketch(k=256).update(local_vals)
    assert dist.same_buckets(local)


def test_theta_pre_aggregate_bucket_identical(spark):
    """The weighted fill of a Tungsten-counted table (sketch_global's
    weight_col) yields byte-identical theta state to the row fill —
    distinct-count is weight-invariant."""
    from puddsketch_spark.core import ThetaSketch
    from puddsketch_spark.spark.agg import sketch_global

    t = transcripts(spark, n_conv=800, avg_turns=8, seed=10)
    df = t.select(F.col("turn_idx").cast("long").alias("v"))
    row = sketch_global(df, "v", lambda: ThetaSketch(k=128), ThetaSketch.from_bytes)
    pre = sketch_global(df.groupBy("v").count(), "v", lambda: ThetaSketch(k=128),
                        ThetaSketch.from_bytes, weight_col="count")
    assert row.same_buckets(pre)
    assert row.to_bytes() == pre.to_bytes()


def test_theta_grouped_states_and_cross_group_set_ops(spark):
    """theta_states per group; driver-side set algebra ACROSS group states
    (distinct convs per role, user∩tool-user overlap) matches exact."""
    from puddsketch_spark.core import ThetaSketch
    from puddsketch_spark.spark.sketches import theta_states

    t = transcripts(spark, n_conv=2_000, avg_turns=6, seed=11).cache()
    states = {
        r.role: ThetaSketch.from_bytes(r.state)
        for r in theta_states(t, "conv_id", ["role"], k=1024).collect()
    }
    exact = {
        r.role: r.x
        for r in t.groupBy("role").agg(F.count_distinct("conv_id").alias("x")).collect()
    }
    for role, x in exact.items():
        est = states[role].estimate()
        assert abs(est - x) <= 5 * np.sqrt(max(x, 1) * x / 1024) + 1, (role, est, x)
    inter = ThetaSketch.intersect(states["user"], states["assistant"]).estimate()
    ex_inter = (
        t.where("role = 'user'").select("conv_id")
        .intersect(t.where("role = 'assistant'").select("conv_id")).count()
    )
    assert abs(inter - ex_inter) <= 5 * np.sqrt(max(ex_inter, 1) * 2000 / 1024) + 1


def test_filter_above_quantile_grouped_and_global(spark):
    """Tail filter: rows above the group's sketch p90; with m=0 the
    threshold is the deterministic bucket value, so the surviving set
    equals the exact bucket-walk replay; global path included."""
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.sketches import filter_above_quantile

    t = with_text_len(transcripts(spark, n_conv=500, avg_turns=8, seed=14)).cache()
    out = filter_above_quantile(t, "text_len", q=0.9, group_cols=["role"],
                                alpha=0.01, m=0)
    got = out.groupBy("role").count().collect()
    # replay: exact bucket-walk threshold per role, count above
    import numpy as np

    pdf = t.select("role", "text_len").toPandas()
    for r in got:
        vals = pdf[pdf.role == r.role].text_len.to_numpy(dtype=float)
        sk = UDDSketch(initial_alpha=0.01, m=0).update(vals)
        thr = sk.quantile(0.9)
        assert r["count"] == int((vals > thr).sum()), r.role
    g = filter_above_quantile(t, "text_len", q=0.99, alpha=0.01, m=0)
    all_vals = pdf.text_len.to_numpy(dtype=float)
    skg = UDDSketch(initial_alpha=0.01, m=0).update(all_vals)
    assert g.count() == int((all_vals > skg.quantile(0.99)).sum())


def test_with_quantile_rank_semantics(spark):
    """Quantile-rank transform: matches the kernel's bucket-granular CDF
    exactly per row, handles zero/negative (zero-bucket) and NaN/NULL
    rows, grouped variant normalizes within each group."""
    import pandas as pd

    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.sketches import with_quantile_rank

    rows = [("g1", float(v)) for v in np.random.default_rng(15).lognormal(1, 1, 3_000)]
    rows += [("g1", -2.0), ("g1", 0.0), ("g2", 10.0), ("g2", 20.0), ("g2", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = with_quantile_rank(df, "v", ["g"], alpha=0.01).toPandas()

    for gname in ("g1", "g2"):
        vals = np.array([v for g, v in rows if g == gname and v is not None])
        sk = UDDSketch(initial_alpha=0.01, m=0).update(vals)
        sub = out[(out.g == gname) & out.v.notna()]
        for _, r in sub.sample(n=min(50, len(sub)), random_state=0).iterrows():
            assert abs(r.qrank - sk.cdf(r.v)) <= 1e-12, (gname, r.v)
    # zero bucket: rank = zero_mass / n
    g1n = 3_002
    zr = out[(out.g == "g1") & (out.v == -2.0)].qrank.iloc[0]
    assert abs(zr - 2 / g1n) <= 1e-12
    # NULL value -> NULL rank
    assert out[(out.g == "g2") & out.v.isna()].qrank.isna().all()
    # global (ungrouped) path
    gout = with_quantile_rank(df.where("v is not null"), "v", (), alpha=0.01)
    assert gout.where("qrank is null").count() == 0


def test_quantile_filter_and_rank_keep_null_groups(spark):
    """Rows whose group key is NULL must be filtered/ranked by the NULL
    group's own threshold, not silently dropped (r4 advice: the null-unsafe
    equi-join vanished every NULL-group row; the agg paths DO produce a
    NULL-group state row)."""
    import pandas as pd

    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.sketches import (
        filter_above_quantile,
        with_quantile_rank,
    )

    rng = np.random.default_rng(23)
    rows = [("a", float(v)) for v in rng.lognormal(1, 1, 500)]
    rows += [(None, float(v)) for v in rng.lognormal(2, 1, 400)]
    df = spark.createDataFrame(rows, "g string, v double")

    out = filter_above_quantile(df, "v", q=0.9, group_cols=["g"], alpha=0.01, m=0)
    got = {r.g: r["count"] for r in out.groupBy("g").count().collect()}
    for gname in ("a", None):
        vals = np.array([v for g, v in rows if g == gname])
        thr = UDDSketch(initial_alpha=0.01, m=0).update(vals).quantile(0.9)
        assert got.get(gname, 0) == int((vals > thr).sum()), gname

    ranked = with_quantile_rank(df, "v", ["g"], alpha=0.01).toPandas()
    nullg = ranked[ranked.g.isna()]
    assert len(nullg) == 400 and nullg.qrank.notna().all()
    vals = np.array([v for g, v in rows if g is None])
    sk = UDDSketch(initial_alpha=0.01, m=0).update(vals)
    expect = pd.Series([sk.cdf(v) for v in nullg.v])
    assert np.allclose(nullg.qrank.to_numpy(), expect.to_numpy())


def test_dd_quantiles_jvm_engine(spark):
    """dd_quantiles (JVM histogram fill): grouped + global results match an
    Arrow fill (sketch_grouped / sketch_global with a DDSketchPair factory)
    at bound=0."""
    import numpy as np

    from puddsketch_spark.core import DDSketchPair
    from puddsketch_spark.spark.agg import sketch_global, sketch_grouped
    from puddsketch_spark.spark.sketches import dd_quantiles

    rng = np.random.default_rng(35)
    rows = [("a", float(v)) for v in rng.normal(0, 50, 20_000)] + [
        ("b", float(v)) for v in rng.lognormal(3, 1, 20_000)
    ]
    df = spark.createDataFrame(rows, "grp string, v double").repartition(8)
    qs = [0.1, 0.5, 0.9]
    factory = lambda: DDSketchPair(initial_alpha=0.01, m=0)  # noqa: E731
    for group in (["grp"], ()):
        j = sorted(
            (*(r[g] for g in group), r.q, r.est, r.q0, r.q1, r.alpha_now)
            for r in dd_quantiles(df, "v", group, qs=qs, alpha=0.01,
                                  bound=0).collect()
        )
        if group:
            sks = {
                (r.grp,): DDSketchPair.from_bytes(r.state)
                for r in sketch_grouped(df, "v", group, factory,
                                        DDSketchPair.from_bytes).collect()
            }
        else:
            sks = {(): sketch_global(df, "v", factory, DDSketchPair.from_bytes)}
        a = sorted(
            (*key, q, float(sk.quantile(q)), *sk.accurate_range(), sk.alpha)
            for key, sk in sks.items() for q in qs
        )
        assert j == a and len(j) > 0


def test_moments_stats_matches_kernel_fill(spark):
    """moments_stats (one Catalyst aggregation) equals the MomentsSketch
    fill finalized by moments_table, grouped and global, to 1e-9 relative:
    NULL-bearing string and bigint keys, a single-value group (skewness and
    kurtosis NULL on both sides), NaN values dropped. Empty global input
    gives exactly one row with n=0 and NULL statistics."""
    import math

    from puddsketch_spark.core import MomentsSketch
    from puddsketch_spark.spark.agg import sketch_grouped
    from puddsketch_spark.spark.sketches import moments_stats, moments_table

    rng = np.random.default_rng(41)
    rows = [("a", 1, float(v)) for v in rng.lognormal(2, 1, 3000)]
    rows += [(None, 2, float(v)) for v in rng.normal(5, 3, 2000)]
    rows += [("b", None, float(v)) for v in rng.exponential(4, 1000)]
    rows += [("solo", 7, 3.5)]  # single-value group
    rows += [("a", 1, float("nan")), ("solo", 7, float("nan")), ("b", None, None)]
    df = spark.createDataFrame(rows, "s string, k bigint, v double").repartition(4)
    stats = ["n", "mean", "variance", "stddev", "skewness", "kurtosis", "vmin", "vmax"]

    def close(x, y):
        if x is None or y is None:
            return x is None and y is None
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=0.0)

    # the global kernel fill groups by a constant so moments_table applies
    keyed = df.withColumn("_all", F.lit(0))
    for group in ([], ["s", "k"]):
        kcols = group or ["_all"]
        want = {
            tuple(r[g] for g in group): r
            for r in moments_table(
                sketch_grouped(keyed, "v", kcols, MomentsSketch,
                               MomentsSketch.from_bytes), kcols
            ).collect()
        }
        got = {tuple(r[g] for g in group): r
               for r in moments_stats(df, "v", group).collect()}
        assert set(got) == set(want) and len(got) == (4 if group else 1)
        for key, r in got.items():
            for c in stats:
                assert close(r[c], want[key][c]), (key, c, r[c], want[key][c])
    solo = got[("solo", 7)]
    assert solo.n == 1 and solo.variance == 0.0
    assert solo.skewness is None and solo.kurtosis is None

    empty = moments_stats(df.where("v > 1e300"), "v").collect()
    assert len(empty) == 1 and empty[0].n == 0
    assert all(empty[0][c] is None for c in stats[1:])


def test_theta_set_ops_mixed_key_types_raises(spark):
    """Different key dtypes must raise loudly (r4 advice): hash64 hashes
    int bit patterns and string/float bytes disjointly, so a silent
    cross-type fill would estimate ~0 overlap between logically-equal
    columns. Casting both sides to one type restores the operation."""
    import pytest

    from puddsketch_spark.spark.sketches import theta_set_ops

    a = spark.createDataFrame([(f"u{j}",) for j in range(500)], "k string")
    b = spark.createDataFrame([(j,) for j in range(300)], "k long")
    with pytest.raises(TypeError, match="dtypes differ"):
        theta_set_ops(a, "k", b, "k", k=1024)
    ops = theta_set_ops(a, "k", b.selectExpr("cast(k as string) k"), "k", k=1024)
    assert round(ops["a"]) == 500 and round(ops["b"]) == 300
    assert ops["intersection"] == 0.0  # u-prefixed vs bare digits: disjoint
