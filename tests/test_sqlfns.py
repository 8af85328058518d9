"""SQL surface (spark/sqlfns.py): sketch fills, merges and extractors as
registered Spark SQL functions — fills bit-identical to the two-stage
Python-API fills at m=0, merges equivalent to rollups, extractors equal
to the kernel methods, pure-SQL end to end."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from puddsketch_spark.core import (
    HLLSketch,
    MomentsSketch,
    ThetaSketch,
    UDDSketch,
)
from puddsketch_spark.spark.sqlfns import register_sql_functions


@pytest.fixture(scope="module")
def sqlfns(spark):
    names = register_sql_functions(spark, alpha=0.01, m=0)
    # idempotent: re-registering replaces silently
    assert register_sql_functions(spark, alpha=0.01, m=0) == names
    return names


@pytest.fixture(scope="module")
def turns(spark):
    rng = np.random.default_rng(7)
    rows = [("user" if i % 2 else "assistant",
             f"conv{i % 37}",
             float(v))
            for i, v in enumerate(rng.lognormal(4.0, 1.0, 20_000))]
    df = spark.createDataFrame(rows, "role string, conv_id string, text_len double")
    df.createOrReplaceTempView("sql_turns")
    return rows


def test_registry_names(sqlfns):
    for family in ("udds", "tdigest", "moments", "hll", "theta"):
        assert f"{family}_sketch" in sqlfns
        assert f"{family}_merge" in sqlfns
    assert "theta_intersect_estimate" in sqlfns


def test_udds_sql_fill_matches_python_api(spark, sqlfns, turns):
    """The SQL fill at m=0 produces the SAME sketch (bucket-for-bucket,
    via state bytes) as sketch_grouped on the same data, and
    udds_quantile/udds_count extract the kernel's own answers."""
    from puddsketch_spark.spark.agg import sketch_grouped

    got = {r.role: r for r in spark.sql("""
        SELECT role, udds_sketch(text_len) AS state,
               udds_quantile(udds_sketch(text_len), 0.99e0) AS p99,
               udds_count(udds_sketch(text_len)) AS n
        FROM sql_turns GROUP BY role
    """).collect()}
    ref = {r.role: r for r in sketch_grouped(
        spark.table("sql_turns"), "text_len", ["role"],
        factory=lambda: UDDSketch(initial_alpha=0.01, m=0),
        from_bytes=UDDSketch.from_bytes).collect()}
    assert set(got) == {"user", "assistant"} == set(ref)
    for role in got:
        sql_sk = UDDSketch.from_bytes(bytes(got[role].state))
        ref_sk = UDDSketch.from_bytes(bytes(ref[role].state))
        assert sql_sk.same_buckets(ref_sk)
        assert got[role].n == ref_sk.count
        assert got[role].p99 == ref_sk.quantile(0.99)


def test_udds_merge_regroups_state_table(spark, sqlfns, turns):
    """The scale idiom: fill at the finest grain (role, conv_id), then
    derive the per-role and global figures purely in SQL by merging the
    state table — bit-identical (m=0) to filling at the coarser grain
    directly, raw data scanned once."""
    spark.sql("""
        SELECT role, conv_id, udds_sketch(text_len) AS state
        FROM sql_turns GROUP BY role, conv_id
    """).createOrReplaceTempView("sql_states")

    per_role = {r.role: bytes(r.state) for r in spark.sql("""
        SELECT role, udds_merge(state) AS state
        FROM sql_states GROUP BY role
    """).collect()}
    direct = {r.role: bytes(r.state) for r in spark.sql("""
        SELECT role, udds_sketch(text_len) AS state
        FROM sql_turns GROUP BY role
    """).collect()}
    for role in direct:
        assert UDDSketch.from_bytes(per_role[role]).same_buckets(
            UDDSketch.from_bytes(direct[role]))

    g = spark.sql("""
        SELECT udds_quantile(udds_merge(state), 0.5e0) AS p50,
               udds_count(udds_merge(state)) AS n
        FROM (SELECT 1 AS one, state FROM sql_states) GROUP BY one
    """).collect()[0]
    batch = UDDSketch(initial_alpha=0.01, m=0).update(
        np.array([v for _, _, v in turns]))
    assert g.n == len(turns)
    assert g.p50 == batch.quantile(0.5)


def test_moments_extractors_exact(spark, sqlfns, turns):
    vals = np.array([v for _, _, v in turns])
    row = spark.sql("""
        SELECT moments_count(s) AS n, moments_mean(s) AS mean,
               moments_variance(s) AS var, moments_skewness(s) AS skew,
               moments_kurtosis(s) AS kurt, moments_min(s) AS vmin,
               moments_max(s) AS vmax
        FROM (SELECT moments_sketch(text_len) AS s FROM sql_turns)
    """).collect()[0]
    ref = MomentsSketch().update(vals)
    assert row.n == len(vals)
    assert row.mean == pytest.approx(ref.mean, rel=1e-12)
    assert row.var == pytest.approx(ref.variance(), rel=1e-12)
    assert row.skew == pytest.approx(ref.skewness(), rel=1e-12)
    assert row.kurt == pytest.approx(ref.kurtosis(), rel=1e-12)
    assert (row.vmin, row.vmax) == (vals.min(), vals.max())
    # and exact vs numpy within float tolerance
    assert row.mean == pytest.approx(vals.mean(), rel=1e-9)
    assert row.var == pytest.approx(vals.var(), rel=1e-9)


def test_hll_theta_distinct_sql(spark, sqlfns, turns):
    exact = len({c for _, c, _ in turns})  # 37 conv ids
    row = spark.sql("""
        SELECT hll_estimate(hll_sketch(conv_id)) AS hll_n,
               theta_estimate(theta_sketch(conv_id)) AS theta_n
        FROM sql_turns
    """).collect()[0]
    assert row.hll_n == pytest.approx(exact, rel=0.05)
    # 37 << k=4096: theta is in exact mode
    assert row.theta_n == exact


def test_theta_intersect_estimate_sql(spark, sqlfns, turns):
    """Set overlap purely in SQL: conv_ids seen by each role intersected;
    every conv with >= 2 turns has both roles (roles alternate), so the
    overlap is every conv_id — exact at this cardinality."""
    row = spark.sql("""
        WITH per_role AS (
          SELECT role, theta_sketch(conv_id) AS s
          FROM sql_turns GROUP BY role
        )
        SELECT theta_intersect_estimate(a.s, b.s) AS overlap
        FROM per_role a JOIN per_role b
          ON a.role = 'user' AND b.role = 'assistant'
    """).collect()[0]
    assert row.overlap == 37.0


def test_merge_and_fill_parity_all_families(spark, sqlfns, turns):
    """For every family: SQL merge over per-conv states == direct global
    SQL fill (state-byte equality where the kernel is order-insensitive,
    estimate equality otherwise)."""
    cases = {
        "hll": (HLLSketch.from_bytes, "conv_id",
                lambda sk: sk.estimate()),
        "theta": (ThetaSketch.from_bytes, "conv_id",
                  lambda sk: sk.estimate()),
        "moments": (MomentsSketch.from_bytes, "text_len",
                    lambda sk: (sk.count, sk.mean, sk.variance())),
    }
    for fam, (from_bytes, col, metric) in cases.items():
        merged = spark.sql(f"""
            SELECT {fam}_merge(s) AS s FROM (
              SELECT conv_id, {fam}_sketch({col}) AS s
              FROM sql_turns GROUP BY conv_id)
        """).collect()[0].s
        direct = spark.sql(
            f"SELECT {fam}_sketch({col}) AS s FROM sql_turns"
        ).collect()[0].s
        got, want = metric(from_bytes(bytes(merged))), metric(
            from_bytes(bytes(direct)))
        assert got == pytest.approx(want, rel=1e-9), fam


def test_dd_signed_family_sql(spark, sqlfns, turns):
    """Signed values through the SQL surface: dd_sketch handles
    pos/neg/zero, merge over per-conv states == direct fill
    (bucket-identical at m=0 via registration config m=0... the module
    fixture registers m=0 only for udds; dd_m defaults to 500 — register
    a dedicated prefix at dd_m=0 for the bit-identity), and
    dd_ks_distance(a, a) == 0 while shifted distributions drift > 0."""
    from puddsketch_spark.core import DDSketchPair

    register_sql_functions(spark, prefix="x_", alpha=0.01, dd_m=0)
    rng = np.random.default_rng(13)
    signed = [(f"c{i % 11}", float(v))
              for i, v in enumerate(rng.normal(0.0, 50.0, 8000))]
    signed += [("c0", 0.0)] * 25  # exact zeros hit the zero store
    spark.createDataFrame(signed, "conv_id string, delta double"
                          ).createOrReplaceTempView("signed_turns")

    merged = spark.sql("""
        SELECT x_dd_merge(s) AS s FROM (
          SELECT conv_id, x_dd_sketch(delta) AS s
          FROM signed_turns GROUP BY conv_id)
    """).collect()[0].s
    direct_row = spark.sql("""
        SELECT x_dd_sketch(delta) AS s,
               x_dd_quantile(x_dd_sketch(delta), 0.5e0) AS p50,
               x_dd_count(x_dd_sketch(delta)) AS n,
               x_dd_cdf(x_dd_sketch(delta), 0.0e0) AS cdf0
        FROM signed_turns
    """).collect()[0]
    m = DDSketchPair.from_bytes(bytes(merged))
    d = DDSketchPair.from_bytes(bytes(direct_row.s))
    assert m.same_buckets(d)
    assert direct_row.n == len(signed)
    ref = DDSketchPair(initial_alpha=0.01, m=0).update(
        np.array([v for _, v in signed]))
    assert direct_row.p50 == ref.quantile(0.5)
    assert 0.4 < direct_row.cdf0 < 0.6  # centered distribution

    drift = spark.sql("""
        WITH a AS (SELECT x_dd_sketch(delta) AS s FROM signed_turns),
             b AS (SELECT x_dd_sketch(delta + 100.0e0) AS s FROM signed_turns)
        SELECT x_dd_ks_distance(a.s, a.s) AS self_ks,
               x_dd_ks_distance(a.s, b.s) AS shift_ks
        FROM a CROSS JOIN b
    """).collect()[0]
    assert drift.self_ks == 0.0
    assert drift.shift_ks > 0.5  # 2-sigma shift: most mass separated


def test_prefix_and_config_registration(spark, turns):
    """A second registration under a prefix carries its own config:
    fine_udds_sketch at alpha=1e-3 answers tighter than the 0.01 one."""
    register_sql_functions(spark, alpha=0.01, m=0)
    names = register_sql_functions(spark, prefix="fine_", alpha=1e-3, m=0)
    assert all(n.startswith("fine_") for n in names)
    vals = np.sort(np.array([v for _, _, v in turns]))
    exact_p50 = vals[int(0.5 * (len(vals) - 1))]
    row = spark.sql("""
        SELECT udds_quantile(udds_sketch(text_len), 0.5e0) AS coarse,
               fine_udds_quantile(fine_udds_sketch(text_len), 0.5e0) AS fine
        FROM sql_turns
    """).collect()[0]
    assert abs(row.fine - exact_p50) / exact_p50 <= 1e-3
    assert abs(row.fine - exact_p50) <= abs(row.coarse - exact_p50)


def test_udds_sketch_over_sql_window(spark, sqlfns, turns):
    """Rolling sketch quantiles in pure SQL: the registered grouped-agg
    UDAF works as a WINDOW aggregate — per row, udds_sketch fills over
    the frame and udds_quantile extracts. Every frame's estimate equals
    a driver-side kernel replay of exactly that frame (m=0), i.e. the
    window surface is the kernel, not an approximation of it."""
    rows = [(r, i, v) for i, (r, _, v) in enumerate(turns[:600])]
    spark.createDataFrame(rows, "role string, seq long, text_len double"
                          ).createOrReplaceTempView("win_turns")
    got = spark.sql("""
        SELECT role, seq,
               udds_quantile(udds_sketch(text_len) OVER fr, 0.9D) AS est,
               count(text_len) OVER fr AS n
        FROM win_turns
        WINDOW fr AS (PARTITION BY role ORDER BY seq
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    """).collect()
    by_role: dict[str, list[float]] = {}
    for r, _, v in rows:
        by_role.setdefault(r, []).append(v)
    # replay: frames follow seq order within each role partition
    seen: dict[str, list[float]] = {r: [] for r in by_role}
    expected = {}
    for r, seq, v in rows:
        seen[r].append(v)
        frame = seen[r][-20:]
        sk = UDDSketch(initial_alpha=0.01, m=0).update(np.array(frame))
        expected[(r, seq)] = (sk.quantile(0.9), len(frame))
    assert len(got) == len(rows)
    for row in got:
        est, n = expected[(row.role, row.seq)]
        assert row.n == n
        assert row.est == est, (row.role, row.seq)


def test_merge_null_only_group_raises(spark, sqlfns):
    spark.createDataFrame(
        [(1, None)], "k int, state binary").createOrReplaceTempView("null_states")
    with pytest.raises(Exception, match="zero non-NULL states"):
        spark.sql(
            "SELECT udds_merge(state) FROM null_states GROUP BY k"
        ).collect()


def test_kll_req_sql(spark, sqlfns, turns):
    """Rank-error families through SQL: rank extractors at the exact
    median land within each sketch's published rank-error bound, and
    merge-over-conv-states keeps the bound (compaction order differs, so
    no bit-identity is claimed — the CONTRACT is rank error)."""
    vals = np.sort(np.array([v for _, _, v in turns]))
    true_median = vals[len(vals) // 2]
    row = spark.sql(f"""
        SELECT kll_rank(kll_sketch(text_len), {true_median!r}D) AS kr,
               req_rank(req_sketch(text_len), {true_median!r}D) AS rr
        FROM sql_turns
    """).collect()[0]
    kll_eps = 2.296 / 200**0.9723  # KLLSketch.rank_eps at k=200
    assert abs(row.kr - 0.5) <= 3 * kll_eps
    assert abs(row.rr - 0.5) <= 0.05
    # merge-over-conv-states keeps the quantile near the true median
    kq = spark.sql("""
        SELECT kll_quantile(kll_merge(s), 0.5e0) AS kq FROM (
          SELECT conv_id, kll_sketch(text_len) AS s
          FROM sql_turns GROUP BY conv_id)
    """).collect()[0].kq
    assert abs(kq - true_median) / true_median <= 0.2


def test_cms_bloom_mg_sql(spark, sqlfns, turns):
    """Frequency + membership families through SQL. CMS and Bloom merges
    are EXACT state algebra (table addition / bit OR), so merging
    per-conv fills yields byte-identical states to the direct fill; CMS
    point estimates bound the true count from above within eps*total;
    Bloom has no false negatives (and at 10^6 bits / 37 keys, no false
    positive on a fresh key); Misra-Gries at k=64 > #distinct is exact."""
    true_c5 = sum(1 for _, c, _ in turns if c == "conv5")
    n = len(turns)
    row = spark.sql("""
        SELECT cms_estimate(cms_sketch(conv_id), 'conv5') AS c5,
               bloom_contains(bloom_sketch(conv_id), 'conv5') AS has5,
               bloom_contains(bloom_sketch(conv_id), 'absent-key') AS has_absent,
               mg_estimate_lo(mg_sketch(role), 'user') AS mg_lo,
               mg_estimate_hi(mg_sketch(role), 'user') AS mg_hi,
               mg_heavy_hitters_json(mg_sketch(role), 0.4e0) AS hh
        FROM sql_turns
    """).collect()[0]
    assert true_c5 <= row.c5 <= true_c5 + int(np.e / 2048 * n) + 1
    assert row.has5 is True and row.has_absent is False
    true_user = sum(1 for r, _, _ in turns if r == "user")
    assert row.mg_lo == row.mg_hi == true_user  # k=64 > 2 distinct: exact
    import json as _json

    hh = dict((k, c) for k, c in _json.loads(row.hh))
    assert hh["user"] == true_user and set(hh) == {"user", "assistant"}

    for fam, col in (("cms", "conv_id"), ("bloom", "conv_id")):
        merged = spark.sql(f"""
            SELECT {fam}_merge(s) AS s FROM (
              SELECT conv_id, {fam}_sketch({col}) AS s
              FROM sql_turns GROUP BY conv_id)
        """).collect()[0].s
        direct = spark.sql(
            f"SELECT {fam}_sketch({col}) AS s FROM sql_turns").collect()[0].s
        assert bytes(merged) == bytes(direct), fam


def test_sql_fill_plan_single_exchange(spark, sqlfns, turns):
    """Plan pin for the SQL fill: one hash Exchange on the group keys
    feeding one ArrowAggregatePython (the UDAF fill) — the extractor is a
    separate ArrowEvalPython over the aggregated (tiny) output, and the
    raw scan is projected down to the grouping + value columns only."""
    import contextlib
    import io

    df = spark.sql("""
        SELECT role, udds_quantile(udds_sketch(text_len), 0.99e0) AS p99
        FROM sql_turns GROUP BY role
    """)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert tree.count("ArrowAggregatePython") == 1  # the grouped-agg fill
    assert tree.count("ArrowEvalPython") == 1       # the extractor, post-agg
    # extractor sits ABOVE the aggregate (operates on group-count rows)
    assert tree.index("ArrowEvalPython") < tree.index("ArrowAggregatePython")


def test_streaming_states_sql_extractor(spark, sqlfns, tmp_path):
    """SQL extractors over a STREAMED state table: streaming_sketch
    finalize emits raw blobs to the sink; the registered
    udds_quantile/udds_count then answer any quantile from the sink
    table without touching raw data — estimates equal a batch kernel
    replay. (Extractors go downstream of the sink, not inside the
    streaming query: Spark's ArrowEvalPython cannot consume
    applyInPandasWithState output directly — GenericInternalRow vs
    UnsafeRow cast — which is also why finalize exists.)"""
    from puddsketch_spark.streaming.sketch_stream import streaming_sketch
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    src = str(tmp_path / "sqlx_src")
    ckpt = str(tmp_path / "sqlx_ckpt")
    rng = np.random.default_rng(23)
    vals = rng.uniform(1, 500, 4000)
    rows = [("user" if i % 2 else "assistant", float(v))
            for i, v in enumerate(vals)]
    spark.createDataFrame(rows, "role string, text_len double").coalesce(2)\
        .write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("role string, text_len double").parquet(src)
    out = streaming_sketch(
        stream, "text_len", ["role"],
        factory=lambda: UDDSketch(initial_alpha=0.01, m=0),
        from_bytes=UDDSketch.from_bytes,
        finalize=lambda sk: (sk.to_bytes(),),
        finalize_schema=StructType([StructField("state", BinaryType(), False)]),
    )
    q = (out.writeStream.format("memory").queryName("sqlx_out")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        got = {r.role: r for r in spark.sql("""
            SELECT role, udds_quantile(state, 0.5e0) AS p50,
                   udds_count(state) AS n
            FROM sqlx_out
        """).orderBy(F.desc("n")).dropDuplicates(["role"]).collect()}
    finally:
        q.stop()
    for role in ("user", "assistant"):
        batch_vals = np.array([v for r, v in rows if r == role])
        sk = UDDSketch(initial_alpha=0.01, m=0).update(batch_vals)
        assert got[role].n == len(batch_vals)
        assert got[role].p50 == sk.quantile(0.5)


def test_extractor_null_state_passthrough(spark, sqlfns):
    df = spark.createDataFrame([(None,)], "state binary")
    df.createOrReplaceTempView("null_state_row")
    row = spark.sql(
        "SELECT udds_count(state) AS n FROM null_state_row").collect()[0]
    assert row.n is None


def test_int_keys_with_nulls_share_hash_domain(spark, sqlfns):
    """ADVICE r6 (high): an int64 key column containing any NULL reaches
    the grouped-agg UDAF as float64, so hash-family fills hashed those
    groups via float bits — bloom_contains returned FALSE for inserted
    keys, and null-bearing groups' states double-counted against
    null-free / Python-API states on merge. Pin the repaired contract."""
    rows = [(1, "a"), (2, "a"), (3, "a"), (None, "a"),
            (1, "b"), (2, "b"), (3, "b")]
    df = spark.createDataFrame(rows, "k long, grp string")
    df.createOrReplaceTempView("nullkeys")

    # 1. probe finds inserted keys in the null-bearing group
    got = spark.sql("""
        SELECT grp, bloom_contains(bloom_sketch(k), 2L) AS hit
        FROM nullkeys GROUP BY grp ORDER BY grp
    """).collect()
    assert [r.hit for r in got] == [True, True]

    # 2. SQL states from null-bearing and null-free groups merge into the
    #    Python-API hash domain: theta distinct over both groups == 3
    est = spark.sql("""
        SELECT theta_estimate(theta_merge(s)) AS est FROM (
          SELECT theta_sketch(k) AS s FROM nullkeys GROUP BY grp
        )
    """).first().est
    assert est == pytest.approx(3.0)

    # 3. cross-surface: SQL estimate over the null-bearing slice equals a
    #    kernel fill of the same keys as INT64 exactly (same hash domain)
    sql_est = spark.sql("""
        SELECT hll_estimate(hll_sketch(k)) AS e FROM nullkeys WHERE grp='a'
    """).first().e
    kernel_est = HLLSketch(p=14).update(np.array([1, 2, 3], dtype=np.int64)).estimate()
    assert float(sql_est) == float(kernel_est)

    # 4. mg keys survive as ints (not '2.0' strings) through serde
    hh = spark.sql("""
        SELECT mg_heavy_hitters_json(mg_sketch(k), 0.1) AS j
        FROM nullkeys WHERE grp='a'
    """).first().j
    assert '"2"' in hh and "2.0" not in hh


def test_double_keys_hash_as_doubles(spark, sqlfns):
    """A DOUBLE key column hashes via float bits in every group, whatever
    its values: a group holding only integral doubles {1.0, 2.0} and one
    holding {1.0, 2.5} share the key 1.0, so their merged theta counts 3
    distinct keys, not 4."""
    spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (1.0, "b"), (2.5, "b")], "k double, grp string"
    ).createOrReplaceTempView("dblkeys")
    est = spark.sql("""
        SELECT theta_estimate(theta_merge(s)) AS est FROM (
          SELECT theta_sketch(k) AS s FROM dblkeys GROUP BY grp)
    """).first().est
    assert est == 3.0


def test_bigint_ids_above_2_53_with_null(spark, sqlfns):
    """A BIGINT group holding a NULL keeps its keys exact: 2^53+1 in a
    NULL-bearing group and in a NULL-free one is one key (theta 1.0), and
    Misra-Gries reports it as 9007199254740993, not the double
    9007199254740992."""
    big = 2**53 + 1
    spark.createDataFrame(
        [(big, "a"), (None, "a"), (big, "b")], "k long, grp string"
    ).createOrReplaceTempView("bigkeys")
    est = spark.sql("""
        SELECT theta_estimate(theta_merge(s)) AS est FROM (
          SELECT theta_sketch(k) AS s FROM bigkeys GROUP BY grp)
    """).first().est
    assert est == 1.0
    hh = spark.sql("""
        SELECT mg_heavy_hitters_json(mg_sketch(k), 0.1D) AS j
        FROM bigkeys WHERE grp = 'a'
    """).first().j
    assert hh == f'[["{big}", 1]]'


@pytest.fixture
def one_row_batches(spark):
    """Arrow batches of one row for the duration of a test."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    yield
    spark.conf.set(key, old)


def _double_probes(spark):
    state = spark.sql("""
        SELECT bloom_sketch(k) AS s FROM VALUES (1.0D), (2.0D) AS t(k)
    """).first().s
    probes = spark.createDataFrame(
        [(state, 2.0), (state, 2.5)], "s binary, key double").coalesce(1)
    return [r.hit for r in probes.selectExpr(
        "bloom_contains(s, key) AS hit").collect()]


def test_double_probe_independent_of_batch(spark, sqlfns, request):
    """A DOUBLE probe of 2.0 answers the same whether a fractional probe
    shares its Arrow batch (default batch size: both rows in one batch)
    or not (one-row batches)."""
    together = _double_probes(spark)
    request.getfixturevalue("one_row_batches")
    alone = _double_probes(spark)
    assert together == alone == [True, False]
