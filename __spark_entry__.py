"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator over the driver's testdata
tables; ``oracle_sql()`` gives the DuckDB-equivalent SQL. The UDDSketch
quantile queries are verified *bit-for-bit*: the oracle SQL re-derives the
sketch (log-gamma bucket keys + window cumsum rank scan) with the identical
libm operations, so even the approximate estimates hash-match exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF001 = "/root/testdata/sf0.001"

# UDDSketch params for the oracle-checked queries: alpha=0.005, unbounded
# buckets (no collapse -> deterministic single-resolution SQL mirror).
_A = 5e-3
_G = (1.0 + _A) / (1.0 - _A)
_G_SQL = "((1.0e0+5e-3)/(1.0e0-5e-3))"
_QS = (0.5, 0.9, 0.99, 0.999)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship: grouped UDDSketch quantiles of lineitem price
# --------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """p50/p90/p99/p999 of l_extendedprice by l_returnflag via distributed
    UDDSketch (Tungsten bucket fill -> one key-run assembly + finalize)."""
    return _udds_by_flag(spark, SF001)


def _udds_global_sketch(spark: SparkSession, sf_dir: str):
    """JVM fill path (Tungsten hash-agg histogram); bit-identical to the
    Arrow engine — see tests/test_spark_agg.py::test_jvm_engine_bit_parity."""
    from puddsketch_spark.spark.agg import udds_sketch_global_jvm

    return udds_sketch_global_jvm(_t(spark, sf_dir, "lineitem"), "l_extendedprice", _A, 0)


def _udds_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    sk = _udds_global_sketch(spark, sf_dir)
    rows = [(float(q), float(sk.quantile(q)), int(sk.count)) for q in _QS]
    return spark.createDataFrame(rows, "q double, est double, n long")


def _udds_quantile_protocol99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's published query protocol: 99 evenly spaced quantiles
    q = i/100 for i in 1..99 from ONE global UDD sketch, exactly as pudds
    emits them per run (/root/reference/psketches/pudds.cpp:142-145).
    m=0 keeps the bucket walk bit-exact against the SQL oracle at every one
    of the 99 rank points (the 4-point queries only sample the scan; this
    exercises the full cumulative walk at the reference's density)."""
    sk = _udds_global_sketch(spark, sf_dir)
    rows = [
        (float(i / 100.0), float(sk.quantile(i / 100.0)), int(sk.count))
        for i in range(1, 100)
    ]
    return spark.createDataFrame(rows, "q double, est double, n long")


def _udds_rank_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-quantile (rank/CDF) queries from the global UDD sketch:
    rank_of(v) = zero_count + sum of bucket counts with key <= key(v) —
    bucket-granular, so the SQL oracle replays it BIT-EXACTLY by counting
    rows whose bucket key is <= ceil(ln(v)/ln(gamma))."""
    sk = _udds_global_sketch(spark, sf_dir)
    probes = [1000.0, 5000.0, 20000.0, 60000.0, 100000.0]
    rows = [
        (float(v), int(sk.rank_of(v)), round(float(sk.cdf(v)), 8), int(sk.count))
        for v in probes
    ]
    return spark.createDataFrame(rows, "v double, rank_est long, cdf double, n long")


_CDF_SQL = f"""
WITH keyed AS (
  SELECT CAST(ceil(ln(l_extendedprice)/ln({_G_SQL})) AS BIGINT) AS k
  FROM lineitem WHERE l_extendedprice >= 2.2250738585072014e-308
),
nn AS (SELECT COUNT(*) AS n FROM keyed),
probes(v) AS (VALUES (1000.0e0),(5000.0e0),(20000.0e0),(60000.0e0),(100000.0e0))
SELECT probes.v AS v,
       (SELECT COUNT(*) FROM keyed
        WHERE k <= CAST(ceil(ln(probes.v)/ln({_G_SQL})) AS BIGINT)) AS rank_est,
       round((SELECT COUNT(*) FROM keyed
              WHERE k <= CAST(ceil(ln(probes.v)/ln({_G_SQL})) AS BIGINT))
             * 1.0e0 / nn.n, 8) AS cdf,
       nn.n AS n
FROM probes CROSS JOIN nn
"""


def _tail_rows_above_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail mining with sketch thresholds: lineitems above their
    returnflag-group's UDD p99 of l_extendedprice (two passes: KB-scale
    threshold table from the JVM fill, broadcast filter on the scan — no
    per-group sort). With m=0 the threshold is the deterministic bucket
    value, so DuckDB replays the SAME threshold via the bucket walk and
    the surviving counts/sums match bit-exactly."""
    from puddsketch_spark.spark.sketches import filter_above_quantile

    li = _t(spark, sf_dir, "lineitem")
    tail = filter_above_quantile(
        li, "l_extendedprice", q=0.99, group_cols=["l_returnflag"], alpha=_A, m=0
    )
    return tail.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_tail"),
    )


_TAIL_SQL = f"""
WITH keyed AS (
  SELECT l_returnflag, l_extendedprice,
         CAST(ceil(ln(l_extendedprice)/ln({_G_SQL})) AS BIGINT) AS k
  FROM lineitem WHERE l_extendedprice >= 2.2250738585072014e-308
),
b AS (SELECT l_returnflag, k, COUNT(*) AS c FROM keyed GROUP BY l_returnflag, k),
cum AS (SELECT l_returnflag, k,
               SUM(c) OVER (PARTITION BY l_returnflag ORDER BY k) AS cumc FROM b),
nn AS (SELECT l_returnflag, COUNT(*) AS n FROM keyed GROUP BY l_returnflag),
thr AS (
  SELECT nn.l_returnflag,
         power({_G_SQL},
               (SELECT MIN(k) FROM cum
                WHERE cum.cumc > CAST(floor(0.99e0 * (nn.n - 1)) AS BIGINT)
                  AND cum.l_returnflag = nn.l_returnflag))
         * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS t
  FROM nn
)
SELECT keyed.l_returnflag, COUNT(*) AS n_tail,
       round(SUM(l_extendedprice), 2) AS sum_tail
FROM keyed JOIN thr ON keyed.l_returnflag = thr.l_returnflag
WHERE l_extendedprice > thr.t
GROUP BY keyed.l_returnflag
"""


def _unigram_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity-proxy quality filter (CCNet-style): per-doc mean
    unigram log-probability under the corpus-trained model, rolled up per
    source with a fixed low-quality threshold. Broadcast vocabulary +
    one keyed agg; DuckDB replays the identical closed form."""
    from puddsketch_spark.ops.text import with_unigram_logprob

    d = _t(spark, sf_dir, "documents")
    scored = with_unigram_logprob(d)
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("logprob"), 6).alias("avg_logprob"),
        F.sum((F.col("logprob") < -3.45).cast("long")).alias("n_low_quality"),
    )


_UNIGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, source, unnest(string_split_regex(text, '\\s+')) AS term
  FROM documents
),
t2 AS (SELECT * FROM toks WHERE length(term) > 0),
freqs AS (
  SELECT term, COUNT(*) * 1.0e0 / (SELECT COUNT(*) FROM t2) AS p
  FROM t2 GROUP BY term
),
scored AS (
  SELECT doc_id, source, AVG(ln(p)) AS lp
  FROM t2 JOIN freqs USING (term) GROUP BY doc_id, source
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       round(AVG(lp), 6) AS avg_logprob,
       CAST(SUM(CASE WHEN lp < -3.45 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality
FROM scored GROUP BY source
"""


def _rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users — the canonical mergeable-sketch win:
    one theta state per day (single scan), then every window is a UNION of
    7 daily states (KB-scale merges), where exact recomputation would
    rescan 7 days per window. At this cardinality the sketches are in
    exact mode, so the estimates equal the SQL windowed COUNT(DISTINCT)
    integer-for-integer."""
    from puddsketch_spark.core import ThetaSketch
    from puddsketch_spark.spark.sketches import theta_states

    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day")
    states = {
        r["day"]: ThetaSketch.from_bytes(r["state"])
        for r in theta_states(ev.select(day, "user_id"), "user_id", ["day"]).collect()
    }
    import datetime as _dt

    days = sorted(states)
    rows = []
    for d in days:
        # CALENDAR 7-day window (matching the oracle's INTERVAL 6 DAY), not
        # the last 7 PRESENT days — a gap in the data must shrink the window
        d0 = _dt.date.fromisoformat(d) - _dt.timedelta(days=6)
        window = [w for w in days if d0 <= _dt.date.fromisoformat(w) <= _dt.date.fromisoformat(d)]
        acc = ThetaSketch(k=states[d].k)
        for w in window:
            acc.merge(states[w])
        rows.append((d, len(window), int(round(acc.estimate()))))
    return spark.createDataFrame(rows, "day string, window_days int, distinct_users long")


_ROLLING_SQL = """
WITH daily AS (
  SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         date_trunc('day', ts) AS day_ts, user_id
  FROM events
),
days AS (SELECT DISTINCT day, day_ts FROM daily)
SELECT d.day,
       CAST((SELECT COUNT(DISTINCT x.day) FROM days x
             WHERE x.day_ts BETWEEN d.day_ts - INTERVAL 6 DAY AND d.day_ts)
            AS INT) AS window_days,
       (SELECT COUNT(DISTINCT u.user_id) FROM daily u
        WHERE u.day_ts BETWEEN d.day_ts - INTERVAL 6 DAY AND d.day_ts)
         AS distinct_users
FROM days d
"""


def _dataset_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot monitoring: dataset_diff between the events table's first
    and second half-month — id churn from theta set algebra (exact mode at
    this cardinality, so the integers match SQL joins exactly), value
    drift as the KS statistic (bit-exact bucket replay), and the mean
    shift from moments sketches. Two scans, no old-vs-new join."""
    from puddsketch_spark.ops.diff import dataset_diff

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16")
    old = ev.where(F.col("ts") < cut)
    new = ev.where(F.col("ts") >= cut)
    d = dataset_diff(old, new, "user_id", ["value"], alpha=_A)
    c = d["columns"]["value"]
    return spark.createDataFrame(
        [(
            c["n_old"], c["n_new"],
            int(d["ids"]["kept"]), int(d["ids"]["added"]), int(d["ids"]["removed"]),
            bool(d["ids"]["exact_mode"]),
            round(c["ks"], 8), round(c["mean_delta"], 4),
        )],
        "n_old long, n_new long, users_kept long, users_added long, "
        "users_removed long, ids_exact boolean, ks double, mean_delta double",
    )


_DIFF_SQL = f"""
WITH old_side AS (SELECT user_id, value FROM events WHERE ts < TIMESTAMP '2024-01-16'),
new_side AS (SELECT user_id, value FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
ou AS (SELECT DISTINCT user_id FROM old_side),
nu AS (SELECT DISTINCT user_id FROM new_side),
keyed AS (
  SELECT 'a' AS side, CAST(ceil(ln(value)/ln({_G_SQL})) AS BIGINT) AS k
  FROM old_side WHERE value >= 2.2250738585072014e-308
  UNION ALL
  SELECT 'b', CAST(ceil(ln(value)/ln({_G_SQL})) AS BIGINT)
  FROM new_side WHERE value >= 2.2250738585072014e-308
),
b AS (SELECT side, k, COUNT(*) AS c FROM keyed GROUP BY side, k),
n AS (SELECT side, COUNT(*) AS n FROM keyed GROUP BY side),
keys AS (SELECT DISTINCT k FROM b),
cdfs AS (
  SELECT keys.k,
         (SELECT COALESCE(SUM(c), 0) FROM b WHERE b.side = 'a' AND b.k <= keys.k)
         * 1.0e0 / (SELECT n FROM n WHERE side = 'a') AS ca,
         (SELECT COALESCE(SUM(c), 0) FROM b WHERE b.side = 'b' AND b.k <= keys.k)
         * 1.0e0 / (SELECT n FROM n WHERE side = 'b') AS cb
  FROM keys
)
SELECT (SELECT COUNT(*) FROM old_side) AS n_old,
       (SELECT COUNT(*) FROM new_side) AS n_new,
       (SELECT COUNT(*) FROM ou JOIN nu USING (user_id)) AS users_kept,
       (SELECT COUNT(*) FROM nu ANTI JOIN ou USING (user_id)) AS users_added,
       (SELECT COUNT(*) FROM ou ANTI JOIN nu USING (user_id)) AS users_removed,
       TRUE AS ids_exact,
       (SELECT round(MAX(ABS(ca - cb)), 8) FROM cdfs) AS ks,
       round((SELECT AVG(value) FROM new_side) - (SELECT AVG(value) FROM old_side), 4)
         AS mean_delta
"""


def _join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join: CMS inner product
    between the two sides' key-frequency sketches (Cormode & Muthukrishnan
    §4.3) — the planner-statistics use case. Estimate never underestimates
    and is bounded by eps * Na * Nb; both properties emitted as flags, the
    exact join size replayed by the SQL COUNT(*) join."""
    from puddsketch_spark.spark.sketches import cms_global

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ca = cms_global(orders, "o_orderkey", depth=5, width=16384)
    cb = cms_global(
        li.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey",
        depth=5, width=16384,
    )
    est = ca.inner_product(cb)
    exact = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
    bound = est <= exact + ca.eps * ca.total * cb.total
    return spark.createDataFrame(
        [(int(exact), bool(est >= exact), bool(bound))],
        "exact_join_rows long, est_ge_exact boolean, est_le_bound boolean",
    )


_JOINSIZE_SQL = """
SELECT (SELECT COUNT(*) FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
         AS exact_join_rows,
       TRUE AS est_ge_exact, TRUE AS est_le_bound
"""


def _qrank_uniformity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: events.value mapped to its CDF position via
    with_quantile_rank (histogram -> broadcast bucket-cdf join, no sort,
    no Python), bucketed into deciles. A correct transform yields ~10% per
    decile (up to bucket granularity); the decile counts are a pure
    function of the log-bucket histogram, so DuckDB replays them
    bit-exactly."""
    from puddsketch_spark.spark.sketches import with_quantile_rank

    ev = _t(spark, sf_dir, "events")
    ranked = with_quantile_rank(ev, "value", (), alpha=_A)
    return (
        ranked.select(
            F.least(F.floor(F.col("qrank") * 10).cast("int"), F.lit(9)).alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_QRANK_SQL = f"""
WITH keyed AS (
  SELECT CAST(ceil(ln(value)/ln({_G_SQL})) AS BIGINT) AS k
  FROM events WHERE value >= 2.2250738585072014e-308
),
b AS (SELECT k, COUNT(*) AS c FROM keyed GROUP BY k),
nn AS (SELECT COUNT(*) AS n FROM keyed),
cdf AS (
  SELECT k, SUM(c) OVER (ORDER BY k) * 1.0e0 / nn.n AS qrank
  FROM b CROSS JOIN nn
)
SELECT LEAST(CAST(floor(keyed.k_qrank * 10) AS INT), 9) AS decile,
       COUNT(*) AS n
FROM (SELECT cdf.qrank AS k_qrank FROM keyed JOIN cdf USING (k)) keyed
GROUP BY decile
"""


def _ks_drift_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring from sketches alone: the KS statistic
    (sup |cdf_a - cdf_b| over bucket boundaries) between two
    subpopulations' UDD sketches, no rescan of either side. Two pairs: a
    same-distribution control (returnflag A vs R prices, KS ~ 0.007) and
    a genuinely shifted pair (gross price vs discounted revenue, KS ~
    0.05 — an order of magnitude above the control). m=0 keys make the
    statistic a pure function of the bucket histograms, so DuckDB replays
    it bit-exactly."""
    from puddsketch_spark.spark.agg import udds_sketch_global_jvm

    li = _t(spark, sf_dir, "lineitem")

    def sketch_of(df):
        return udds_sketch_global_jvm(df, "l_extendedprice", _A, 0)

    pairs = {
        "flag_A_vs_R": (
            li.where(F.col("l_returnflag") == "A"),
            li.where(F.col("l_returnflag") == "R"),
        ),
        "price_vs_revenue": (
            li,
            li.select(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                    "l_extendedprice"
                )
            ),
        ),
    }
    rows = [
        (name, round(float(sketch_of(a).ks_distance(sketch_of(b))), 8))
        for name, (a, b) in sorted(pairs.items())
    ]
    return spark.createDataFrame(rows, "pair string, ks double")


_KS_SQL = f"""
WITH sides AS (
  SELECT 'flag_A_vs_R' AS pair,
         CASE WHEN l_returnflag = 'A' THEN 'a' ELSE 'b' END AS side,
         CAST(ceil(ln(l_extendedprice)/ln({_G_SQL})) AS BIGINT) AS k
  FROM lineitem
  WHERE l_returnflag IN ('A', 'R')
    AND l_extendedprice >= 2.2250738585072014e-308
  UNION ALL
  SELECT 'price_vs_revenue', 'a',
         CAST(ceil(ln(l_extendedprice)/ln({_G_SQL})) AS BIGINT)
  FROM lineitem WHERE l_extendedprice >= 2.2250738585072014e-308
  UNION ALL
  SELECT 'price_vs_revenue', 'b',
         CAST(ceil(ln(l_extendedprice * (1.0e0 - l_discount))/ln({_G_SQL})) AS BIGINT)
  FROM lineitem
  WHERE l_extendedprice * (1.0e0 - l_discount) >= 2.2250738585072014e-308
),
b AS (SELECT pair, side, k, COUNT(*) AS c FROM sides GROUP BY pair, side, k),
n AS (SELECT pair, side, COUNT(*) AS n FROM sides GROUP BY pair, side),
keys AS (SELECT DISTINCT pair, k FROM b),
cdfs AS (
  SELECT keys.pair, keys.k,
         (SELECT COALESCE(SUM(c), 0) FROM b
          WHERE b.pair = keys.pair AND b.side = 'a' AND b.k <= keys.k)
         * 1.0e0 / (SELECT n FROM n WHERE n.pair = keys.pair AND n.side = 'a') AS ca,
         (SELECT COALESCE(SUM(c), 0) FROM b
          WHERE b.pair = keys.pair AND b.side = 'b' AND b.k <= keys.k)
         * 1.0e0 / (SELECT n FROM n WHERE n.pair = keys.pair AND n.side = 'b') AS cb
  FROM keys
)
SELECT pair, round(MAX(ABS(ca - cb)), 8) AS ks FROM cdfs GROUP BY pair
"""


def _rank_agreement_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-quantile (rank) agreement across the rank-capable kernels:
    KLL.rank / REQ.rank / TDigest.cdf, each filled distributed over
    l_extendedprice, probed at fixed values and flag-checked against the
    exact normalized rank (KLL/REQ within their published rank-error
    bounds with merge headroom, t-digest within its empirical envelope).
    The oracle replays the exact ranks and emits TRUE flags."""
    from puddsketch_spark.core import KLLSketch, REQSketch, TDigest
    from puddsketch_spark.spark.agg import sketch_global

    li = _t(spark, sf_dir, "lineitem")
    kll = sketch_global(li, "l_extendedprice", lambda: KLLSketch(k=200),
                        KLLSketch.from_bytes)
    req = sketch_global(li, "l_extendedprice", lambda: REQSketch(k=32),
                        REQSketch.from_bytes)
    td = sketch_global(li, "l_extendedprice", lambda: TDigest(delta=200),
                       TDigest.from_bytes)
    probes = [5000.0, 20000.0, 60000.0, 100000.0]
    exact_row = li.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum((F.col("l_extendedprice") <= v).cast("long")).alias(f"r{i}")
          for i, v in enumerate(probes)],
    ).first()
    n = exact_row["_n"]
    rows = []
    for i, v in enumerate(probes):
        exact = exact_row[f"r{i}"] / n
        rows.append((
            float(v), int(exact_row[f"r{i}"]),
            bool(abs(kll.rank(v) - exact) <= 3 * kll.rank_eps),
            bool(abs(req.rank(v) - exact) <= 0.05),
            bool(abs(td.cdf(v) - exact) <= 0.03),
        ))
    return spark.createDataFrame(
        rows, "v double, exact_rank long, kll_ok boolean, req_ok boolean, td_ok boolean"
    )


_RANK_AGREE_SQL = """
WITH probes(v) AS (VALUES (5000.0e0),(20000.0e0),(60000.0e0),(100000.0e0))
SELECT v,
       (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice <= v) AS exact_rank,
       TRUE AS kll_ok, TRUE AS req_ok, TRUE AS td_ok
FROM probes
"""


def _udds_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from puddsketch_spark.spark.agg import udds_quantile_table_jvm

    li = _t(spark, sf_dir, "lineitem")
    # fused JVM path: Tungsten bucket histogram -> ONE key-run stage
    # assembling the sketch AND finalizing quantiles (+ n). The previous
    # form paid two Python stages (state assembly, then a quantile UDF)
    # plus a join of the state table back to its own quantile table for n
    # (r7; bit-parity with the two-stage path pinned in
    # tests/test_spark_agg.py::test_fused_jvm_quantile_table_bit_parity)
    return udds_quantile_table_jvm(
        li, "l_extendedprice", ["l_returnflag"], _QS, _A, 0
    )


_QS_SQL = "SELECT * FROM (VALUES (0.5e0),(0.9e0),(0.99e0),(0.999e0)) AS t(q)"
# The reference's published protocol: 99 evenly spaced quantiles i/100,
# i=1..99 (/root/reference/psketches/pudds.cpp:142-145). CAST(i AS DOUBLE)
# / 100.0 is the same IEEE-754 division Python performs, so q matches
# bit-for-bit and the rank floor(q*(n-1)) is identical on both sides.
_QS99_SQL = (
    "SELECT CAST(i AS DOUBLE) / 100.0e0 AS q "
    "FROM generate_series(1, 99) AS t(i)"
)


def _udds_oracle(group_col: str | None, qs_sql: str = _QS_SQL) -> str:
    gexpr = f"{group_col}, " if group_col else ""
    gpart = f"PARTITION BY {group_col} " if group_col else ""
    gjoin = f"AND cum.{group_col} = nn.{group_col}" if group_col else ""
    gsel = f"kq.{group_col}, " if group_col else ""
    return f"""
WITH keyed AS (
  SELECT {gexpr}CAST(ceil(ln(l_extendedprice)/ln({_G_SQL})) AS BIGINT) AS k
  FROM lineitem WHERE l_extendedprice >= 2.2250738585072014e-308
),
b AS (SELECT {gexpr}k, COUNT(*) AS c FROM keyed GROUP BY {gexpr}k),
cum AS (SELECT {gexpr}k, SUM(c) OVER ({gpart}ORDER BY k) AS cumc FROM b),
nn AS (SELECT {gexpr}COUNT(*) AS n FROM keyed {('GROUP BY ' + group_col) if group_col else ''}),
qs AS ({qs_sql}),
kq AS (
  SELECT {('nn.' + group_col + ',') if group_col else ''} qs.q, nn.n,
         (SELECT MIN(k) FROM cum WHERE cum.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT) {gjoin}) AS kq
  FROM nn CROSS JOIN qs
)
SELECT {gsel}kq.q AS q,
       power({_G_SQL}, kq.kq) * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       kq.n AS n
FROM kq
"""


def _udds_multi_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two features (l_extendedprice, l_quantity) sketched in ONE scan via
    udds_quantiles_multi (posexplode -> one Tungsten histogram keyed by the
    feature index). m=0: bit-exact bucket walk, oracled per feature."""
    from puddsketch_spark.spark.agg import udds_quantiles_multi

    li = _t(spark, sf_dir, "lineitem")
    return udds_quantiles_multi(
        li, ["l_extendedprice", "l_quantity"], (), qs=_QS, alpha=_A, m=0
    )


_UDDS_MULTI_SQL = f"""
WITH stacked AS (
  SELECT 'l_extendedprice' AS feature, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
  UNION ALL
  SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
),
keyed AS (
  SELECT feature, CAST(ceil(ln(v)/ln({_G_SQL})) AS BIGINT) AS k
  FROM stacked WHERE v >= 2.2250738585072014e-308
),
b AS (SELECT feature, k, COUNT(*) AS c FROM keyed GROUP BY feature, k),
cum AS (SELECT feature, k, SUM(c) OVER (PARTITION BY feature ORDER BY k) AS cumc FROM b),
nn AS (SELECT feature, COUNT(*) AS n FROM keyed GROUP BY feature),
qs AS (SELECT * FROM (VALUES (0.5e0),(0.9e0),(0.99e0),(0.999e0)) AS t(q)),
kq AS (
  SELECT nn.feature, qs.q, nn.n,
         (SELECT MIN(k) FROM cum
          WHERE cum.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT)
            AND cum.feature = nn.feature) AS kq
  FROM nn CROSS JOIN qs
)
SELECT kq.feature AS feature, kq.q AS q,
       power({_G_SQL}, kq.kq) * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       kq.n AS n
FROM kq
"""


def _udds_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-rollup pattern: per-DAY sketch states built once, then
    merged to the global sketch WITHOUT rescanning events (rollup_states).
    m=0 makes the rollup bit-identical to a full recompute, so the oracle
    is the plain global bucket walk over all events — if the daily-merge
    path dropped or double-counted anything, the hash would differ."""
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.agg import rollup_states, sketch_grouped_jvm

    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), F.col("value").alias("v")
    )
    # persist the (tiny) state table: counting days and rolling up are two
    # actions, and without the cache each would re-run the full fill scan
    daily = sketch_grouped_jvm(ev, "v", ["day"], _A, 0).persist()
    try:
        n_days = daily.count()
        sk = rollup_states(daily, (), UDDSketch.from_bytes)
    finally:
        daily.unpersist()
    rows = [
        (float(q), float(sk.quantile(q)), int(sk.count), int(n_days))
        for q in _QS
    ]
    return spark.createDataFrame(rows, "q double, est double, n long, n_days long")


_UDDS_ROLLUP_SQL = f"""
WITH keyed AS (
  SELECT CAST(ceil(ln(value)/ln({_G_SQL})) AS BIGINT) AS k
  FROM events WHERE value >= 2.2250738585072014e-308
),
b AS (SELECT k, COUNT(*) AS c FROM keyed GROUP BY k),
cum AS (SELECT k, SUM(c) OVER (ORDER BY k) AS cumc FROM b),
nn AS (SELECT COUNT(*) AS n FROM keyed),
nd AS (SELECT COUNT(DISTINCT CAST(ts AS DATE)) AS n_days FROM events),
qs AS (SELECT * FROM (VALUES (0.5e0),(0.9e0),(0.99e0),(0.999e0)) AS t(q))
SELECT qs.q AS q,
       power({_G_SQL},
             (SELECT MIN(k) FROM cum, nn
              WHERE cum.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT)))
         * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       nn.n AS n, nd.n_days AS n_days
FROM qs CROSS JOIN nn CROSS JOIN nd
"""


def _udds_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(l_returnflag, l_linestatus) quantiles from ONE scan: the
    finest (flag, status) sketch states fill once (JVM Tungsten histogram,
    m=0), then every coarser grouping set — per-flag and global — is a
    merge over the tiny state table (rollup_grouping_sets), never a rescan.
    The sketch-native one-pass OLAP cube: at 10^12 turns, CUBE as separate
    GROUP BYs is one full scan per set. m=0 merges are bucket-exact, so
    all three sets share the bit-exact SQL bucket-walk oracle, and
    grouping_id follows the SQL convention (bit set = aggregated away)."""
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.agg import (
        quantile_table,
        rollup_grouping_sets,
        sketch_grouped_jvm,
    )

    li = _t(spark, sf_dir, "lineitem")
    finest = sketch_grouped_jvm(
        li, "l_extendedprice", ["l_returnflag", "l_linestatus"], _A, 0
    ).persist()
    try:
        cells = rollup_grouping_sets(
            finest,
            [("l_returnflag", "l_linestatus"), ("l_returnflag",), ()],
            UDDSketch.from_bytes,
        )
        qt = quantile_table(
            cells,
            ["l_returnflag", "l_linestatus", "grouping_id"],
            _QS,
            UDDSketch.from_bytes,
            extra_cols=["n"],
        )
        # one action materializes everything the caller needs; the persist
        # guards the three set-merges from re-running the fill
        rows = qt.collect()
    finally:
        finest.unpersist()
    return spark.createDataFrame(
        rows,
        "l_returnflag string, l_linestatus string, grouping_id int, "
        "q double, est double, n long",
    )


def _gs_oracle_arm(tag: str, group_cols: list[str], all_cols: list[str]) -> str:
    """One grouping-set arm of the rollup oracle: the standard bucket-walk
    (identical libm ops as the kernel) re-grouped from ``keyed`` by THIS
    arm's columns — each set gets its own cumulative bucket table, exactly
    as each merged sketch cell covers its own slice. Absent columns are
    NULL-padded; grouping_id follows the SQL bit convention."""
    gid = sum(
        1 << (len(all_cols) - 1 - i)
        for i, c in enumerate(all_cols)
        if c not in group_cols
    )
    gexpr = "".join(f"{c}, " for c in group_cols)
    gjoin = "".join(f" AND cum{tag}.{c} = nn.{c}" for c in group_cols)
    gbyn = ("GROUP BY " + ", ".join(group_cols)) if group_cols else ""
    sel = ", ".join(
        f"kq.{c} AS {c}" if c in group_cols else f"CAST(NULL AS VARCHAR) AS {c}"
        for c in all_cols
    )
    nsel = "".join(f"nn.{c}, " for c in group_cols)
    return f"""
SELECT {sel}, CAST({gid} AS INTEGER) AS grouping_id, kq.q AS q,
       power({_G_SQL}, kq.kq) * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       kq.n AS n
FROM (
  SELECT {nsel}qs.q, nn.n,
         (SELECT MIN(k) FROM cum{tag}
          WHERE cum{tag}.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT){gjoin}) AS kq
  FROM (SELECT {gexpr}COUNT(*) AS n FROM keyed {gbyn}) nn CROSS JOIN qs
) kq
"""


def _gs_oracle_cum(tag: str, group_cols: list[str]) -> str:
    gexpr = "".join(f"{c}, " for c in group_cols)
    gpart = ("PARTITION BY " + ", ".join(group_cols) + " ") if group_cols else ""
    gby = ", ".join(group_cols + ["k"])
    return (
        f"cum{tag} AS (SELECT {gexpr}k, SUM(c) OVER ({gpart}ORDER BY k) AS cumc "
        f"FROM (SELECT {gexpr}k, COUNT(*) AS c FROM keyed GROUP BY {gby}) b{tag})"
    )


_GS_COLS = ["l_returnflag", "l_linestatus"]
_UDDS_GS_SQL = f"""
WITH keyed AS (
  SELECT l_returnflag, l_linestatus,
         CAST(ceil(ln(l_extendedprice)/ln({_G_SQL})) AS BIGINT) AS k
  FROM lineitem WHERE l_extendedprice >= 2.2250738585072014e-308
),
{_gs_oracle_cum("0", _GS_COLS)},
{_gs_oracle_cum("1", ["l_returnflag"])},
{_gs_oracle_cum("3", [])},
qs AS (SELECT * FROM (VALUES (0.5e0),(0.9e0),(0.99e0),(0.999e0)) AS t(q))
{_gs_oracle_arm("0", _GS_COLS, _GS_COLS)}
UNION ALL
{_gs_oracle_arm("1", ["l_returnflag"], _GS_COLS)}
UNION ALL
{_gs_oracle_arm("3", [], _GS_COLS)}
"""


def _sql_surface_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered SQL surface end-to-end (spark/sqlfns.py): a pure
    ``spark.sql`` text query fills per-flag UDD states with the
    ``udds_sketch`` grouped-agg UDAF and extracts quantiles/counts with
    ``udds_quantile`` / ``udds_count`` — no Python DataFrame API in the
    query at all. At m=0 the SQL-surface fill is bit-identical to the
    two-stage fill (pytest-pinned in tests/test_sqlfns.py), so this
    shares the exact bucket-walk oracle with udds_quantile_by_flag.
    Scale note: the grouped-agg fill shuffles raw rows (no partial agg);
    at corpus scale the SQL idiom is `udds_merge` over a saved state
    table — the fill here doubles as the gate check for that kernel
    path, since merge == fill at m=0 (test_udds_merge_regroups...)."""
    from puddsketch_spark.spark.sqlfns import register_sql_functions

    register_sql_functions(spark, alpha=_A, m=0)
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("sqlsurf_lineitem")
    return spark.sql("""
        WITH states AS (
          SELECT l_returnflag, udds_sketch(l_extendedprice) AS state
          FROM sqlsurf_lineitem GROUP BY l_returnflag
        ),
        qs AS (SELECT * FROM VALUES (0.5D),(0.9D),(0.99D),(0.999D) AS t(q))
        SELECT s.l_returnflag, qs.q AS q,
               udds_quantile(s.state, qs.q) AS est,
               udds_count(s.state) AS n
        FROM states s CROSS JOIN qs
    """)


def _rolling_quantile_window_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling sketch quantiles as a SQL WINDOW aggregate: the registered
    ``udds_sketch`` UDAF fills per-frame (50-row frames per event_type,
    ordered by ts) and ``udds_quantile`` extracts the rolling p50 — pure
    SQL, no Python API. At m=0 every frame's estimate is bit-exact against
    a per-window SQL bucket-walk oracle (the _udds_oracle derivation,
    re-grouped per sampled frame), and within_bound re-checks the alpha
    guarantee against the frame's true rank value (element_at over the
    sorted frame — the kernel's floor(q*(n-1)) convention exactly).
    Scale note: a window UDAF refills per frame (O(rows x frame) through
    Arrow) — the right tool for moderate frames / SQL convenience; for
    unbounded time-ordered rollups use streaming_sketch_windowed or
    merge_grouped over bucketed state tables."""
    from puddsketch_spark.spark.sqlfns import register_sql_functions

    register_sql_functions(spark, alpha=_A, m=0)
    _t(spark, sf_dir, "events").createOrReplaceTempView("sqlwin_events")
    return spark.sql(f"""
        WITH w AS (
          SELECT event_id, event_type, ts,
                 udds_quantile(udds_sketch(value) OVER fr, 0.5D) AS est,
                 count(value) OVER fr AS n,
                 element_at(sort_array(collect_list(value) OVER fr),
                            CAST(floor(0.5 * (count(value) OVER fr - 1))
                                 AS INT) + 1) AS xr
          FROM sqlwin_events
          WINDOW fr AS (PARTITION BY event_type ORDER BY ts
                        ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, ts, n, est,
               (abs(est - xr) <= {_A} * xr) AS within_bound
        FROM w WHERE event_id % 40 = 0
    """)


_ROLLING_WINDOW_SQL = f"""
WITH ordered AS (
  SELECT event_type, ts, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts) AS rn
  FROM events
),
sampled AS (SELECT * FROM ordered WHERE event_id % 40 = 0),
pairs AS (
  SELECT s.event_type, s.ts, o.value
  FROM sampled s JOIN ordered o
    ON o.event_type = s.event_type AND o.rn BETWEEN s.rn - 49 AND s.rn
),
keyed AS (
  SELECT event_type, ts, value,
         CAST(ceil(ln(value)/ln({_G_SQL})) AS BIGINT) AS k
  FROM pairs WHERE value >= 2.2250738585072014e-308
),
b AS (SELECT event_type, ts, k, COUNT(*) AS c FROM keyed GROUP BY event_type, ts, k),
cum AS (
  SELECT event_type, ts, k,
         SUM(c) OVER (PARTITION BY event_type, ts ORDER BY k) AS cumc
  FROM b
),
nn AS (
  SELECT event_type, ts, COUNT(*) AS n,
         list_sort(list(value))[CAST(floor(0.5 * (COUNT(*) - 1)) AS BIGINT) + 1] AS xr
  FROM keyed GROUP BY event_type, ts
),
kq AS (
  SELECT nn.event_type, nn.ts, nn.n, nn.xr,
         (SELECT MIN(k) FROM cum
          WHERE cum.cumc > CAST(floor(0.5 * (nn.n - 1)) AS BIGINT)
            AND cum.event_type = nn.event_type AND cum.ts = nn.ts) AS kq
  FROM nn
)
SELECT event_type, ts, n,
       power({_G_SQL}, kq.kq) * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       (abs(power({_G_SQL}, kq.kq) * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) - xr)
        <= {_A} * xr) AS within_bound
FROM kq
"""


# --------------------------------------------------------------------------
# relational operators
# --------------------------------------------------------------------------
def _streaming_rollup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture contract as a driver query: a Structured
    Streaming job (file source over the events table, applyInPandasWithState
    via streaming_sketch) maintains per-event_type UDD states and finalizes
    raw kernel blobs; batch rollup_states then merges those states to the
    global sketch WITHOUT rescanning. With m=0 the rollup is bit-identical
    to batch-sketching all rows, so the quantile estimates are checked
    BIT-EXACTLY by the SQL bucket-walk oracle, and stream_batch_identical
    asserts bucket-for-bucket equality against a fresh batch fill
    (tests/test_streaming.py proves the same contract in pytest; this
    entry puts it under the driver's correctness gate)."""
    import tempfile
    import uuid

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.agg import rollup_states
    from puddsketch_spark.streaming.sketch_stream import streaming_sketch

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    # FileStreamSource wants a directory: stream the sf dir, glob-filtered
    # down to the events table
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    out = streaming_sketch(
        stream, "value", ["event_type"],
        factory=lambda: UDDSketch(initial_alpha=_A, m=0),
        from_bytes=UDDSketch.from_bytes,
        finalize=lambda sk: (sk.to_bytes(), sk.count),
        finalize_schema=StructType([
            StructField("state", BinaryType(), False),
            StructField("n", LongType(), False),
        ]),
    )
    sink = f"stream_rollup_{uuid.uuid4().hex}"
    q = (out.writeStream.format("memory").queryName(sink)
         .outputMode("update")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_ckpt_"))
         .start())
    try:
        q.processAllAvailable()
        # update mode re-emits per trigger: keep the latest state per key
        states = (spark.table(sink).orderBy(F.desc("n"))
                  .dropDuplicates(["event_type"]))
        n_types = states.count()
        g = rollup_states(states, (), UDDSketch.from_bytes)
    finally:
        q.stop()
    batch = _events_global_sketch(spark, sf_dir)
    identical = g.same_buckets(batch) and g.count == batch.count
    rows = [
        (float(qq), float(g.quantile(qq)), int(g.count), int(n_types),
         bool(identical))
        for qq in _QS
    ]
    return spark.createDataFrame(
        rows,
        "q double, est double, n long, n_types long, stream_batch_identical boolean",
    )


def _streaming_window_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed streaming under the correctness gate: the events
    table streamed through streaming_sketch_windowed (1-day tumbling
    windows, watermark-driven finalization via EventTimeTimeout), then two
    sentinel rows 40 days ahead push the watermark past every real window's
    horizon so all 30 day-windows emit final=true and evict their state.
    Each final window's UDD sketch (m=0) is checked bucket-for-bucket
    against a fresh BATCH fill of that day's rows, and the p50/p99
    estimates are replayed BIT-EXACTLY by the per-day SQL bucket walk."""
    import datetime
    import tempfile
    import uuid

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.agg import sketch_grouped
    from puddsketch_spark.streaming.sketch_stream import streaming_sketch_windowed

    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    src = tempfile.mkdtemp(prefix="stream_win_src_")
    ev = _t(spark, sf_dir, "events")
    ev.select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value", "props",
    ).coalesce(2).write.mode("overwrite").parquet(src)
    max_ts = ev.agg(F.max(F.col("ts").cast("timestamp"))).first()[0]

    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_sketch_windowed(
        stream, "value", [],
        factory=lambda: UDDSketch(initial_alpha=_A, m=0),
        from_bytes=UDDSketch.from_bytes,
        finalize=lambda sk: (sk.to_bytes(), sk.count),
        finalize_schema=StructType([
            StructField("state", BinaryType(), False),
            StructField("n", LongType(), False),
        ]),
        ts_col="ts", window_seconds=86_400, watermark_seconds=60,
    )
    sink = f"stream_win_{uuid.uuid4().hex}"
    q = (out.writeStream.format("memory").queryName(sink)
         .outputMode("update")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="stream_wckpt_"))
         .start())
    try:
        q.processAllAvailable()
        # two sentinel pushes: the watermark advances while processing a
        # batch, so timeouts fire in the batch AFTER the advance
        for days in (40, 41):
            sent = [(10**9, max_ts + datetime.timedelta(days=days), 0,
                     "sentinel", 1.0, "{}")]
            spark.createDataFrame(sent, schema).coalesce(1).write.mode(
                "append").parquet(src)
            q.processAllAvailable()
        finals = (spark.table(sink).where("final")
                  .where(F.col("window_start") <= max_ts)  # drop sentinel windows
                  .select("window_start", "state", "n").collect())
    finally:
        q.stop()

    # batch reference: one keyed Arrow fill per day
    day = F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day")
    batch_states = {
        r["day"]: UDDSketch.from_bytes(r["state"])
        for r in sketch_grouped(
            ev.select(day, "value"), "value", ["day"],
            lambda: UDDSketch(initial_alpha=_A, m=0), UDDSketch.from_bytes,
        ).collect()
    }
    rows = []
    for r in finals:
        d = r.window_start.strftime("%Y-%m-%d")
        sk = UDDSketch.from_bytes(r.state)
        b = batch_states.get(d)
        identical = b is not None and sk.same_buckets(b) and sk.count == b.count
        for qq in (0.5, 0.99):
            rows.append((d, float(qq), float(sk.quantile(qq)), int(sk.count),
                         bool(identical)))
    return spark.createDataFrame(
        rows, "day string, q double, est double, n long, stream_batch_identical boolean"
    )


_STREAM_WIN_SQL = f"""
WITH keyed AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(ceil(ln(value)/ln({_G_SQL})) AS BIGINT) AS k
  FROM events WHERE value >= 2.2250738585072014e-308
),
b AS (SELECT day, k, COUNT(*) AS c FROM keyed GROUP BY day, k),
cum AS (SELECT day, k, SUM(c) OVER (PARTITION BY day ORDER BY k) AS cumc FROM b),
nn AS (SELECT day, COUNT(*) AS n FROM keyed GROUP BY day),
qs AS (SELECT * FROM (VALUES (0.5e0),(0.99e0)) AS t(q)),
kq AS (
  SELECT nn.day, qs.q, nn.n,
         (SELECT MIN(k) FROM cum
          WHERE cum.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT)
            AND cum.day = nn.day) AS kq
  FROM nn CROSS JOIN qs
)
SELECT kq.day AS day, kq.q AS q,
       power({_G_SQL}, kq.kq) * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       kq.n AS n, TRUE AS stream_batch_identical
FROM kq
"""


def _events_global_sketch(spark: SparkSession, sf_dir: str) -> "UDDSketch":
    """Batch global UDD over events.value via the JVM fill path."""
    from puddsketch_spark.spark.agg import udds_sketch_global_jvm

    return udds_sketch_global_jvm(_t(spark, sf_dir, "events"), "value", _A, 0)


_STREAM_ROLLUP_SQL = f"""
WITH keyed AS (
  SELECT CAST(ceil(ln(value)/ln({_G_SQL})) AS BIGINT) AS k
  FROM events WHERE value >= 2.2250738585072014e-308
),
b AS (SELECT k, COUNT(*) AS c FROM keyed GROUP BY k),
cum AS (SELECT k, SUM(c) OVER (ORDER BY k) AS cumc FROM b),
nn AS (SELECT COUNT(*) AS n FROM keyed),
nt AS (SELECT COUNT(DISTINCT event_type) AS n_types FROM events),
qs AS (SELECT * FROM (VALUES (0.5e0),(0.9e0),(0.99e0),(0.999e0)) AS t(q))
SELECT qs.q AS q,
       power({_G_SQL},
             (SELECT MIN(k) FROM cum, nn
              WHERE cum.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT)))
         * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       nn.n AS n, nt.n_types AS n_types, TRUE AS stream_batch_identical
FROM qs, nn, nt
"""


def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(AVG(l_quantity), 4) AS avg_qty,
       round(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join; only the filtered DIM (customer) is broadcast-hinted.
    orders is fact-sized — at 100x it does not fit in an executor, so no
    broadcast there; the orders<->lineitem join is SHUFFLE_HASH-hinted
    with the segment-filtered orders as build side (VERDICT r3 item 9
    measurement: 0.97s vs 1.90s sort-merge median at sf0.1, both sides'
    sorts eliminated). Scale-safe because the build side hashes on its
    UNIQUE key (o_orderkey — no build-side skew possible) and per-task
    build size is data/shuffle-partitions, governed by AQE's advisory
    partition sizing at any SF; the probe side streams unsorted."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
                .hint("SHUFFLE_HASH"),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def _q5_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-flavored 5-way join: revenue by nation. Only nation (25 rows,
    SF-invariant) carries a broadcast hint; orders/customer/supplier all
    scale with the data and are left to AQE (shuffle joins at 100x, runtime
    broadcast when small enough). Measured r4: SHUFFLE_HASH hints on the
    three build sides are a ~30% REGRESSION here (1.04s vs 0.79s median at
    sf0.1) because they pin joins that AQE otherwise runtime-broadcasts at
    small SF — unlike q3, where the probe side dwarfs the build side at
    every SF, q5's dims sit near the broadcast threshold, so adaptivity
    beats a static hint."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_Q5_SQL = """
SELECT n_name, round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def _udds_by_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column grouped UDDSketch (multi-key JVM fill path)."""
    from puddsketch_spark.spark.agg import udds_quantile_table_jvm

    li = _t(spark, sf_dir, "lineitem")
    # fused JVM path — one Python stage instead of two + a join-back
    # (see _udds_by_flag)
    return udds_quantile_table_jvm(
        li, "l_extendedprice", ["l_returnflag", "l_linestatus"], (0.5, 0.99),
        _A, 0
    )


_UDDS2_SQL = f"""
WITH keyed AS (
  SELECT l_returnflag, l_linestatus,
         CAST(ceil(ln(l_extendedprice)/ln({_G_SQL})) AS BIGINT) AS k
  FROM lineitem WHERE l_extendedprice >= 2.2250738585072014e-308
),
b AS (SELECT l_returnflag, l_linestatus, k, COUNT(*) AS c FROM keyed GROUP BY 1, 2, 3),
cum AS (SELECT l_returnflag, l_linestatus, k,
               SUM(c) OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY k) AS cumc
        FROM b),
nn AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM keyed GROUP BY 1, 2),
qs AS (SELECT * FROM (VALUES (0.5e0),(0.99e0)) AS t(q)),
kq AS (
  SELECT nn.l_returnflag, nn.l_linestatus, qs.q, nn.n,
         (SELECT MIN(k) FROM cum
          WHERE cum.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT)
            AND cum.l_returnflag = nn.l_returnflag
            AND cum.l_linestatus = nn.l_linestatus) AS kq
  FROM nn CROSS JOIN qs
)
SELECT l_returnflag, l_linestatus, q,
       power({_G_SQL}, kq) * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       n
FROM kq
"""


def _top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function coverage: rank per partition, deterministic ties."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rk")
    )


_TOP2_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 2
"""


def _set_ops_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation coverage: intersect / except / union on part types."""
    p = _t(spark, sf_dir, "part")
    big = p.where(F.col("p_size") >= 25).select("p_type").distinct()
    small = p.where(F.col("p_size") < 25).select("p_type").distinct()
    both = big.intersect(small).withColumn("bucket", F.lit("both"))
    only_big = big.exceptAll(small).withColumn("bucket", F.lit("only_big"))
    return both.union(only_big).groupBy("bucket").agg(F.count(F.lit(1)).alias("n_types"))


_SETOP_SQL = """
WITH big AS (SELECT DISTINCT p_type FROM part WHERE p_size >= 25),
     small AS (SELECT DISTINCT p_type FROM part WHERE p_size < 25),
     labeled AS (
       SELECT 'both' AS bucket, p_type FROM (SELECT p_type FROM big INTERSECT SELECT p_type FROM small)
       UNION ALL
       SELECT 'only_big', p_type FROM (SELECT p_type FROM big EXCEPT SELECT p_type FROM small)
     )
SELECT bucket, COUNT(*) AS n_types FROM labeled GROUP BY bucket
"""


def _theta_custkey_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (KMV) sketch set algebra — distinct-custkey overlap between
    orders and customer, estimated sketch-side and checked against the
    exact join answer. At sf0.01 the cardinalities sit below k=4096, so
    the sketch is in exact mode and every estimate is integer-exact; at
    larger SF the ok-flags use the sqrt(n/theta) absolute error model
    (see ThetaSketch docstring). Companion set addition: HLL cannot
    answer intersections/differences; theta exists for exactly that."""
    import math

    from puddsketch_spark.spark.sketches import theta_set_ops

    # A = customers with at least one high-value order (a strict subset);
    # B = all customers — so intersection, A\B (=0) and B\A are all exercised
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 350000)
    cust = _t(spark, sf_dir, "customer")
    # The fill reads the RAW columns (KMV dedups internally — state is
    # identical to filling from pre-distinct keys) and the exact-verify arm
    # computes its own distincts. An r7 alternating A/B killed the
    # "persist the distinct key sets and share them" variant: 1.07 s vs
    # 0.83 s median at sf0.1 — the cache materialization plus the extra
    # pass over it cost more than the saved orders re-scan, and at scale
    # the raw-column fill is the right operator anyway (one scan, zero
    # row shuffle; the distinct shuffles exist only for the exact gate arm).
    ops = theta_set_ops(orders, "o_custkey", cust, "c_custkey", k=4096)

    # one job for all three exact counts: full outer join of the distinct
    # key sets, then conditional counts
    da = orders.select(F.col("o_custkey").alias("ka")).distinct()
    db = cust.select(F.col("c_custkey").alias("kb")).distinct()
    r = (
        da.join(db, da.ka == db.kb, "full_outer")
        .agg(
            F.count("ka").alias("ea"),
            F.count("kb").alias("eb"),
            F.count(F.when(F.col("ka").isNotNull() & F.col("kb").isNotNull(), 1)).alias("ei"),
        )
        .first()
    )
    ea, eb, einter = r.ea, r.eb, r.ei
    exact = {
        "a": ea,
        "b": eb,
        "union": ea + eb - einter,
        "intersection": einter,
        "a_not_b": ea - einter,
        "b_not_a": eb - einter,
    }

    def ok(key: str) -> bool:
        tol = 6.0 * math.sqrt(max(exact[key], 1) / ops["theta_frac"]) + 1.0
        return abs(ops[key] - exact[key]) <= tol

    row = (
        int(ea), int(eb), int(einter), int(exact["a_not_b"]), int(exact["b_not_a"]),
        bool(ok("a")), bool(ok("b")), bool(ok("union")), bool(ok("intersection")),
        bool(ok("a_not_b")), bool(ok("b_not_a")),
    )
    return spark.createDataFrame(
        [row],
        "exact_a long, exact_b long, exact_common long, exact_a_only long, "
        "exact_b_only long, a_ok boolean, b_ok boolean, union_ok boolean, "
        "inter_ok boolean, a_not_b_ok boolean, b_not_a_ok boolean",
    )


_THETA_SQL = """
WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice >= 350000),
     b AS (SELECT DISTINCT c_custkey AS k FROM customer),
     common AS (SELECT k FROM a INTERSECT SELECT k FROM b)
SELECT (SELECT COUNT(*) FROM a) AS exact_a,
       (SELECT COUNT(*) FROM b) AS exact_b,
       (SELECT COUNT(*) FROM common) AS exact_common,
       (SELECT COUNT(*) FROM a) - (SELECT COUNT(*) FROM common) AS exact_a_only,
       (SELECT COUNT(*) FROM b) - (SELECT COUNT(*) FROM common) AS exact_b_only,
       TRUE AS a_ok, TRUE AS b_ok, TRUE AS union_ok, TRUE AS inter_ok,
       TRUE AS a_not_b_ok, TRUE AS b_not_a_ok
"""


def _q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS against
    lineitem, expressed as a left-semi join (the scale-safe Spark form —
    Catalyst plans the EXISTS subquery the same way). Oracle: the
    textbook EXISTS SQL."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0.05)
    # correlated on the join key AND the outer row's date (late shipment)
    return (
        o.join(
            li.select("l_orderkey", "l_shipdate"),
            (o.o_orderkey == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_discount > 0.05
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""


def _rollup_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (flag, status) -> flag -> grand
    total, with grouping_id to disambiguate NULL group values from NULL
    subtotal markers. DuckDB replays via ROLLUP + GROUPING."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("flag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("status"),
            "n", "sum_qty", "gid",
        )
    )


_ROLLUP_SQL = """
SELECT COALESCE(l_returnflag, '<all>') AS flag,
       COALESCE(l_linestatus, '<all>') AS status,
       COUNT(*) AS n, round(SUM(l_quantity), 2) AS sum_qty,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _pivot_type_by_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT coverage: weekly event counts pivoted by event_type (fixed
    pivot values keep the schema static — the scale-safe form; DuckDB
    replays with conditional aggregation)."""
    ev = _t(spark, sf_dir, "events")
    week = F.weekofyear(F.col("ts").cast("timestamp")).alias("week")
    types = ["click", "view", "purchase", "error", "signup"]
    return (
        ev.select(week, "event_type")
        .groupBy("week")
        .pivot("event_type", types)
        .count()
        .na.fill(0, types)
    )


_PIVOT_SQL = """
SELECT weekofyear(ts) AS week,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
       CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup
FROM events GROUP BY weekofyear(ts)
"""


def _events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


_EVENTS_SQL = """
SELECT event_type, COUNT(*) AS n, round(SUM(value), 4) AS sum_value,
       MIN(value) AS min_value, MAX(value) AS max_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def _events_gap_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event latency per user (window lag), exact p50/p90 per type."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn(
        "ts_ltz", F.col("ts").cast("timestamp_ltz")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ev.withColumn(
        "gap_us", F.unix_micros(F.col("ts_ltz")) - F.unix_micros(F.lag("ts_ltz").over(w))
    ).where(F.col("gap_us").isNotNull())
    return gap.groupBy("event_type").agg(
        F.round(F.expr("percentile(gap_us, 0.5)"), 4).alias("p50_us"),
        F.round(F.expr("percentile(gap_us, 0.9)"), 4).alias("p90_us"),
        F.count(F.lit(1)).alias("n_gaps"),
    )


_GAP_SQL = """
WITH g AS (
  SELECT event_type,
         date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_us
  FROM events
)
SELECT event_type, round(quantile_cont(gap_us, 0.5e0), 4) AS p50_us,
       round(quantile_cont(gap_us, 0.9e0), 4) AS p90_us,
       COUNT(gap_us) AS n_gaps
FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
"""


# --------------------------------------------------------------------------
# companion sketches: the oracle asserts the published error bound (TRUE
# columns); Spark really computes the bound check, plus exact columns that
# cross-check values. A sketch regression flips the boolean -> hash mismatch.
# --------------------------------------------------------------------------
def _hll_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from puddsketch_spark.spark.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    est = hll_distinct(ev, "user_id", ["event_type"], p=14)
    exact = ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("exact_users"))
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (F.abs(F.col("est") - F.col("exact_users")) / F.col("exact_users") <= 0.05).alias(
                "hll_ok"
            ),
        )
    )


_HLL_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS hll_ok
FROM events GROUP BY event_type
"""


def _cms_event_type_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from puddsketch_spark.spark.sketches import cms_global

    ev = _t(spark, sf_dir, "events")
    cms = cms_global(ev, "event_type", depth=5, width=2048)
    exact = {r[0]: r[1] for r in ev.groupBy("event_type").count().collect()}
    types = sorted(exact)
    ests = cms.query(np.array(types, dtype=object))
    rows = [
        (
            t,
            int(exact[t]),
            bool(e >= exact[t]),
            bool(e <= exact[t] + cms.eps * cms.total),
        )
        for t, e in zip(types, ests)
    ]
    return spark.createDataFrame(
        rows, "event_type string, exact_n long, cms_ge_exact boolean, cms_le_bound boolean"
    )


_CMS_SQL = """
SELECT event_type, COUNT(*) AS exact_n, TRUE AS cms_ge_exact, TRUE AS cms_le_bound
FROM events GROUP BY event_type
"""


def _bloom_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom membership contract, verified DISTRIBUTED: the filter bytes
    broadcast to executors, which probe every present key (all distinct
    o_custkey — zero false negatives allowed) and every absent key
    (customer keys shifted past the key range — false-positive rate) in
    Arrow batches. Nothing unbounded reaches the driver; only the four
    aggregate counters come back — the probe shape a 1000-executor run
    would use."""
    from puddsketch_spark.spark.sketches import bloom_global

    orders = _t(spark, sf_dir, "orders")
    bf = bloom_global(orders, "o_custkey", num_bits=1 << 20, num_hashes=7)
    bf_bytes = spark.sparkContext.broadcast(bf.to_bytes())

    def _probe(col: str, shift: int):
        def gen(batches):
            import numpy as np
            import pandas as pd

            from puddsketch_spark.core import BloomFilter

            b = BloomFilter.from_bytes(bf_bytes.value)
            for pdf in batches:
                keys = pdf[col].to_numpy(dtype=np.int64) + shift
                yield pd.DataFrame(
                    {"n": [len(keys)], "hits": [int(b.contains(keys).sum())]}
                )

        return gen

    present = (
        orders.select("o_custkey").distinct()
        .mapInPandas(_probe("o_custkey", 0), "n long, hits long")
        .agg(F.sum("n").alias("n"), F.sum("hits").alias("hits"))
        .collect()[0]
    )
    absent = (
        _t(spark, sf_dir, "customer").select("c_custkey")
        .mapInPandas(_probe("c_custkey", 10_000_000), "n long, hits long")
        .agg(F.sum("n").alias("n"), F.sum("hits").alias("hits"))
        .collect()[0]
    )
    fp = (absent["hits"] / absent["n"]) if absent["n"] else 0.0
    row = (
        int(present["n"]),
        bool(present["hits"] == present["n"]),
        int(absent["n"]),
        bool(fp <= 0.02),
    )
    return spark.createDataFrame(
        [row], "n_present long, present_all_hit boolean, n_absent long, fpr_ok boolean"
    )


_BLOOM_SQL = """
SELECT COUNT(DISTINCT o_custkey) AS n_present, TRUE AS present_all_hit,
       (SELECT COUNT(*) FROM customer) AS n_absent, TRUE AS fpr_ok
FROM orders
"""


def _heavy_hitters_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over event_type via the distributed
    pipeline. With distinct keys <= k no decrements ever happen, so the
    sketch counts are EXACT and the SQL oracle is plain GROUP BY COUNT."""
    from puddsketch_spark.core import MisraGries
    from puddsketch_spark.spark.agg import sketch_global

    ev = _t(spark, sf_dir, "events")
    sk = sketch_global(ev, "event_type", lambda: MisraGries(k=64),
                       MisraGries.from_bytes)
    rows = sorted((str(k), int(c)) for k, c in sk.counters.items())
    return spark.createDataFrame(
        [(k, c, int(sk.err)) for k, c in rows],
        "event_type string, est_count long, err long",
    )


_HH_SQL = """
SELECT event_type, COUNT(*) AS est_count, 0 AS err
FROM events GROUP BY event_type
"""


def _heavy_hitters_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries where decrements really happen: o_custkey has far more
    distinct keys than k=64, so err > 0. Which sub-threshold keys survive is
    merge-order dependent, so the output reports only order-INVARIANT facts,
    each verified exactly in a second distributed Spark pass:
      * bracket: count_lo <= true_count <= count_lo + err for every retained key
      * superset: every key with true frequency > n/(k+1) is retained
      * retained <= k, err > 0, and the exact n anchor."""
    from puddsketch_spark.core import MisraGries
    from puddsketch_spark.spark.agg import sketch_global

    k = 64
    orders = _t(spark, sf_dir, "orders")
    # ONE Tungsten aggregation feeds EVERYTHING: the exact per-key counts
    # (bracket verify, n anchor, superset threshold) AND, new this round,
    # the MG fill itself via the weighted-update path — the sketch sees
    # |distinct customers| (key, count) rows instead of every order row,
    # and the orders table is scanned exactly once (guide §2.3 "aggregate
    # before you shuffle"). Weighted MG is bound-preserving (merge-order
    # changes which sub-threshold keys survive, but every reported fact is
    # order-invariant, exactly as before).
    counts = orders.groupBy("o_custkey").count().persist()
    sk = sketch_global(counts, "o_custkey", lambda: MisraGries(k=k),
                       MisraGries.from_bytes, weight_col="count")
    retained = {int(key): int(c) for key, c in sk.counters.items()}
    # n = MG's own total inserted weight == SUM(count) == COUNT(*) of
    # orders (o_custkey is non-null; MG never decrements total) — the
    # separate SUM job the gate used to run re-derived a number the fill
    # already carries (r7: one distributed job removed, value identical,
    # pinned by tests/test_heavyhitters.py::test_weighted_total_is_n)
    n = int(sk.total)
    # ONE bounded collect serves BOTH verify arms: retained keys (<= 64)
    # for the bracket check plus every key above the n/(k+1) guarantee
    # threshold (<= k such keys by definition) for the superset check —
    # previously two separate jobs over the cached counts
    rkeys = list(retained)
    audit = counts.where(
        F.col("o_custkey").isin(rkeys) | (F.col("count") > F.lit(n / (k + 1)))
    ).collect()
    exact = {r[0]: r[1] for r in audit if r[0] in retained}
    bracket_ok = all(
        retained[key] <= exact.get(key, 0) <= retained[key] + sk.err
        for key in retained
    )
    # every key above the n/(k+1) guarantee threshold must be retained
    missed = sum(
        1 for r in audit if r[1] > n / (k + 1) and r[0] not in retained
    )
    counts.unpersist()
    return spark.createDataFrame(
        [(k, int(n), bool(len(retained) <= k), bool(sk.err > 0),
          bool(bracket_ok), bool(missed == 0))],
        "k int, n long, retained_le_k boolean, err_positive boolean, "
        "bracket_ok boolean, superset_ok boolean",
    )


_HH_CUST_SQL = """
SELECT 64 AS k, COUNT(*) AS n, TRUE AS retained_le_k, TRUE AS err_positive,
       TRUE AS bracket_ok, TRUE AS superset_ok
FROM orders
"""


def _range_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven equal-frequency range partitioning (the deterministic
    replacement for repartitionByRange's reservoir sample): one signed-
    sketch pass picks 16 bucket bounds over events.value, and the row
    reports order-invariant facts each verified exactly in Spark:
      * n: exact non-null row count (anchors the oracle)
      * balance_ok: heaviest/lightest bucket share within [0.5, 1.5]x of
        the ideal 1/16 (alpha=0.005 bounds; no atom > 1/16 in this column)
      * monotonic: per-bucket [min,max] value envelopes are disjoint and
        ordered — the range-partition contract
      * deterministic: bounds recomputed from a different physical layout
        of the same rows are float-identical (merge-order invariance)
      * restore_identical: bounds recomputed from the SERIALIZED sketch
        state round-tripped through to_bytes/from_bytes are float-identical
        to the fresh fill — the incremental-ingest path
        (sketch_range_bounds(sketch=...) reusing a checkpointed state
        instead of rescanning the corpus), gate-checked here (VERDICT r5
        item 6: it was pytest-only)."""
    from puddsketch_spark.core.ddsketch import DDSketchPair
    from puddsketch_spark.spark.agg import sketch_global
    from puddsketch_spark.spark.partitioning import (
        bucket_balance, sketch_range_bounds,
    )

    p = 16
    events = _t(spark, sf_dir, "events")
    # NOT repartitioned: measured r7, a round-robin repartition of 1M rows
    # costs ~1.5s (local sort + row serialization) — more than the 32-way
    # parallelism saves on this numeric fill. Row shuffles only pay for
    # themselves when the per-row downstream work is heavy (string/gram
    # queries); see OPTIMIZATION_r07.md.
    # two independent fills total: s1 (bounds b1, also audited by
    # bucket_balance, which reuses them instead of refilling) and b2 on a
    # different physical layout; the restore path pays NO fill — bounds come
    # from the serde-round-tripped s1 state, exactly how an incremental
    # ingest would reuse yesterday's checkpointed sketch
    s1 = sketch_global(
        events, "value", lambda: DDSketchPair(initial_alpha=0.005, m=4096),
        DDSketchPair.from_bytes,
    )
    b1 = sketch_range_bounds(events, "value", p, sketch=s1)
    b_restored = sketch_range_bounds(
        events, "value", p, sketch=DDSketchPair.from_bytes(s1.to_bytes())
    )
    row = bucket_balance(events, "value", p, bounds=b1).first()
    b2 = sketch_range_bounds(events.repartition(5, "event_id"), "value", p)
    ideal = 1.0 / p
    return spark.createDataFrame(
        [(p, int(row.n),
          bool(row.max_share <= 1.5 * ideal and row.min_share >= 0.5 * ideal),
          bool(row.monotonic), bool(b1 == b2), bool(b1 == b_restored))],
        "num_buckets int, n long, balance_ok boolean, monotonic boolean, "
        "deterministic boolean, restore_identical boolean",
    )


_RANGE_PART_SQL = """
SELECT 16 AS num_buckets,
       -- same population as bucket_balance's n: NULL AND NaN rows go to
       -- the sentinel bucket and are excluded from the share accounting
       CAST(COUNT(*) FILTER (WHERE value IS NOT NULL AND NOT isnan(value))
            AS BIGINT) AS n,
       TRUE AS balance_ok, TRUE AS monotonic, TRUE AS deterministic,
       TRUE AS restore_identical
FROM events
"""


def _source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (ops/quota.py::cap_per_group — the C4-style
    domain-cap curation step), exercised through the SALTED two-phase
    skew path so the gate pins the scale route, not just the plain
    window: keep the 10 longest docs per source (doc_id tiebreak), then
    report exact per-source survivors — count, id-sum, char extrema —
    hash-matched against DuckDB's ROW_NUMBER re-derivation."""
    from puddsketch_spark.ops.quota import cap_per_group

    doc = _t(spark, sf_dir, "documents")
    kept = cap_per_group(
        doc, ["source"], 10, [F.col("n_chars").desc(), "doc_id"],
        salt_buckets=8,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
        )
        .orderBy("source")
    )


_SOURCE_QUOTA_SQL = """
WITH ranked AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars
FROM ranked WHERE rn <= 10
GROUP BY source ORDER BY source
"""


def _rank_check(
    spark: SparkSession, sf_dir: str, kind: str, tol: float,
    qs: tuple = None, hra: bool = True,
) -> DataFrame:
    """Global quantile sketch over l_extendedprice; verify rank error of each
    estimate exactly in a second Spark pass."""
    from puddsketch_spark.spark.sketches import kll_quantiles, tdigest_quantiles

    qs = _QS if qs is None else qs
    li = _t(spark, sf_dir, "lineitem")
    if kind == "req":
        from puddsketch_spark.core import REQSketch
        from puddsketch_spark.spark.agg import sketch_global

        sk = sketch_global(li, "l_extendedprice", lambda: REQSketch(k=64, hra=hra),
                           REQSketch.from_bytes)
        ests = {q: sk.quantile(q) for q in qs}
    else:
        fn = kll_quantiles if kind == "kll" else tdigest_quantiles
        ests = {r.q: r.est for r in fn(li, "l_extendedprice", (), qs).collect()}
    checks = [
        F.avg((F.col("l_extendedprice") <= F.lit(ests[q])).cast("double")).alias(f"r{i}")
        for i, q in enumerate(qs)
    ]
    ranks = li.agg(*checks).first()
    rows = [
        (float(q), bool(abs(ranks[f"r{i}"] - q) <= tol)) for i, q in enumerate(qs)
    ]
    return spark.createDataFrame(rows, "q double, rank_ok boolean")


def _kll_price_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rank_check(spark, sf_dir, "kll", tol=0.03)


def _tdigest_price_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rank_check(spark, sf_dir, "tdigest", tol=0.02)


def _req_price_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HRA: tolerance scales with (1-q); 0.35*(1-q) + slack at n=60k
    return _rank_check(spark, sf_dir, "req", tol=0.01)


def _req_price_rank_lra(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LRA (reference req_sketch.hpp HRA/LRA flag): protect-the-bottom
    # compaction, so rank error scales with q — checked at LOW quantiles
    return _rank_check(spark, sf_dir, "req", tol=0.01,
                       qs=(0.001, 0.01, 0.1, 0.5), hra=False)


_RANK_SQL = """
SELECT q, TRUE AS rank_ok
FROM (VALUES (0.5e0),(0.9e0),(0.99e0),(0.999e0)) AS t(q)
"""

_RANK_LRA_SQL = """
SELECT q, TRUE AS rank_ok
FROM (VALUES (0.001e0),(0.01e0),(0.1e0),(0.5e0)) AS t(q)
"""


# --------------------------------------------------------------------------
# training-data pipeline ops (documents)
# --------------------------------------------------------------------------
def _dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash: survivors = min doc_id per md5(text)."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("h", F.md5("text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("h").alias("n_unique"),
            (F.count(F.lit(1)) - F.count_distinct("h")).alias("n_dupes"),
        )
    )


_DEDUP_SQL = """
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
FROM documents GROUP BY source
"""


def _normalized_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup on NORMALIZED text: formatting-perturbed copies (uppercased,
    punctuated) must collapse onto their originals after normalize_text."""
    from puddsketch_spark.ops.text import normalize_text

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("!!!")).alias("text"),
    )
    both = d.union(perturbed).withColumn("text_norm", normalize_text("text"))
    return both.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("text_norm").alias("n_norm_unique"),
        F.count_distinct(F.md5("text")).alias("n_raw_unique"),
    )


_NORM_SQL = """
WITH doubled AS (
  SELECT text FROM documents
  UNION ALL SELECT upper(text) || '!!!' FROM documents
),
n AS (
  SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS text_norm,
         md5(text) AS raw_h
  FROM doubled
)
SELECT COUNT(*) AS n_docs, COUNT(DISTINCT text_norm) AS n_norm_unique,
       COUNT(DISTINCT raw_h) AS n_raw_unique
FROM n
"""


def _doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + type/token stats per language."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("n_types"),
        F.length("text").alias("n_chars_calc"),
    )
    return toks.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_types").alias("total_types"),
        F.sum("n_chars_calc").alias("total_chars"),
    )


_TOKEN_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS total_types,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def _ddsketch_signed_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch pair over a mixed-sign feature (events.value - 50) via the
    JVM Tungsten-histogram fill (bucket-identical to the Arrow engine at
    m=0, pinned in tests/test_spark_agg.py); oracle re-derives the
    three-way sign split + ordered walk in SQL, bit-for-bit."""
    from puddsketch_spark.spark.agg import dd_sketch_global_jvm

    ev = _t(spark, sf_dir, "events").select((F.col("value") - F.lit(50.0)).alias("v"))
    sk = dd_sketch_global_jvm(ev, "v", alpha=_A, m=0)
    qs = (0.01, 0.1, 0.5, 0.9, 0.99)
    rows = [(float(q), float(sk.quantile(q)), int(sk.count)) for q in qs]
    return spark.createDataFrame(rows, "q double, est double, n long")


_DD_SQL = f"""
WITH vals AS (SELECT value - 50.0e0 AS v FROM events WHERE NOT isnan(value)),
keyed AS (
  SELECT CASE WHEN abs(v) < 2.2250738585072014e-308 THEN 0
              WHEN v > 0 THEN 1 ELSE -1 END AS s,
         CASE WHEN abs(v) >= 2.2250738585072014e-308
              THEN CAST(ceil(ln(abs(v))/ln({_G_SQL})) AS BIGINT) ELSE 0 END AS k
  FROM vals
),
b AS (SELECT s, k, COUNT(*) AS c FROM keyed GROUP BY s, k),
o AS (SELECT s, k, c, SUM(c) OVER (ORDER BY s ASC, s*k ASC) AS cumc FROM b),
nn AS (SELECT COUNT(*) AS n FROM keyed),
qs AS (SELECT * FROM (VALUES (0.01e0),(0.1e0),(0.5e0),(0.9e0),(0.99e0)) AS t(q))
SELECT qs.q AS q,
       (SELECT CASE WHEN o.s = 0 THEN 0.0e0
                    ELSE o.s * power({_G_SQL}, o.k)
                         * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) END
        FROM o, nn
        WHERE o.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT)
        ORDER BY o.s ASC, o.s*o.k ASC LIMIT 1) AS est,
       nn.n AS n
FROM qs CROSS JOIN nn
"""


def _dd_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED signed DDSketch quantiles (dd_quantiles: Tungsten signed
    histogram per (group, sign, key) -> one key-run stage assembling and
    finalizing each group) over the same mixed-sign feature, by
    event_type. m=0 (no collapse) keeps every bucket, so the oracle replays
    the per-group sign-split rank walk bit-for-bit."""
    from puddsketch_spark.spark.sketches import dd_quantiles

    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("value") - F.lit(50.0)).alias("v")
    ).where(~F.isnan("v"))
    out = dd_quantiles(ev, "v", ["event_type"], qs=(0.1, 0.5, 0.9),
                       alpha=_A, bound=0, collapse_mode="uniform")
    return out.select("event_type", "q", "est", "q0", "q1", "alpha_now")


_DD_GROUPED_SQL = f"""
WITH vals AS (
  SELECT event_type AS g, value - 50.0e0 AS v FROM events WHERE NOT isnan(value)
),
keyed AS (
  SELECT g,
         CASE WHEN abs(v) < 2.2250738585072014e-308 THEN 0
              WHEN v > 0 THEN 1 ELSE -1 END AS s,
         CASE WHEN abs(v) >= 2.2250738585072014e-308
              THEN CAST(ceil(ln(abs(v))/ln({_G_SQL})) AS BIGINT) ELSE 0 END AS k
  FROM vals
),
b AS (SELECT g, s, k, COUNT(*) AS c FROM keyed GROUP BY g, s, k),
o AS (SELECT g, s, k, c,
             SUM(c) OVER (PARTITION BY g ORDER BY s ASC, s*k ASC) AS cumc
      FROM b),
nn AS (SELECT g, COUNT(*) AS n FROM keyed GROUP BY g),
qs AS (SELECT * FROM (VALUES (0.1e0),(0.5e0),(0.9e0)) AS t(q))
SELECT nn.g AS event_type, qs.q AS q,
       (SELECT CASE WHEN o.s = 0 THEN 0.0e0
                    ELSE o.s * power({_G_SQL}, o.k)
                         * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) END
        FROM o
        WHERE o.g = nn.g AND o.cumc > CAST(floor(qs.q * (nn.n - 1)) AS BIGINT)
        ORDER BY o.s ASC, o.s*o.k ASC LIMIT 1) AS est,
       0.0e0 AS q0, 1.0e0 AS q1,
       ({_G_SQL} - 1.0e0) / ({_G_SQL} + 1.0e0) AS alpha_now
FROM qs CROSS JOIN nn
"""


def _ddog_grouped_window_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED DDOG trash-bin collapse through dd_quantiles (one fold of
    each group's bucket table): a small bound forces pair collapses per
    group, then a second EXACT pass verifies the reference contract — every
    estimate at a quantile INSIDE the reported accurate window [q0, q1] is
    within alpha_now relative error of the exact order statistic
    (ParallelSketcher.cc:920-1028 bookkeeping). Quantiles outside the
    window carry no guarantee and pass trivially. The window itself depends
    on the fold history (an incremental fill folds differently), so the
    oracle checks the guaranteed FACTS (exact n, bound holds) rather than
    the window bounds."""
    from pyspark.sql import Window

    from puddsketch_spark.spark.sketches import dd_quantiles

    qs = (0.25, 0.5, 0.75, 0.9)
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("value").alias("v")
    ).where(F.col("v") > 0)
    rep = {
        (r.event_type, r.q): r
        for r in dd_quantiles(ev, "v", ["event_type"], qs=qs, alpha=_A,
                              bound=32, collapse_mode="ddog_low").collect()
    }
    # exact order statistics at rank floor(q*(n-1)) per group (verification
    # pass — the expensive exact scan is the point of the check)
    w = Window.partitionBy("event_type").orderBy("v")
    ranked = ev.withColumn("_rn", F.row_number().over(w) - 1)
    counts = {r.event_type: r.n
              for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    want = {(g, q): int(q * (n - 1)) for g, n in counts.items() for q in qs}
    # fetch only the ~20 needed ranks
    cond = None
    for (g, q), rk in want.items():
        c = (F.col("event_type") == g) & (F.col("_rn") == rk)
        cond = c if cond is None else (cond | c)
    picked = ranked.where(cond).select("event_type", "_rn", "v").collect()
    by_rank = {(r.event_type, r._rn): r.v for r in picked}
    rows = []
    for g, n in sorted(counts.items()):
        for q in qs:
            r = rep[(g, float(q))]
            x = by_rank[(g, want[(g, q)])]
            inside = r.q0 <= q <= r.q1
            ok = (not inside) or abs(r.est - x) <= r.alpha_now * abs(x) + 1e-12
            rows.append((g, float(q), int(n), bool(ok)))
    return spark.createDataFrame(
        rows, "event_type string, q double, n long, bound_ok boolean"
    )


_DDOG_GROUPED_SQL = """
SELECT e.event_type AS event_type, t.q AS q,
       CAST(COUNT(*) AS BIGINT) AS n, TRUE AS bound_ok
FROM events e
CROSS JOIN (VALUES (0.25e0),(0.5e0),(0.75e0),(0.9e0)) AS t(q)
WHERE e.value > 0
GROUP BY e.event_type, t.q
"""


_DDOG_BOUND = 128


def _ddsketch_ddog_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDOG pair-collapse (both LowBins and HighBins flavors,
    ArraySketch.cc:212-443) exercised deterministically: the fill is the JVM
    Tungsten bucket histogram (bit-exact global key counts), then ONE batch
    fold to the bound per mode, then quantiles + the [q0, q1] accurate-range
    report (ParallelSketcher.cc:920-1028). The oracle replays the edge fold
    (excess bins merge into the boundary bin) and the rank walk bit-for-bit."""
    from puddsketch_spark.core.ddsketch import DDSketchPair
    from puddsketch_spark.spark.agg import udds_sketch_global_jvm

    # prices are positive: the m=0 UDD histogram is the pair's positive store
    hist = udds_sketch_global_jvm(_t(spark, sf_dir, "lineitem"), "l_extendedprice", _A, 0)
    rows = []
    qs = (0.01, 0.5, 0.9, 0.99)
    for mode in ("ddog_low", "ddog_high"):
        sk = DDSketchPair.from_bucket_table(
            _A, _DDOG_BOUND, 0, hist.keys, hist.counts, collapse_mode=mode
        )
        q0, q1 = sk.accurate_range()
        fence = sk.fence_pos
        for q in qs:
            rows.append((
                mode, float(q), float(sk.quantile(q)), int(sk.count),
                int(sk.num_buckets), None if fence is None else int(fence),
                float(q0), float(q1),
            ))
    return spark.createDataFrame(
        rows,
        "mode string, q double, est double, n long, n_buckets int, "
        "fence_key long, q0 double, q1 double",
    )


_DDOG_SQL = f"""
WITH keyed AS (
  SELECT CAST(ceil(ln(l_extendedprice)/ln({_G_SQL})) AS BIGINT) AS k
  FROM lineitem WHERE l_extendedprice >= 2.2250738585072014e-308
),
b AS (SELECT k, COUNT(*) AS c FROM keyed GROUP BY k),
meta AS (SELECT COUNT(*) AS nb, SUM(c) AS n,
                greatest(COUNT(*) - {_DDOG_BOUND}, 0) AS f FROM b),
r AS (SELECT k, c, row_number() OVER (ORDER BY k) AS rn FROM b),
modes AS (SELECT * FROM (VALUES ('ddog_low'), ('ddog_high')) AS t(mode)),
-- the fold target: LowBins merges the lowest f+1 bins into the (f+1)-th key,
-- HighBins merges the highest f+1 bins into the (nb-f)-th key
fences AS (
  SELECT m.mode,
         CASE WHEN meta.f = 0 THEN NULL
              WHEN m.mode = 'ddog_low'
              THEN (SELECT k FROM r WHERE r.rn = meta.f + 1)
              ELSE (SELECT k FROM r WHERE r.rn = meta.nb - meta.f) END AS fence_key
  FROM modes m CROSS JOIN meta
),
fb AS (
  SELECT fe.mode,
         CASE WHEN fe.fence_key IS NULL THEN r.k
              WHEN fe.mode = 'ddog_low' AND r.rn <= meta.f + 1 THEN fe.fence_key
              WHEN fe.mode = 'ddog_high' AND r.rn >= meta.nb - meta.f THEN fe.fence_key
              ELSE r.k END AS k2,
         r.c
  FROM r CROSS JOIN meta JOIN fences fe ON TRUE
),
g AS (SELECT mode, k2 AS k, SUM(c) AS c FROM fb GROUP BY mode, k2),
cum AS (SELECT mode, k, c, SUM(c) OVER (PARTITION BY mode ORDER BY k) AS cumc FROM g),
qs AS (SELECT * FROM (VALUES (0.01e0),(0.5e0),(0.9e0),(0.99e0)) AS t(q))
SELECT fe.mode AS mode, qs.q AS q,
       power({_G_SQL},
             (SELECT MIN(k) FROM cum
              WHERE cum.cumc > CAST(floor(qs.q * (meta.n - 1)) AS BIGINT)
                AND cum.mode = fe.mode))
         * (1.0e0 - ({_G_SQL} - 1.0e0)/({_G_SQL} + 1.0e0)) AS est,
       CAST(meta.n AS BIGINT) AS n,
       CAST(least(meta.nb, {_DDOG_BOUND}) AS INT) AS n_buckets,
       fe.fence_key AS fence_key,
       CASE WHEN fe.mode = 'ddog_low' AND fe.fence_key IS NOT NULL
            THEN (SELECT c FROM g WHERE g.mode = fe.mode AND g.k = fe.fence_key) / (1.0 * meta.n)
            ELSE 0.0e0 END AS q0,
       CASE WHEN fe.mode = 'ddog_high' AND fe.fence_key IS NOT NULL
            THEN 1.0e0 - (SELECT c FROM g WHERE g.mode = fe.mode AND g.k = fe.fence_key) / (1.0 * meta.n)
            ELSE 1.0e0 END AS q1
FROM fences fe CROSS JOIN meta CROSS JOIN qs
"""


# --------------------------------------------------------------------------
# dedup / similarity / text-analysis operators
# --------------------------------------------------------------------------
def _ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram jaccard pairs within a doubled corpus (each doc +
    an exact copy), so the expected pair set is known: every (id, id+offset)
    pair at jaccard 1.0, plus any organic near-dups."""
    from puddsketch_spark.ops.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.union(d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    pairs = ngram_jaccard_pairs(doubled, n=3, threshold=0.8)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


_NGRAM_SQL = """
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM doubled),
grams_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
),
-- mirror of the operator's max_df cap (default 10000; a no-op at this corpus
-- size, kept so oracle and operator share one gram-universe definition)
grams AS (
  SELECT doc_id, gram FROM grams_all
  QUALIFY COUNT(*) OVER (PARTITION BY gram) <= 10000
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
inter AS (
  SELECT g1.doc_id AS a, g2.doc_id AS b, COUNT(*) AS i
  FROM grams g1 JOIN grams g2 USING (gram)
  WHERE g1.doc_id < g2.doc_id
  GROUP BY g1.doc_id, g2.doc_id
)
SELECT a, b, round(i / (sa.sz + sb.sz - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE i / (sa.sz + sb.sz - i) >= 0.8
"""


def _profile_events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUMMARIZE-style table profile from the sketch family in a constant
    number of jobs (one null-count agg + four stacked grouped fills:
    moments, UDD quantiles, theta, Misra-Gries). Exact fields (n, nulls, numeric
    min/max/mean) are oracle-replayed directly; the theta distinct estimate
    is flag-checked against the exact count with the sqrt(n/theta) error
    model (exact-mode, hence integer-exact, at sf0.01 cardinalities)."""
    import math

    from puddsketch_spark.ops.profile import profile_table

    ev = _t(spark, sf_dir, "events")
    cols = ["user_id", "event_type", "value"]
    prof = profile_table(ev, cols, theta_k=8192)

    exact = ev.agg(
        *[F.count_distinct(c).alias(c) for c in cols]
    ).first()

    def ok(r) -> bool:
        x = exact[r.column]
        if r.distinct_exact_mode:
            return r.distinct_est == float(x)
        # estimation mode: theta_frac ~ k/x  =>  std ~ sqrt(x/theta) = x/sqrt(k)
        return abs(r.distinct_est - x) <= 6.0 * x / math.sqrt(8192) + 1

    rows = [
        (
            r.column, r.n, r.n_null, int(exact[r.column]), bool(ok(r)),
            round(r.mean, 4) if r.mean is not None else None,
            r.vmin, r.vmax,
        )
        for r in prof.collect()
    ]
    return spark.createDataFrame(
        rows,
        "column string, n long, n_null long, exact_distinct long, "
        "distinct_ok boolean, mean_4 double, vmin double, vmax double",
    )


_PROFILE_SQL = """
SELECT 'user_id' AS column, COUNT(*) AS n,
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT user_id) AS exact_distinct, TRUE AS distinct_ok,
       round(AVG(user_id), 4) AS mean_4,
       CAST(MIN(user_id) AS DOUBLE) AS vmin, CAST(MAX(user_id) AS DOUBLE) AS vmax
FROM events
UNION ALL
SELECT 'event_type', COUNT(*),
       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT event_type), TRUE, NULL, NULL, NULL
FROM events
UNION ALL
SELECT 'value', COUNT(*),
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT value), TRUE, round(AVG(value), 4),
       MIN(value), MAX(value)
FROM events
"""


def _range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join driver query: events joined to OVERLAPPING value
    bands (a point can match several intervals), aggregated per band. The
    operator grids the domain so the range predicate becomes an equi-join
    on buckets + exact filter (tests/test_joins.py cross-checks the pair
    set against DuckDB's BETWEEN join); the oracle here replays the plain
    BETWEEN join."""
    from puddsketch_spark.ops.joins import range_join

    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 25.0, 100.0), ("high", 75.0, 250.0),
         ("all", 0.0, 250.0)],
        "band string, start double, end double",
    )
    joined = range_join(ev.select("event_id", "value"), bands, "value",
                        bucket_width=25.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


_RANGEJOIN_SQL = """
WITH bands(band, bstart, bend) AS (
  VALUES ('low', 0.0, 50.0), ('mid', 25.0, 100.0), ('high', 75.0, 250.0),
         ('all', 0.0, 250.0)
)
SELECT band, COUNT(*) AS n, round(SUM(value), 2) AS sum_value
FROM events JOIN bands ON value >= bstart AND value < bend
GROUP BY band
"""


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document characteristic terms by smoothed tf-idf (top-3, ties
    broken by term). One explode + two hash aggs + broadcast vocabulary +
    per-doc window; DuckDB replays the identical closed form."""
    from puddsketch_spark.ops.text import top_terms_tfidf

    # single-split scan: spread the tokenize+explode across cores (§2.5);
    # the doc count for the idf literal comes from the RAW parquet scan
    # (column-pruned count), not the repartitioned frame — counting that
    # would shuffle every document body just to count rows (r7)
    raw = _t(spark, sf_dir, "documents")
    d = raw.repartition(spark.sparkContext.defaultParallelism)
    out = top_terms_tfidf(d, k=3, n_docs=raw.count())
    return out.select(
        "doc_id", "rnk", "term", "tf", "df", F.round("weight", 6).alias("weight")
    )


_TFIDF_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM documents
),
w2 AS (SELECT doc_id, term FROM words WHERE length(term) > 0),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w2 GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents),
weighted AS (
  SELECT doc_id, term, tf, df,
         tf * (ln((n.n + 1.0) / (df + 1.0)) + 1.0) AS weight
  FROM tf JOIN dfreq USING (term), n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY weight DESC, term ASC) AS rnk
  FROM weighted
)
SELECT doc_id, rnk, term, tf, df, round(weight, 6) AS weight
FROM ranked WHERE rnk <= 3
"""


def _bloom_join_lineitem_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom runtime-filtered join: lineitem joined to the selective large
    parts subset (p_size >= 48). The library's distributed Bloom fill over
    the dim keys probes the fact scan MAP-SIDE, so the exchange carries
    only candidate rows (~selectivity + fpr); the exact join after the
    filter makes the result identical to the plain join, which the DuckDB
    oracle replays directly."""
    from puddsketch_spark.ops.joins import bloom_filtered_join

    li = _t(spark, sf_dir, "lineitem")
    dim = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_size") >= 48)
        .select(F.col("p_partkey").alias("l_partkey"), "p_type")
    )
    joined = bloom_filtered_join(li, dim, "l_partkey", fpr=0.01)
    return joined.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


_BLOOMJOIN_SQL = """
SELECT p_type, COUNT(*) AS n, round(SUM(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size >= 48
GROUP BY p_type
"""


def _moments_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass exact distribution-shape stats (Pébay mergeable moments):
    per-returnflag variance/skewness/kurtosis of l_extendedprice from the
    distributed sketch, checked to 1e-9 relative against Spark's own
    two-pass exact computation. The oracle replays n/min/max/mean exactly
    and the centered two-pass moments in SQL; the agreement flags are
    emitted TRUE on both sides (floats themselves would hash-flap at the
    last ulp across engines — the 4-decimal mean is the only raw float
    crossing the compare)."""
    from puddsketch_spark.spark.sketches import moments_stats

    li = _t(spark, sf_dir, "lineitem")
    # one Catalyst aggregation: Spark's central-moment aggregates merge
    # partials with the same Pébay formulas as MomentsSketch — no row
    # crosses the Python boundary; ~1e-13 agreement with the kernel fill
    mom = moments_stats(li, "l_extendedprice", ["l_returnflag"])

    # two-pass exact arm. Pass 1: per-flag means via a Tungsten aggregation
    # (3 tiny rows); pass 2: broadcast the means back and accumulate the
    # centered power sums with map-side partial aggregation. The previous
    # Window.partitionBy formulation shuffled EVERY lineitem row into 3
    # partitions (one per flag) and sorted them there — the definitional
    # skew anti-pattern (guide §2.5) and the whole query's cost.
    means = li.groupBy("l_returnflag").agg(
        F.avg("l_extendedprice").alias("_mu")
    )
    centered = li.join(F.broadcast(means), "l_returnflag").select(
        "l_returnflag",
        (F.col("l_extendedprice") - F.col("_mu")).alias("c"),
    )
    exact = centered.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("xn"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.pow("c", 3)).alias("s3"),
        F.sum(F.pow("c", 4)).alias("s4"),
    ).select(
        "l_returnflag",
        (F.col("s2") / F.col("xn")).alias("xvar"),
        (F.sqrt("xn") * F.col("s3") / F.pow("s2", 1.5)).alias("xskew"),
        (F.col("xn") * F.col("s4") / (F.col("s2") * F.col("s2")) - 3.0).alias("xkurt"),
    )

    def close(a, b):
        return (F.abs(F.col(a) - F.col(b)) <= 1e-9 * F.greatest(F.abs(b), F.lit(1.0)))

    return (
        mom.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            F.round("mean", 4).alias("mean_4"),
            F.col("vmin").alias("min_price"),
            F.col("vmax").alias("max_price"),
            close("variance", "xvar").alias("var_ok"),
            close("skewness", "xskew").alias("skew_ok"),
            close("kurtosis", "xkurt").alias("kurt_ok"),
        )
    )


_MOMENTS_SQL = """
SELECT l_returnflag, COUNT(*) AS n,
       round(AVG(l_extendedprice), 4) AS mean_4,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       TRUE AS var_ok, TRUE AS skew_ok, TRUE AS kurt_ok
FROM lineitem GROUP BY l_returnflag
"""


def _boilerplate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level line dedup: documents re-lined into aligned 6-word
    chunks, then every line occurring in >2 distinct docs removed via the
    broadcast-probe path (hot hashes ship as one sorted array; document
    text never shuffles). Output: md5 of the reassembled text pins
    order-preserving reassembly bit-exactly against the SQL replay."""
    from puddsketch_spark.ops.boilerplate import dedup_lines

    d = _t(spark, sf_dir, "documents")
    # 1) spread the single-split scan before the CPU-heavy re-lining;
    # 2) tokenize into a projected column so the line transform references
    #    the token array instead of re-splitting text per line;
    # 3) keep the LINE ARRAY (dedup_lines accepts it — no join+re-split
    #    round trip) and localCheckpoint it so the df-count pass and the
    #    probe pass share ONE tokenize/re-line evaluation. localCheckpoint,
    #    not persist: it is scoped to this lineage, so repeated invocations
    #    recompute from parquet instead of hitting a plan-keyed cache.
    toks_df = d.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", F.split("text", " ").alias("_toks")
    )
    t = F.col("_toks")
    relined = toks_df.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.floor((F.size(t) - 1) / 6).cast("int")),
            lambda i: F.array_join(F.slice(t, i * 6 + 1, 6), " "),
        ).alias("text"),
    ).localCheckpoint(eager=False)
    out = dedup_lines(relined, max_doc_count=2, method="broadcast")
    return out.where(F.col("n_removed") > 0).select(
        "doc_id", "n_kept", "n_removed", F.md5("clean_text").alias("clean_md5")
    )


_BOILER_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
lines AS (
  SELECT doc_id, i AS pos, array_to_string(t[6*i+1 : 6*i+6], ' ') AS line
  FROM toks, UNNEST(generate_series(0, CAST(floor((len(t)-1)/6) AS BIGINT))) AS u(i)
),
freq AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM lines GROUP BY line),
kept AS (
  SELECT l.doc_id, l.pos, l.line FROM lines l JOIN freq f USING (line)
  WHERE f.df <= 2
),
rebuilt AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_total FROM lines GROUP BY doc_id)
SELECT t.doc_id, COALESCE(r.n_kept, 0) AS n_kept,
       t.n_total - COALESCE(r.n_kept, 0) AS n_removed,
       COALESCE(r.clean_md5, md5('')) AS clean_md5
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
WHERE t.n_total - COALESCE(r.n_kept, 0) > 0
"""


def _events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize the event stream (30-min inactivity gap per user) and roll
    up per user: session count, largest session, longest session duration.
    One keyed window + reused-shuffle agg (plan pinned in
    tests/test_sessions.py); oracle is the same two stacked window
    functions in DuckDB SQL."""
    from puddsketch_spark.ops.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    per = session_stats(ev, ts_col="ts", by=["user_id"], gap="INTERVAL 30 MINUTES")
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.max("dur_us").alias("max_session_dur_us"),
    )


_SESSION_SQL = """
WITH lagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM lagged
),
per AS (
  SELECT user_id, sid, COUNT(*) AS n,
         date_diff('microsecond', MIN(ts), MAX(ts)) AS dur
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n) AS max_session_events,
       MAX(dur) AS max_session_dur_us
FROM per GROUP BY user_id
"""


def _asof_error_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join driver query: every 'error' event matched to the same
    user's most recent prior (inclusive) 'click' event — one keyed window
    over the unioned sides, single shuffle (tests/test_asof.py pins the
    plan). Oracle: DuckDB's NATIVE ASOF JOIN, so the operator's semantics
    are checked against an independent engine's implementation of the same
    relational operator, not a re-derivation."""
    from puddsketch_spark.ops.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(errors, clicks, on="ts", by=["user_id"])
    # no-match rows surface as -1 (not NULL) so the hash compare is total-ordered
    return out.select(
        "event_id",
        "user_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(
            F.expr("timestampdiff(MICROSECOND, ts_r, ts)"), F.lit(-1)
        ).alias("gap_us"),
    )


_ASOF_SQL = """
SELECT e.event_id, e.user_id,
       COALESCE(c.event_id, -1) AS click_id,
       COALESCE(date_diff('microsecond', c.ts, e.ts), -1) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts >= c.ts
"""


def _decontam_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 4-gram with the
    'benchmark' slice (doc_id % 10 == 0) of the corpus, via the broadcast
    gram join (single doc pass; the Bloom pre-filter path exists for gram
    sets too big to broadcast exactly and is pinned result-identical in
    tests/test_ops.py). DuckDB replays the count with a plain gram join."""
    from puddsketch_spark.ops.decontam import flag_contaminated

    d = _t(spark, sf_dir, "documents")
    # single-file tables scan as one split; the gram explode is the CPU cost,
    # so spread it across the cores before tokenizing (guide §2.5 input skew)
    par = spark.sparkContext.defaultParallelism
    bench = d.where(F.col("doc_id") % 10 == 0).repartition(par)
    docs = d.where(F.col("doc_id") % 10 != 0).repartition(par)
    flagged = flag_contaminated(docs, bench, n=4, method="join")
    return flagged.where("contaminated").select("doc_id", "n_hit_grams")


_DECONTAM_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] AS gram
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 3, 0))) AS u(i)
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0),
docs AS (SELECT * FROM grams WHERE doc_id % 10 != 0)
SELECT doc_id, COUNT(*) AS n_hit_grams
FROM docs JOIN bench USING (gram)
GROUP BY doc_id
"""


def _cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from puddsketch_spark.ops.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).first().embedding
    top = cosine_topk(emb, q, k=10)
    return top.select("vec_id", F.round("cosine", 6).alias("cosine"))


_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))), 6) AS cosine
FROM embeddings, q
ORDER BY list_dot_product(CAST(embedding AS DOUBLE[]), qv)
         / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
            * sqrt(list_dot_product(qv, qv))) DESC, vec_id ASC
LIMIT 10
"""


def _doc_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from puddsketch_spark.ops.text import with_quality_score

    d = _t(spark, sf_dir, "documents")
    return (
        with_quality_score(d)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(F.min("quality"), 6).alias("min_quality"),
        )
    )


_QUALITY_SQL = """
WITH q AS (
  SELECT source,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^ ]', '', 'g')) AS n_space,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_sym
  FROM documents
), s AS (
  SELECT source,
    round(
      (CASE WHEN n_chars BETWEEN 50 AND 100000 THEN 1.0e0 ELSE 0.0e0 END) * 0.25
      + least((CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0e0 END) / 0.6e0, 1.0e0) * 0.35
      + (CASE WHEN (CASE WHEN n_chars = 0 THEN 0 ELSE n_space + 1 END) > 0
              AND ((n_chars - n_space) / (CASE WHEN n_chars = 0 THEN NULL ELSE n_space + 1 END))
                  BETWEEN 2.0e0 AND 12.0e0
         THEN 1.0e0 ELSE 0.0e0 END) * 0.2
      + (CASE WHEN (CASE WHEN n_chars > 0 THEN n_sym / n_chars ELSE 1.0e0 END) <= 0.1e0
         THEN 1.0e0 ELSE 0.0e0 END) * 0.2
    , 6) AS quality
  FROM q
)
SELECT source, COUNT(*) AS n_docs,
       round(AVG(quality), 6) AS avg_quality,
       round(MIN(quality), 6) AS min_quality
FROM s GROUP BY source
"""


def _lang_id_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted vs labeled language distribution (marker-based heuristic)."""
    from puddsketch_spark.ops.text import with_lang_id

    d = _t(spark, sf_dir, "documents")
    return (
        with_lang_id(d)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lang_sql() -> str:
    """DuckDB mirror of ops.text.with_lang_id: same \\s+ tokenizer, same
    distinct-marker intersection (both engines dedup the intersection), same
    first-max argmax order. Built from _LANG_MARKERS so the two can't drift."""
    from puddsketch_spark.ops.text import _LANG_MARKERS

    def lit(ms):
        return "[" + ",".join(f"'{m}'" for m in ms) + "]"

    langs = list(_LANG_MARKERS)
    score_cols = ",\n  ".join(
        f"len(list_intersect(toks, {lit(_LANG_MARKERS[lang])})) AS s_{lang}"
        for lang in langs
    )
    best = "greatest(" + ",".join(f"s_{lang}" for lang in langs) + ")"
    case = (
        f"CASE WHEN {best} <= 0 THEN 'und' "
        + " ".join(f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs)
        + " END"
    )
    return f"""
WITH t AS (SELECT lang, string_split_regex(lower(text), '\\s+') AS toks FROM documents),
s AS (SELECT lang,
  {score_cols}
FROM t)
SELECT lang, {case} AS lang_pred, COUNT(*) AS n FROM s GROUP BY lang, lang_pred
"""


def _doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (ops.text.with_repetition_stats) at
    word granularity (sep=' ' — the synthetic docs have no newlines, and
    word-level duplicate fraction is the same filter class). All Catalyst
    higher-order functions; fractions are raw double divisions of integer
    counts so the oracle's identical division hashes bit-equal."""
    from puddsketch_spark.ops.text import with_repetition_stats

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_repetition_stats(d, sep=" ").select(
        "doc_id", "n_units", "dup_unit_fraction", "dup_unit_char_fraction"
    )


_REPETITION_SQL = """
WITH u AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(trim(x)) > 0) AS units
  FROM documents
)
SELECT doc_id,
       CAST(len(units) AS INT) AS n_units,
       CASE WHEN len(units) > 0
            THEN 1.0e0 - CAST(len(list_distinct(units)) AS DOUBLE)
                         / CAST(len(units) AS DOUBLE)
            ELSE 0.0e0 END AS dup_unit_fraction,
       CASE WHEN list_sum(list_transform(units, x -> length(x))) > 0
            THEN 1.0e0
                 - CAST(list_sum(list_transform(list_distinct(units),
                                                x -> length(x))) AS DOUBLE)
                   / CAST(list_sum(list_transform(units,
                                                  x -> length(x))) AS DOUBLE)
            ELSE 0.0e0 END AS dup_unit_char_fraction
FROM u
"""


def _minhash_selfdup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall oracle: double the corpus with exact copies; every original
    must pair with its copy at est_jaccard 1.0."""
    from puddsketch_spark.ops.dedup import minhash_dedup_pairs, release_cached

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.union(d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    # single-file tables scan as 1-2 splits; spread the CPU-heavy shingling
    doubled = doubled.repartition(spark.sparkContext.defaultParallelism)
    # 8 bands x 8 rows: at threshold 0.9 the 16x4 geometry is far too
    # permissive (the synthetic corpus has high pairwise jaccard, so 4-row
    # bands collide for ~1.5% of ALL pairs -> ~750k junk candidates at
    # sf0.1); 8-row bands collide at j^8, cutting candidates ~50x while
    # exact duplicates (j=1.0) still match every band
    pairs = minhash_dedup_pairs(doubled, num_perm=64, bands=8, threshold=0.9)
    n_docs = d.count()
    n_self = pairs.where(
        (F.col("b") - F.col("a") == 1_000_000) & (F.col("est_jaccard") == 1.0)
    ).count()
    release_cached(pairs)
    return spark.createDataFrame(
        [(int(n_docs), int(n_self), bool(n_self == n_docs))],
        "n_docs long, n_self_pairs long, recall_ok boolean",
    )


_MINHASH_SQL = """
SELECT COUNT(*) AS n_docs, COUNT(*) AS n_self_pairs, TRUE AS recall_ok FROM documents
"""


def _simhash_selfdup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from puddsketch_spark.ops.dedup import release_cached, simhash_near_dups

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.union(d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    doubled = doubled.repartition(spark.sparkContext.defaultParallelism)
    pairs = simhash_near_dups(doubled, max_hamming=0)
    n_docs = d.count()
    n_self = pairs.where(F.col("b") - F.col("a") == 1_000_000).count()
    release_cached(pairs)
    return spark.createDataFrame(
        [(int(n_docs), int(n_self), bool(n_self == n_docs))],
        "n_docs long, n_self_pairs long, recall_ok boolean",
    )


def _dedup_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline on the doubled corpus: exact-content pairs ->
    connected components -> survivors. Deterministic oracle: survivors ==
    distinct text digests, and each component's min id is an original
    (copies carry +1M ids)."""
    from puddsketch_spark.ops.dedup import dedup_survivors

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.union(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    ).repartition(spark.sparkContext.defaultParallelism)
    hashed = doubled.select("doc_id", F.md5("text").alias("_h"))
    a = hashed.select(F.col("doc_id").alias("a"), "_h")
    b = hashed.select(F.col("doc_id").alias("b"), "_h")
    pairs = a.join(b, "_h").where(F.col("a") < F.col("b")).select("a", "b")
    surv = dedup_survivors(doubled, pairs)
    n_in = doubled.count()
    n_out = surv.count()
    all_original = surv.agg(F.max("doc_id")).first()[0] < 1_000_000
    return spark.createDataFrame(
        [(int(n_in), int(n_out), bool(all_original))],
        "n_input long, n_survivors long, all_original boolean",
    )


_SURVIVOR_SQL = """
SELECT 2 * COUNT(*) AS n_input, COUNT(DISTINCT md5(text)) AS n_survivors,
       TRUE AS all_original
FROM documents
"""


def _ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF vs exact top-k: fixed query (vec_id 7), TRAINED centroids
    (spherical k-means on a bounded deterministic sample — the production
    quantizer; random projections admit hot cells on clustered data),
    n_probe=10 of 12 cells (measured recall 1.0 on the driver data — the
    synthetic embeddings are near-uniform, so top-10 neighbors scatter
    across honest cells and a high probe ratio is the correct contract;
    the clustered-data regime where training pays off hard is
    pytest-covered on a skewed fixture,
    tests/test_ops.py::test_ivf_trained_centroids_balance_and_recall). The
    oracle recomputes the exact top-k side (rank/vec_id/cosine) and asserts
    every exact neighbor is found by IVF."""
    from puddsketch_spark.ops.similarity import (
        cosine_topk, ivf_assign, ivf_topk, kmeans_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, n_cells=12, sample_size=2048, iters=8, seed=42)
    assigned = ivf_assign(emb, cents)
    q = emb.where(F.col("vec_id") == 7).first().embedding
    exact = cosine_topk(emb, q, k=10).collect()  # already ordered desc, id asc
    approx = {r.vec_id for r in ivf_topk(assigned, cents, q, k=10, n_probe=10).collect()}
    rows = [
        (i + 1, int(r.vec_id), round(float(r.cosine), 6), bool(r.vec_id in approx))
        for i, r in enumerate(exact)
    ]
    return spark.createDataFrame(
        rows, "rank int, vec_id long, cosine double, ivf_hit boolean"
    )


_IVF_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 7),
scored AS (
  SELECT vec_id,
         list_dot_product(CAST(embedding AS DOUBLE[]), qv)
           / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
              * sqrt(list_dot_product(qv, qv))) AS cos
  FROM embeddings, q
)
SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS INT) AS rank,
       vec_id, round(cos, 6) AS cosine, TRUE AS ivf_hit
FROM scored
ORDER BY cos DESC, vec_id ASC
LIMIT 10
"""


def _multimodal_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over a documents-derived media table: kind split
    (video/image/audio by doc_id mod 3), per-kind decoder dispatch with
    poison-pill isolation (payload = first length(text) mod 17 chars — empty
    payloads must fail decode, not the task), and Catalyst-only video frame
    sampling. The oracle replays the kind split, the decode-ok rule, and the
    frame-midpoint arithmetic exactly."""
    from puddsketch_spark.ops.multimodal import (
        decode_and_featurize, fake_audio_decoder, fake_image_decoder,
        with_frame_samples,
    )

    d = _t(spark, sf_dir, "documents")
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "video")
        .when(F.col("doc_id") % 3 == 1, "image")
        .otherwise("audio")
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        "source",
        kind.alias("kind"),
        F.encode(F.expr("substring(text, 1, length(text) % 17)"), "utf-8").alias(
            "payload"
        ),
        (F.length("text") * 10).cast("int").alias("duration_ms"),
    )
    feats = decode_and_featurize(
        media.where(F.col("kind") != "video"),
        decoders={"image": fake_image_decoder, "audio": fake_audio_decoder},
    )
    dec = (
        feats.join(media.select("media_id", "source"), "media_id")
        .groupBy("source")
        .agg(
            F.sum(((F.col("kind") == "image") & F.col("decode_ok")).cast("long")).alias("n_img_ok"),
            F.sum(((F.col("kind") == "audio") & F.col("decode_ok")).cast("long")).alias("n_aud_ok"),
        )
    )
    frames = with_frame_samples(media.where(F.col("kind") == "video"), fps_target=1.0,
                                max_frames=32)
    fr = frames.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_frames"),
        F.sum(F.col("frame_ts_ms").cast("long")).alias("sum_frame_ts"),
    )
    base = media.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum((F.col("kind") == "video").cast("long")).alias("n_video"),
    )
    return (
        base.join(dec, "source", "left")
        .join(fr, "source", "left")
        .select(
            "source", "n_media",
            F.coalesce("n_img_ok", F.lit(0)).alias("n_img_ok"),
            F.coalesce("n_aud_ok", F.lit(0)).alias("n_aud_ok"),
            "n_video",
            F.coalesce("total_frames", F.lit(0)).alias("total_frames"),
            F.coalesce("sum_frame_ts", F.lit(0)).alias("sum_frame_ts"),
        )
    )


_MULTIMODAL_SQL = """
WITH m AS (
  SELECT doc_id, source, length(text) AS L, doc_id % 3 AS k,
         length(text) % 17 AS plen
  FROM documents
),
dec AS (
  SELECT source,
         COUNT(*) AS n_media,
         SUM(CASE WHEN k = 1 AND plen > 0 THEN 1 ELSE 0 END) AS n_img_ok,
         SUM(CASE WHEN k = 2 AND plen > 0 THEN 1 ELSE 0 END) AS n_aud_ok,
         SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS n_video
  FROM m GROUP BY source
),
v AS (
  SELECT source, L * 10 AS dur,
         least(32, greatest(1, CAST(floor(L * 10 / 1000.0 * 1.0) AS INT))) AS nf
  FROM m WHERE k = 0
),
f AS (
  SELECT source, (dur * 1.0 / nf) AS step, u.i AS i
  FROM v, UNNEST(generate_series(0, nf - 1)) AS u(i)
),
fr AS (
  SELECT source, COUNT(*) AS total_frames,
         CAST(SUM(CAST(floor(step * i + step / 2) AS BIGINT)) AS BIGINT) AS sum_frame_ts
  FROM f GROUP BY source
)
SELECT dec.source AS source, n_media,
       CAST(n_img_ok AS BIGINT) AS n_img_ok,
       CAST(n_aud_ok AS BIGINT) AS n_aud_ok,
       CAST(n_video AS BIGINT) AS n_video,
       COALESCE(total_frames, 0) AS total_frames,
       COALESCE(sum_frame_ts, 0) AS sum_frame_ts
FROM dec LEFT JOIN fr ON dec.source = fr.source
"""


def _curation_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation (ops.pipeline.curate_documents) over a corpus
    with planted formatting-perturbed copies (+1M ids, uppercased+punct —
    the normalized-exact stage must fold them) and junk documents (+2M ids,
    '#'-runs — the quality stage must drop them). fuzzy=False here so every
    stage is SQL-replayable; the fuzzy stage is pytest-covered."""
    from puddsketch_spark.ops.pipeline import curate_documents

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("!!!")).alias("text"),
    )
    junk = d.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.expr("repeat('#', CAST(doc_id % 30 AS INT))").alias("text"),
    )
    corpus = d.union(perturbed).union(junk)
    curated, stats = curate_documents(corpus, fuzzy=False, quality_threshold=0.5)
    agg = curated.agg(
        F.count(F.lit(1)).alias("n_curated_check"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
        F.max("doc_id").alias("max_id"),
    ).first()
    return spark.createDataFrame(
        [(
            int(stats["n_input"]), int(stats["n_after_exact"]),
            int(stats["n_curated"]), int(agg.total_tokens),
            float(agg.avg_quality), int(agg.max_id),
        )],
        "n_input long, n_after_exact long, n_curated long, total_tokens long, "
        "avg_quality double, max_id long",
    )


_CURATION_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, upper(text) || '!!!' FROM documents
  UNION ALL SELECT doc_id + 2000000, repeat('#', CAST(doc_id % 30 AS INT)) FROM documents
),
n AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS tnorm
  FROM corpus
),
keep AS (SELECT MIN(doc_id) AS doc_id FROM n GROUP BY md5(tnorm)),
e AS (SELECT n.doc_id, n.text FROM n JOIN keep USING (doc_id)),
q0 AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^ ]', '', 'g')) AS n_space,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_sym
  FROM e
),
q AS (
  SELECT doc_id, text,
    round(
      (CASE WHEN n_chars BETWEEN 50 AND 100000 THEN 1.0e0 ELSE 0.0e0 END) * 0.25
      + least((CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0e0 END) / 0.6e0, 1.0e0) * 0.35
      + (CASE WHEN (CASE WHEN n_chars = 0 THEN 0 ELSE n_space + 1 END) > 0
              AND ((n_chars - n_space) / (CASE WHEN n_chars = 0 THEN NULL ELSE n_space + 1 END))
                  BETWEEN 2.0e0 AND 12.0e0
         THEN 1.0e0 ELSE 0.0e0 END) * 0.2
      + (CASE WHEN (CASE WHEN n_chars > 0 THEN n_sym / n_chars ELSE 1.0e0 END) <= 0.1e0
         THEN 1.0e0 ELSE 0.0e0 END) * 0.2
    , 6) AS quality
  FROM q0
),
c AS (SELECT * FROM q WHERE quality >= 0.5)
SELECT (SELECT COUNT(*) FROM corpus) AS n_input,
       (SELECT COUNT(*) FROM e) AS n_after_exact,
       COUNT(*) AS n_curated,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(AVG(quality), 6) AS avg_quality,
       MAX(doc_id) AS max_id
FROM c
"""


def _stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-stratified sample (10 docs per source by md5
    rank); the oracle recomputes the identical ranks, so the driver checks
    the sampled ROWS, not just counts."""
    from puddsketch_spark.ops.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(d, ["source"], 10, id_col="doc_id", seed=7)


_STRAT_SQL = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '|' || '7') ASC, doc_id ASC
         ) AS rn
  FROM documents
) WHERE rn <= 10
"""


def _dataset_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted dataset mix (the training-mix primitive):
    quotas 5:3:2 over three sources, target 20 rows. Value-anchored by the
    per-source kept counts AND the sum of sampled ids (rank-exact)."""
    from puddsketch_spark.ops.sampling import weighted_mix

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    mixed = weighted_mix(
        d, "source", {"src0": 5.0, "src1": 3.0, "src2": 2.0},
        target_total=20, id_col="doc_id", seed=11,
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("sum_ids"),
    )


_MIX_SQL = """
WITH q AS (
  SELECT * FROM (VALUES ('src0', 10), ('src1', 6), ('src2', 4)) AS t(source, quota)
),
r AS (
  SELECT d.doc_id, d.source, q.quota,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR) || '|' || '11') ASC, d.doc_id ASC
         ) AS rn
  FROM documents d JOIN q USING (source)
)
SELECT source, COUNT(*) AS n_sampled, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM r WHERE rn <= quota GROUP BY source
"""

def _winnowing_dup_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (ops.text.winnowing_fingerprints) as a dup
    detector over a doubled corpus. The rolling hash isn't SQL-expressible,
    so the oracle checks the guaranteed FACTS: fingerprinting is a pure
    function of text, so distinct fingerprint SETS <= distinct texts, every
    doc gets >= 1 fingerprint (non-empty text), and every planted copy pair
    collides on its full fingerprint set (recall 1.0)."""
    from puddsketch_spark.ops.text import winnowing_fingerprints

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = d.union(
        d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    fp = winnowing_fingerprints(doubled, k=8, window=4)
    # canonical per-doc fingerprint-set digest: md5 of the sorted fp list
    sets = fp.groupBy("doc_id").agg(
        F.md5(F.concat_ws(",", F.array_sort(F.collect_list("fp")))).alias("fph"),
        F.count(F.lit(1)).alias("nfp"),
    )
    total_docs = doubled.count()
    agg = sets.agg(
        F.count(F.lit(1)).alias("docs_with_fps"),
        F.countDistinct("fph").alias("distinct_fp_sets"),
        F.min("nfp").alias("min_fps_per_doc"),
    ).first()
    n_texts = doubled.select("text").distinct().count()
    # planted recall: doc i and i+1M have identical text => identical digest
    a = sets.where(F.col("doc_id") < 1_000_000).select(
        F.col("doc_id").alias("i"), F.col("fph").alias("ha"))
    b = sets.where(F.col("doc_id") >= 1_000_000).select(
        (F.col("doc_id") - 1_000_000).alias("i"), F.col("fph").alias("hb"))
    matched = a.join(b, "i").where(F.col("ha") == F.col("hb")).count()
    # recall denominator = pairs where both sides CAN fingerprint (text
    # >= k chars); with the current corpus that's every pair, but deriving
    # it keeps driver and oracle in lockstep if a short doc ever appears
    rows = [(
        int(total_docs), int(agg.docs_with_fps),
        bool(agg.distinct_fp_sets <= n_texts),
        bool(agg.min_fps_per_doc >= 1),
        bool(matched == agg.docs_with_fps // 2),
    )]
    return spark.createDataFrame(
        rows, "total_docs long, docs_with_fps long, sets_le_texts boolean, "
              "all_docs_fingerprinted boolean, planted_recall_full boolean"
    )


_WINNOW_SQL = """
SELECT CAST(2 * COUNT(*) AS BIGINT) AS total_docs,
       -- a doc fingerprints iff it has >= 1 k-gram, i.e. len(text) >= k=8:
       -- derived from the same precondition the engine uses, so a future
       -- corpus with short docs fails loudly on BOTH sides, not just one
       CAST(2 * COUNT(*) FILTER (WHERE length(text) >= 8) AS BIGINT)
         AS docs_with_fps,
       TRUE AS sets_le_texts,
       TRUE AS all_docs_fingerprinted,
       TRUE AS planted_recall_full
FROM documents
"""

_PACK_BUDGET = 64


def _pack_sequences_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing (ops.sampling.pack_sequences) invariants.

    The BFD bin assignment is partition-dependent, so the oracle can't
    replay pack ids; instead the query emits what IS checkable: conservation
    (doc count, distinct docs, token sum — must equal the input's),
    feasibility (zero small packs over budget — packs are 'small' unless
    their doc is >= budget, which by construction packs as a singleton),
    and the BFD space bound as a boolean. The bound is the classic
    at-most-one-half-empty-bin argument applied per packer partition:
    n_small_packs <= floor(2 * small_tokens / budget) + n_partitions.
    """
    from puddsketch_spark.ops.sampling import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = pack_sequences(
        d, token_col="n_tokens", id_col="doc_id", budget=_PACK_BUDGET, seed=13
    )
    packs = packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tok"),
        F.max("n_tokens").alias("max_tok"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.sum("doc_id").alias("id_sum"),
    )
    small = F.col("max_tok") < _PACK_BUDGET
    rep = packs.agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum("n_distinct").alias("docs_packed"),
        F.sum("tok").alias("total_tokens"),
        F.sum("id_sum").alias("sum_doc_ids"),
        F.sum(F.when(~small, 1).otherwise(0)).alias("oversized_packs"),
        F.sum(F.when(small & (F.col("tok") > _PACK_BUDGET), 1).otherwise(0)).alias(
            "over_budget_small"
        ),
        F.sum(F.when(~small & (F.col("n_docs") > 1), 1).otherwise(0)).alias(
            "multi_doc_oversized"
        ),
        F.sum(F.when(small, 1).otherwise(0)).alias("_n_small"),
        F.sum(F.when(small, F.col("tok")).otherwise(0)).alias("_small_tok"),
        F.countDistinct(F.split(F.col("pack_id"), "-").getItem(0)).alias("_n_parts"),
    )
    return rep.select(
        F.col("total_docs").cast("long").alias("total_docs"),
        F.col("docs_packed").cast("long").alias("docs_packed"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("sum_doc_ids").cast("long").alias("sum_doc_ids"),
        F.col("oversized_packs").cast("long").alias("oversized_packs"),
        F.col("over_budget_small").cast("long").alias("over_budget_small"),
        F.col("multi_doc_oversized").cast("long").alias("multi_doc_oversized"),
        (
            F.col("_n_small")
            <= F.floor(F.lit(2.0) * F.col("_small_tok") / F.lit(_PACK_BUDGET))
            + F.col("_n_parts")
        ).alias("packs_within_bound"),
    )


_PACK_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_packed,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids,
       CAST(SUM(CASE WHEN len(string_split(text, ' ')) >= {_PACK_BUDGET}
                     THEN 1 ELSE 0 END) AS BIGINT) AS oversized_packs,
       CAST(0 AS BIGINT) AS over_budget_small,
       CAST(0 AS BIGINT) AS multi_doc_oversized,
       TRUE AS packs_within_bound
FROM documents
"""


def _semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table (exact
    engine — the oracle-replayable path; engine='ivf' is the cluster-scale
    candidate-generation path, recall-tested in
    tests/test_redact_semantic.py). Survivors = vectors with no lower-id
    neighbor at cosine >= 0.4; both engines accumulate the cosine
    left-to-right in double (Spark zip_with/aggregate vs DuckDB
    list_cosine_similarity on DOUBLE[]), and the nearest pair cosine sits
    1.3e-4 from the threshold at sf0.01, so float noise cannot flip a
    pair. Reports survivor counts per label."""
    from puddsketch_spark.ops.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    surv = semantic_dedup(emb, threshold=0.4)
    return (
        surv.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_survivors"))
        .orderBy("label")
    )


_SEMDEDUP_SQL = """
WITH dropped AS (
  SELECT DISTINCT b.vec_id
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
   AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_survivors
FROM embeddings ANTI JOIN dropped USING (vec_id)
GROUP BY label
ORDER BY label
"""


def _pii_aug(doc: DataFrame) -> DataFrame:
    """documents carry no natural PII, so DETERMINISTIC synthetic PII is
    planted from doc_id — the oracle replays the identical construction, so
    the regex machinery (Java regex vs RE2, the dialect-intersection
    patterns of ops/redact.py) is what the parity check exercises."""
    did = F.col("doc_id")
    return doc.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
            F.when(did % 3 == 0, F.concat(
                F.lit(" from 10."), (did % 256).cast("string"), F.lit(".0.7")
            )).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(" card 4111-1111-1111-1111")).otherwise(F.lit("")),
        ).alias("t"),
    )


def _pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing report: per-kind match/document counts from ONE scan
    (ops/redact.py::pii_stats — side-by-side regexp_extract_all counts,
    single Tungsten agg) plus a 'chars_removed' row measuring the
    redact_pii masking pass (total characters removed, documents
    changed)."""
    from puddsketch_spark.ops.redact import pii_stats, redact_pii

    # single-split scan: the regex passes are the cost — parallelize (§2.5)
    aug = _pii_aug(_t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism))
    stats = pii_stats(aug, "t")
    red = redact_pii(aug, "t", out="clean")
    totals = red.agg(
        F.sum(F.length("t") - F.length("clean")).alias("n_matches"),
        F.sum((F.col("clean") != F.col("t")).cast("long")).alias("n_docs"),
    ).select(F.lit("chars_removed").alias("kind"), "n_matches", "n_docs")
    return stats.unionByName(totals)


_PII_AUG_SQL = r"""
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' card 4111-1111-1111-1111' ELSE '' END
         AS t
  FROM documents
"""

def _pii_patterns() -> dict[str, str]:
    # single source of truth: the oracle SQL interpolates the EXACT pattern
    # strings the Spark operator compiles (RE2/Java-regex intersection)
    from puddsketch_spark.ops.redact import PII_PATTERNS

    return dict(PII_PATTERNS)


_PII_BOUNDED = _pii_patterns()

_PII_SQL = (
    "WITH aug AS (" + _PII_AUG_SQL + ")\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{kind}' AS kind,
       CAST(SUM(len(regexp_extract_all(t, '{pat}'))) AS BIGINT) AS n_matches,
       CAST(COUNT_IF(len(regexp_extract_all(t, '{pat}')) > 0) AS BIGINT) AS n_docs
FROM aug"""
        for kind, pat in _PII_BOUNDED.items()
    )
    + f"""
UNION ALL
SELECT 'chars_removed' AS kind,
       CAST(SUM(len(t) - len(
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           t, '{_PII_BOUNDED["card"]}', '[card]', 'g'),
              '{_PII_BOUNDED["ssn"]}', '[ssn]', 'g'),
              '{_PII_BOUNDED["phone"]}', '[phone]', 'g'),
              '{_PII_BOUNDED["email"]}', '[email]', 'g'),
              '{_PII_BOUNDED["ipv4"]}', '[ipv4]', 'g')
       )) AS BIGINT) AS n_matches,
       CAST(COUNT_IF(
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           t, '{_PII_BOUNDED["card"]}', '[card]', 'g'),
              '{_PII_BOUNDED["ssn"]}', '[ssn]', 'g'),
              '{_PII_BOUNDED["phone"]}', '[phone]', 'g'),
              '{_PII_BOUNDED["email"]}', '[email]', 'g'),
              '{_PII_BOUNDED["ipv4"]}', '[ipv4]', 'g') <> t
       ) AS BIGINT) AS n_docs
FROM aug
"""
)


def _incremental_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup (ops/dedup.py::dedup_against_corpus):
    a synthetic 'daily batch' — verbatim copies of every doc_id%5 document
    plus ' fresh'-suffixed variants of every doc_id%7 document — deduped
    against the full documents corpus. Bloom pre-filter map-side, exact
    digest verify of candidates only, broadcast anti join back: the new
    batch never shuffles and the counts are EXACT (no false drops/keeps),
    which is what the oracle checks."""
    from puddsketch_spark.ops.dedup import dedup_against_corpus, release_cached

    doc = _t(spark, sf_dir, "documents")
    dups = doc.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    fresh = doc.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" fresh")).alias("text"),
    )
    new = dups.unionByName(fresh)
    surv = dedup_against_corpus(new, doc)
    n_new = new.count()
    agg = surv.agg(
        F.count(F.lit(1)).alias("n_novel"),
        F.sum("doc_id").alias("sum_novel_ids"),
    ).first()
    release_cached(surv)  # drop the corpus-digest cache built by the op
    return spark.createDataFrame(
        [(n_new, int(agg.n_novel), n_new - int(agg.n_novel),
          int(agg.sum_novel_ids))],
        "n_new long, n_novel long, n_dup long, sum_novel_ids long",
    )


_INCDEDUP_SQL = """
WITH newb AS (
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' fresh' FROM documents WHERE doc_id % 7 = 0
),
surv AS (
  SELECT * FROM newb
  WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)
)
SELECT CAST((SELECT COUNT(*) FROM newb) AS BIGINT) AS n_new,
       CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS n_novel,
       CAST((SELECT COUNT(*) FROM newb) - (SELECT COUNT(*) FROM surv) AS BIGINT) AS n_dup,
       CAST((SELECT SUM(doc_id) FROM surv) AS BIGINT) AS sum_novel_ids
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate checks a positional
    # prefix (~50) of this registry, so the prefix rotates every round to
    # keep every entry's most recent driver-green CORRECTNESS row <= 1
    # round old (VERDICT r5 item 2). Round-7 order (VERDICT r6 item 3):
    # first the 26 entries whose latest gate row is r5 (rotated out of
    # r6's positional prefix, untouched order), then the 24 entries whose
    # code path changed in this optimization round (shared fill machinery:
    # treeAggregate global merge, fused quantile finalize, fused
    # grouping-set merge, dedup/text/theta/moments/hh restructures, the
    # sqlfns int-domain fix), then the 26 r6-gated entries with zero code
    # delta this round; all 76 are green in the local parity suite.
    return {
        # -- 1-26: last driver gate row r5 --------------------------------
        "udds_quantile_by_flag": _udds_by_flag,
        "udds_quantile_protocol99": _udds_quantile_protocol99,
        "udds_rank_cdf": _udds_rank_cdf,
        "rank_agreement_check": _rank_agreement_check,
        "tail_rows_above_p99": _tail_rows_above_p99,
        "ks_drift_check": _ks_drift_check,
        "qrank_uniformity_check": _qrank_uniformity_check,
        "join_size_estimate": _join_size_estimate,
        "dataset_diff_report": _dataset_diff_report,
        "rolling_distinct_users": _rolling_distinct_users,
        "unigram_quality_report": _unigram_quality_report,
        "udds_multi_feature": _udds_multi_feature,
        "udds_rollup_daily": _udds_rollup_daily,
        "streaming_rollup_check": _streaming_rollup_check,
        "streaming_window_check": _streaming_window_check,
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_top_revenue_orders": _q3_top_revenue_orders,
        "events_type_stats": _events_type_stats,
        "rollup_flag_status": _rollup_flag_status,
        "q4_order_priority": _q4_order_priority,
        "pivot_type_by_week": _pivot_type_by_week,
        "events_gap_quantile": _events_gap_quantile,
        "top2_orders_per_customer": _top2_orders_per_customer,
        "set_ops_part_types": _set_ops_part_types,
        "theta_custkey_overlap": _theta_custkey_overlap,
        "q5_nation_volume": _q5_nation_volume,
        # -- 27-50: code path touched in r7 -------------------------------
        "udds_by_flag_status": _udds_by_flag_status,
        "udds_quantile_global": _udds_global,
        "heavy_hitters_event_types": _heavy_hitters_event_types,
        "heavy_hitters_custkeys": _heavy_hitters_custkeys,
        "kll_price_rank": _kll_price_rank,
        "tdigest_price_rank": _tdigest_price_rank,
        "req_price_rank": _req_price_rank,
        "req_price_rank_lra": _req_price_rank_lra,
        "bloom_custkeys": _bloom_custkeys,
        "decontam_docs": _decontam_docs,
        "boilerplate_line_dedup": _boilerplate_line_dedup,
        "moments_price_by_flag": _moments_price_by_flag,
        "range_partition_balance": _range_partition_balance,
        "semantic_dedup_survivors": _semantic_dedup_survivors,
        "udds_grouping_sets": _udds_grouping_sets,
        "sql_surface_quantiles": _sql_surface_quantiles,
        "rolling_quantile_window_sql": _rolling_quantile_window_sql,
        "tfidf_top_terms": _tfidf_top_terms,
        "minhash_selfdup_recall": _minhash_selfdup_recall,
        "simhash_selfdup_recall": _simhash_selfdup_recall,
        "dedup_pipeline_survivors": _dedup_pipeline_survivors,
        "curation_pipeline_report": _curation_pipeline_report,
        "pii_redaction_stats": _pii_redaction_stats,
        "incremental_dedup_check": _incremental_dedup_check,
        # -- 51-76: r6-gated, zero code delta in r7 -----------------------
        "dedup_exact_documents": _dedup_exact_documents,
        "normalized_dedup_docs": _normalized_dedup_docs,
        "doc_token_stats": _doc_token_stats,
        "hll_users_by_type": _hll_users_by_type,
        "cms_event_type_freq": _cms_event_type_freq,
        "ddsketch_signed_quantiles": _ddsketch_signed_quantiles,
        "dd_quantiles_by_type": _dd_quantiles_by_type,
        "ddog_grouped_window_check": _ddog_grouped_window_check,
        "ddsketch_ddog_quantiles": _ddsketch_ddog_quantiles,
        "ngram_jaccard_docs": _ngram_jaccard_docs,
        "asof_error_last_click": _asof_error_last_click,
        "events_sessionization": _events_sessionization,
        "bloom_join_lineitem_parts": _bloom_join_lineitem_parts,
        "source_quota_cap": _source_quota_cap,
        "range_join_value_bands": _range_join_value_bands,
        "profile_events_table": _profile_events_table,
        "cosine_topk_embeddings": _cosine_topk_embeddings,
        "doc_quality_stats": _doc_quality_stats,
        "lang_id_agreement": _lang_id_agreement,
        "doc_repetition_stats": _doc_repetition_stats,
        "ivf_recall_check": _ivf_recall_check,
        "multimodal_pipeline_stats": _multimodal_pipeline_stats,
        "stratified_sample_docs": _stratified_sample_docs,
        "dataset_mix_report": _dataset_mix_report,
        "pack_sequences_report": _pack_sequences_report,
        "winnowing_dup_detection": _winnowing_dup_detection,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "udds_quantile_global": _udds_oracle(None),
        "udds_quantile_by_flag": _udds_oracle("l_returnflag"),
        "udds_quantile_protocol99": _udds_oracle(None, qs_sql=_QS99_SQL),
        "udds_rank_cdf": _CDF_SQL,
        "rank_agreement_check": _RANK_AGREE_SQL,
        "tail_rows_above_p99": _TAIL_SQL,
        "ks_drift_check": _KS_SQL,
        "qrank_uniformity_check": _QRANK_SQL,
        "join_size_estimate": _JOINSIZE_SQL,
        "dataset_diff_report": _DIFF_SQL,
        "rolling_distinct_users": _ROLLING_SQL,
        "unigram_quality_report": _UNIGRAM_SQL,
        "udds_multi_feature": _UDDS_MULTI_SQL,
        "udds_rollup_daily": _UDDS_ROLLUP_SQL,
        "udds_grouping_sets": _UDDS_GS_SQL,
        "sql_surface_quantiles": _udds_oracle("l_returnflag"),
        "rolling_quantile_window_sql": _ROLLING_WINDOW_SQL,
        "streaming_rollup_check": _STREAM_ROLLUP_SQL,
        "streaming_window_check": _STREAM_WIN_SQL,
        "q1_pricing_summary": _Q1_SQL,
        "q3_top_revenue_orders": _Q3_SQL,
        "events_type_stats": _EVENTS_SQL,
        "rollup_flag_status": _ROLLUP_SQL,
        "q4_order_priority": _Q4_SQL,
        "pivot_type_by_week": _PIVOT_SQL,
        "events_gap_quantile": _GAP_SQL,
        "top2_orders_per_customer": _TOP2_SQL,
        "set_ops_part_types": _SETOP_SQL,
        "theta_custkey_overlap": _THETA_SQL,
        "q5_nation_volume": _Q5_SQL,
        "udds_by_flag_status": _UDDS2_SQL,
        "dedup_exact_documents": _DEDUP_SQL,
        "normalized_dedup_docs": _NORM_SQL,
        "doc_token_stats": _TOKEN_SQL,
        "hll_users_by_type": _HLL_SQL,
        "cms_event_type_freq": _CMS_SQL,
        "bloom_custkeys": _BLOOM_SQL,
        "heavy_hitters_event_types": _HH_SQL,
        "heavy_hitters_custkeys": _HH_CUST_SQL,
        "range_partition_balance": _RANGE_PART_SQL,
        "source_quota_cap": _SOURCE_QUOTA_SQL,
        "kll_price_rank": _RANK_SQL,
        "tdigest_price_rank": _RANK_SQL,
        "req_price_rank": _RANK_SQL,
        "req_price_rank_lra": _RANK_LRA_SQL,
        "ddsketch_signed_quantiles": _DD_SQL,
        "dd_quantiles_by_type": _DD_GROUPED_SQL,
        "ddog_grouped_window_check": _DDOG_GROUPED_SQL,
        "ddsketch_ddog_quantiles": _DDOG_SQL,
        "ngram_jaccard_docs": _NGRAM_SQL,
        "decontam_docs": _DECONTAM_SQL,
        "asof_error_last_click": _ASOF_SQL,
        "events_sessionization": _SESSION_SQL,
        "boilerplate_line_dedup": _BOILER_SQL,
        "moments_price_by_flag": _MOMENTS_SQL,
        "bloom_join_lineitem_parts": _BLOOMJOIN_SQL,
        "tfidf_top_terms": _TFIDF_SQL,
        "range_join_value_bands": _RANGEJOIN_SQL,
        "profile_events_table": _PROFILE_SQL,
        "cosine_topk_embeddings": _TOPK_SQL,
        "doc_quality_stats": _QUALITY_SQL,
        "lang_id_agreement": _lang_sql(),
        "doc_repetition_stats": _REPETITION_SQL,
        "minhash_selfdup_recall": _MINHASH_SQL,
        "simhash_selfdup_recall": _MINHASH_SQL,
        "dedup_pipeline_survivors": _SURVIVOR_SQL,
        "ivf_recall_check": _IVF_SQL,
        "multimodal_pipeline_stats": _MULTIMODAL_SQL,
        "curation_pipeline_report": _CURATION_SQL,
        "stratified_sample_docs": _STRAT_SQL,
        "dataset_mix_report": _MIX_SQL,
        "pack_sequences_report": _PACK_SQL,
        "winnowing_dup_detection": _WINNOW_SQL,
        "pii_redaction_stats": _PII_SQL,
        "semantic_dedup_survivors": _SEMDEDUP_SQL,
        "incremental_dedup_check": _INCDEDUP_SQL,
    }
