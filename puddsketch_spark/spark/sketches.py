"""High-level sketch aggregation APIs over the generic partial/merge plumbing.

One function per sketch. The companion kernels are built on
agg.partial_sketches / merge_grouped / sketch_global: Arrow-vectorized
per-partition partials, blob-only shuffles, commutative merges. The DDSketch
pair, the quantile filters and the rank transform fill through Tungsten
bucket histograms instead, and the moments are one Catalyst aggregation.
A saved or rolled-up state table is finalized in one exchange-free
mapInArrow (agg._map_states): agg.quantile_table, moments_table,
distinct_table.
(North_rule companion set: HLL, count-min, t-digest, KLL, Bloom — plus theta
set algebra, exact moments, and the sketch-powered analytics:
quantile-threshold filtering and the quantile-rank transform.)
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField

from ..core.bloom import BloomFilter
from ..core.cms import CountMinSketch
from ..core.hll import HLLSketch
from ..core.kll import KLLSketch
from ..core.moments import MomentsSketch
from ..core.tdigest import TDigest
from ..core.theta import ThetaSketch
from .agg import (
    _QUANTILE_FIELDS,
    _global_quantiles,
    _map_key_runs,
    _map_states,
    _merge_runs,
    _quantile_rows,
    partial_sketches,
    sketch_global,
    sketch_grouped,
)

__all__ = [
    "hll_distinct",
    "distinct_table",
    "theta_global",
    "theta_states",
    "theta_set_ops",
    "moments_stats",
    "moments_table",
    "filter_above_quantile",
    "with_quantile_rank",
    "cms_states",
    "cms_global",
    "bloom_global",
    "bloom_states",
    "dd_quantiles",
    "tdigest_quantiles",
    "kll_quantiles",
    "heavy_hitters_global",
    "heavy_hitters_grouped",
]


def _null_safe_broadcast_join(
    df: DataFrame, small: DataFrame, keys: Sequence[str], how: str = "inner"
) -> DataFrame:
    """Broadcast-join a small keyed table onto ``df`` with null-SAFE key
    equality. A plain column-name equi-join silently drops every row whose
    key is NULL even when the small table carries a NULL-key row (the agg
    paths emit a NULL-key group as groupBy does)."""
    renamed = small.select(
        *[F.col(c).alias(f"__ns_{c}") for c in keys],
        *[c for c in small.columns if c not in keys],
    )
    cond = None
    for c in keys:
        clause = F.col(c).eqNullSafe(F.col(f"__ns_{c}"))
        cond = clause if cond is None else (cond & clause)
    return df.join(F.broadcast(renamed), cond, how).drop(
        *[f"__ns_{c}" for c in keys]
    )


# the columns a distinct-count (HLL, theta) finalize emits after the keys
_DISTINCT_FIELDS = [StructField("distinct_est", LongType(), False)]


def _distinct_rows(sk) -> list[tuple]:
    """The distinct-count finalize of one HLL or theta sketch."""
    return [(int(round(sk.estimate())),)]


# ---------------------------------------------------------------- HLL
def hll_distinct(
    df: DataFrame, col: str, group_cols: Sequence[str] = (), p: int = 14
) -> DataFrame | int:
    """Approximate COUNT(DISTINCT col), grouped or global.

    Grouped -> DataFrame[group..., est:long], merged and estimated in one
    key-run stage; global -> int.
    """
    factory = lambda: HLLSketch(p=p)  # noqa: E731
    if not group_cols:
        return int(round(sketch_global(df, col, factory, HLLSketch.from_bytes).estimate()))
    return _merge_runs(
        partial_sketches(df, col, group_cols, factory), group_cols,
        HLLSketch.from_bytes, [StructField("est", LongType(), False)],
        lambda sk, _: _distinct_rows(sk),
    )


def distinct_table(
    states: DataFrame, group_cols: Sequence[str], from_bytes
) -> DataFrame:
    """Finalize an HLL or theta STATE table (group..., state), one row per
    group, into DataFrame[group..., distinct_est:long] — one exchange-free
    mapInArrow, the piece CLI state rollups reuse without rescanning."""
    return _map_states(states, group_cols, from_bytes, _DISTINCT_FIELDS,
                       _distinct_rows)


# ---------------------------------------------------------------- Theta
def theta_global(df: DataFrame, col: str, k: int = 4096) -> ThetaSketch:
    """Global theta (KMV) distinct sketch of ``col`` (driver-side object).

    Unlike :func:`hll_distinct`, the result supports set operations —
    ``ThetaSketch.intersect`` / ``a_not_b`` / ``union`` — so overlap
    cardinalities between two columns/tables stay sketch-level instead of
    exact-join-level at scale.
    """
    factory = lambda: ThetaSketch(k=k)  # noqa: E731
    return sketch_global(df, col, factory, ThetaSketch.from_bytes)


def theta_states(
    df: DataFrame, col: str, group_cols: Sequence[str], k: int = 4096
) -> DataFrame:
    """Per-group theta states (DataFrame[group..., state]) — mergeable blobs
    for rollups, and set-op-able across groups driver-side."""
    factory = lambda: ThetaSketch(k=k)  # noqa: E731
    return sketch_grouped(df, col, group_cols, factory, ThetaSketch.from_bytes)


def theta_set_ops(
    df_a: DataFrame, col_a: str, df_b: DataFrame, col_b: str, k: int = 4096
) -> dict:
    """Distinct-set algebra between two columns in one pass per side.

    Returns {"a", "b", "union", "intersection", "a_not_b", "b_not_a",
    "jaccard", "rse", "theta_frac"} — every cardinality a float estimate
    from the two theta sketches. BOTH sides fill in one tagged scan
    (grouped by side); the shuffle carries only (k * 8)-byte key blobs,
    never the columns themselves.

    The key columns must share one dtype: hash64 hashes an int's bit
    pattern and a float/string's bytes DISJOINTLY, so set-ops between,
    say, a bigint and a double column of the same logical values would
    come back ~0 overlap with no error. Cast both sides to a common type
    first (``df.withColumn(c, F.col(c).cast("bigint"))``) — mismatches
    raise rather than mis-estimate (same contract as bloom_probe).
    """
    type_a = dict(df_a.dtypes)[col_a]
    type_b = dict(df_b.dtypes)[col_b]
    if type_a != type_b:
        raise TypeError(
            f"theta_set_ops key dtypes differ ({col_a}: {type_a} vs "
            f"{col_b}: {type_b}); hash64 hashes representations, not "
            "values, so cross-type set-ops would silently estimate ~0 "
            "overlap. Cast both columns to a common type first."
        )
    # same key type: ONE tagged scan+fill job for both sides instead of
    # two (the hash-family agg keeps per-side states separate by group)
    tagged = (
        df_a.select(F.col(col_a).alias("_v"), F.lit("a").alias("_side"))
        .unionByName(df_b.select(F.col(col_b).alias("_v"), F.lit("b").alias("_side")))
    )
    states = {
        r["_side"]: ThetaSketch.from_bytes(r["state"])
        for r in sketch_grouped(
            tagged, "_v", ["_side"], lambda: ThetaSketch(k=k), ThetaSketch.from_bytes
        ).collect()
    }
    sa = states.get("a", ThetaSketch(k=k))
    sb = states.get("b", ThetaSketch(k=k))
    union = ThetaSketch.union(sa, sb)
    inter = ThetaSketch.intersect(sa, sb)
    u = union.estimate()
    return {
        "a": sa.estimate(),
        "b": sb.estimate(),
        "union": u,
        "intersection": inter.estimate(),
        "a_not_b": ThetaSketch.a_not_b(sa, sb).estimate(),
        "b_not_a": ThetaSketch.a_not_b(sb, sa).estimate(),
        "jaccard": (inter.estimate() / u) if u > 0 else 0.0,
        "rse": max(sa.rse(), sb.rse()),
        # smallest sampling fraction across the ops — error bars are
        # ~sqrt(n / theta_frac) absolute, see ThetaSketch docstring
        "theta_frac": float(min(sa.theta, sb.theta)) / float(1 << 63),
    }


# ---------------------------------------------------------------- filters
def filter_above_quantile(
    df: DataFrame,
    value_col: str,
    q: float = 0.99,
    group_cols: Sequence[str] = (),
    alpha: float = 0.005,
    m: int = 0,
    strict: bool = True,
) -> DataFrame:
    """Rows whose ``value_col`` exceeds their group's sketch-estimated
    q-quantile — tail/outlier mining without a per-group sort.

    Two passes, both cheap at scale: (1) the JVM UDD fill produces one
    threshold per group (a ~KB-scale table regardless of input size),
    (2) the thresholds broadcast-join back onto the scan and the filter
    runs map-side. Compare with the exact approach (window rank over every
    group = full shuffle + sort of the table). With m=0 the threshold is
    the deterministic bucket-walk value, so the whole operator is
    SQL-replayable bit-exactly.
    """
    from .agg import udds_quantile_table_jvm, udds_sketch_global_jvm

    group_cols = list(group_cols)
    # Spark sorts NaN ABOVE every number, so `NaN > threshold` is TRUE —
    # but the threshold sketch dropped NaNs; exclude them from the tail too
    not_nan = ~F.isnan(F.col(value_col).cast("double"))
    cmp = (
        (lambda c, t: not_nan & (c > t))
        if strict
        else (lambda c, t: not_nan & (c >= t))
    )
    if not group_cols:
        thr = float(udds_sketch_global_jvm(df, value_col, alpha, m).quantile(q))
        return df.where(cmp(F.col(value_col), F.lit(thr)))
    thresholds = udds_quantile_table_jvm(
        df, value_col, group_cols, [q], alpha, m
    ).select(*group_cols, F.col("est").alias("_thr"))
    return (
        _null_safe_broadcast_join(df, thresholds, group_cols)
        .where(cmp(F.col(value_col), F.col("_thr")))
        .drop("_thr")
    )


def with_quantile_rank(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    alpha: float = 0.005,
    out: str = "qrank",
) -> DataFrame:
    """Adds ``out`` = the value's (bucket-granular) CDF position within its
    group, in (0, 1] — quantile normalization for feature engineering,
    entirely JVM-side.

    Plan: the Tungsten log-bucket histogram (KB-scale per group) becomes a
    cumulative bucket->cdf table; the table broadcast-joins back onto the
    scan on the codegen'd bucket key. No sort of the data, no Python; cost
    is one aggregation + a broadcast map join regardless of input size.
    Semantics match ``UDDSketch.rank_of``: every row sharing a bucket gets
    that bucket's cumulative mass; rows in the zero bucket (v <
    MIN_ADDRESSABLE, incl. negatives) get zero_mass / n; NaN/NULL values
    get NULL rank.
    """
    from .agg import _log_bucket_key, udds_bucket_counts

    group_cols = list(group_cols)
    hist = udds_bucket_counts(df, value_col, group_cols, alpha)
    from pyspark.sql import Window

    wk = (
        Window.partitionBy(*group_cols)
        # NULL _bkey (the zero bucket) sorts FIRST, so the running sum
        # already includes the zero mass for every live bucket
        .orderBy(F.col("_bkey").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy(*group_cols)
    _ZSENT = -(1 << 62)  # NULL keys never equi-join; sentinel for the zero bucket
    cdf_tbl = hist.select(
        *group_cols,
        F.coalesce("_bkey", F.lit(_ZSENT)).alias("_bkey"),
        (F.sum("_bcnt").over(wk) / F.sum("_bcnt").over(wn)).alias("_qrank"),
    )

    v = F.col(value_col).cast("double")
    joined = _null_safe_broadcast_join(
        df.withColumn("_bkey", F.coalesce(_log_bucket_key(v, alpha), F.lit(_ZSENT))),
        cdf_tbl,
        group_cols + ["_bkey"],
        "left",
    )
    return joined.withColumn(
        out, F.when(~F.isnan(v) & v.isNotNull(), F.col("_qrank"))
    ).drop("_bkey", "_qrank")


# ---------------------------------------------------------------- Moments
def moments_stats(
    df: DataFrame, value_col: str, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Exact one-pass distribution-shape statistics per group:
    DataFrame[group..., n, mean, variance, stddev, skewness, kurtosis,
    vmin, vmax] (population variance, excess kurtosis). Global (no groups)
    returns one row, also for empty input (n=0).

    One Catalyst aggregation: Spark's central-moment aggregates merge their
    partial buffers with the same Pébay pairwise formulas as
    MomentsSketch._combine, so no row crosses into Python and nothing is
    collected to the driver. Agreement with a MomentsSketch fill
    (moments_table) is the usual merge-order ~1e-12 relative (module
    docstring of core.moments). NULL and NaN values are dropped; a
    statistic that is undefined for its group (skewness/kurtosis of a
    constant group, anything of an empty one) is NULL, as in
    moments_table."""
    v = F.col(value_col).cast("double")
    return (
        df.where(v.isNotNull() & ~F.isnan(v))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(v).alias("mean"),
            F.var_pop(v).alias("variance"),
            F.stddev_pop(v).alias("stddev"),
            F.skewness(v).alias("skewness"),
            F.kurtosis(v).alias("kurtosis"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
        )
    )


_MOMENT_FIELDS = [StructField("n", LongType(), False)] + [
    StructField(c, DoubleType(), True)
    for c in ("mean", "variance", "stddev", "skewness", "kurtosis", "vmin", "vmax")
]


def _moment_rows(sk) -> list[tuple]:
    """The stats row of one MomentsSketch, in _MOMENT_FIELDS order; a
    statistic that is undefined (NaN in the kernel) is None."""
    stats = (sk.mean, sk.variance(), sk.stddev(), sk.skewness(),
             sk.kurtosis(), sk.vmin, sk.vmax)
    return [(int(sk.n), *(None if v != v else float(v) for v in stats))]


def moments_table(merged: DataFrame, group_cols: Sequence[str]) -> DataFrame:
    """Finalize a merged moments STATE table (group..., state), one row per
    group, into the stats table — one exchange-free mapInArrow, the piece
    CLI state rollups reuse without rescanning. A statistic that is
    undefined for its group is NULL."""
    return _map_states(merged, group_cols, MomentsSketch.from_bytes,
                       _MOMENT_FIELDS, _moment_rows)


# ---------------------------------------------------------------- CMS
def cms_global(
    df: DataFrame, col: str, depth: int = 5, width: int = 2048
) -> CountMinSketch:
    """Global frequency sketch of ``col`` (driver-side object)."""
    factory = lambda: CountMinSketch(depth=depth, width=width)  # noqa: E731
    return sketch_global(df, col, factory, CountMinSketch.from_bytes)


def cms_states(
    df: DataFrame, col: str, group_cols: Sequence[str], depth: int = 5, width: int = 2048
) -> DataFrame:
    factory = lambda: CountMinSketch(depth=depth, width=width)  # noqa: E731
    return sketch_grouped(df, col, group_cols, factory, CountMinSketch.from_bytes)


# ---------------------------------------------------------------- Bloom
def bloom_global(
    df: DataFrame, col: str, num_bits: int = 1 << 22, num_hashes: int = 7
) -> BloomFilter:
    """Global membership filter (driver-side object, e.g. for broadcast-join
    style pre-filtering of a second table)."""
    factory = lambda: BloomFilter(num_bits=num_bits, num_hashes=num_hashes)  # noqa: E731
    return sketch_global(df, col, factory, BloomFilter.from_bytes)


def bloom_states(
    df: DataFrame, col: str, group_cols: Sequence[str], num_bits: int = 1 << 20, num_hashes: int = 7
) -> DataFrame:
    factory = lambda: BloomFilter(num_bits=num_bits, num_hashes=num_hashes)  # noqa: E731
    return sketch_grouped(df, col, group_cols, factory, BloomFilter.from_bytes)


# ---------------------------------------------------------------- heavy hitters
def heavy_hitters_global(
    df: DataFrame, col: str, k: int = 64, phi: float = 0.01
):
    """Frequent items of ``col`` (driver-side dict key -> lower-bound count).
    Guaranteed superset of the true phi-heavy-hitters when phi > 1/(k+1)."""
    from ..core.heavyhitters import MisraGries

    sk = sketch_global(df, col, lambda: MisraGries(k=k), MisraGries.from_bytes)
    return sk.heavy_hitters(phi)


def heavy_hitters_grouped(
    df: DataFrame, col: str, group_cols: Sequence[str], k: int = 64, phi: float = 0.01
) -> DataFrame:
    """Per-group frequent items: DataFrame[group..., item, count_lo, err],
    merged and exploded in one key-run stage."""
    from ..core.heavyhitters import MisraGries

    def hits(sk, _) -> list:
        return [(str(item), int(c), int(sk.err))
                for item, c in sorted(sk.heavy_hitters(phi).items())]

    return _merge_runs(
        partial_sketches(df, col, group_cols, lambda: MisraGries(k=k)), group_cols,
        MisraGries.from_bytes,
        [
            StructField("item", StringType(), True),
            StructField("count_lo", LongType(), False),
            StructField("err", LongType(), False),
        ],
        hits,
    )


# ---------------------------------------------------------------- DDSketch
def dd_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    qs: Iterable[float] = (0.5, 0.9, 0.99, 0.999),
    alpha: float = 0.01,
    bound: int = 512,
    collapse_mode: str = "uniform",
) -> DataFrame:
    """Signed-value quantiles via the DDSketch pair (pos/neg stores + B*),
    any collapse flavor: "uniform" (gamma widens, alpha' grows),
    "ddog_low" / "ddog_high" (gamma fixed, edge bins fold into a trash bin).

    Output: DataFrame[group..., q, est, q0, q1, alpha_now] — [q0, q1] is the
    accurate-range window (trash-bin bookkeeping; (0, 1) for uniform mode)
    and alpha_now the post-collapse error bound, so callers can tell which
    estimates carry which guarantee.

    The fill is the Tungsten signed histogram (agg.dd_bucket_counts): the
    heavy per-row work never leaves the JVM, and each group's bucket table
    is folded to ``bound`` once (see agg.dd_sketch_global_jvm). Grouped,
    one key-run stage assembles each group's pair and reads its quantiles.
    For reference fold-order parity in the ddog modes, fill with
    sketch_grouped / sketch_global and a DDSketchPair factory instead.
    """
    from .agg import _dd_of, dd_bucket_counts, dd_sketch_global_jvm

    qs = list(qs)
    bound_cols = ("q0", "q1", "alpha_now")

    def bounds_of(sk) -> tuple:
        q0, q1 = sk.accurate_range()
        return float(q0), float(q1), float(sk.alpha)

    if not group_cols:
        sk = dd_sketch_global_jvm(df, value_col, alpha, m=bound,
                                  collapse_mode=collapse_mode)
        return _global_quantiles(df.sparkSession, sk, qs).select(
            "*", *[F.lit(v).alias(c) for c, v in zip(bound_cols, bounds_of(sk))])

    def rows_of(sk) -> list[tuple]:
        return [(*row, *bounds_of(sk)) for row in _quantile_rows(sk, qs)]

    return _map_key_runs(
        dd_bucket_counts(df, value_col, group_cols, alpha), group_cols,
        _QUANTILE_FIELDS + [StructField(c, DoubleType(), False) for c in bound_cols],
        lambda run: rows_of(_dd_of(run, alpha, bound, collapse_mode)),
    )


# ---------------------------------------------------------------- quantiles
def _quantiles(df, value_col, group_cols, factory, from_bytes, qs) -> DataFrame:
    """DataFrame[group..., q, est] of an Arrow-filled kernel: grouped,
    partials then one key-run stage that merges and finalizes each group;
    global, a tree merge and the driver-side answer."""
    qs = list(qs)
    if not group_cols:
        return _global_quantiles(
            df.sparkSession, sketch_global(df, value_col, factory, from_bytes), qs)
    return _merge_runs(
        partial_sketches(df, value_col, group_cols, factory), group_cols,
        from_bytes, _QUANTILE_FIELDS, lambda sk, _: _quantile_rows(sk, qs),
    )


def tdigest_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    qs: Iterable[float] = (0.5, 0.9, 0.99, 0.999),
    delta: float = 200.0,
) -> DataFrame:
    return _quantiles(df, value_col, group_cols, lambda: TDigest(delta=delta),
                      TDigest.from_bytes, qs)


def kll_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    qs: Iterable[float] = (0.5, 0.9, 0.99, 0.999),
    k: int = 200,
) -> DataFrame:
    return _quantiles(df, value_col, group_cols, lambda: KLLSketch(k=k),
                      KLLSketch.from_bytes, qs)
