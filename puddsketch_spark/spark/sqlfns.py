"""Spark SQL surface for the sketch kernels: register the fills, merges
and extractors as SQL-callable functions so a pure ``spark.sql`` user can
sketch without touching the Python API.

After ``register_sql_functions(spark)``::

    SELECT role, udds_quantile(udds_sketch(text_len), 0.99) AS p99
    FROM transcripts GROUP BY role

Every kernel family is covered: UDD / DD (signed) / t-digest (value
quantiles), KLL / REQ (rank quantiles), moments (exact stats), HLL /
theta (distinct + set algebra), count-min / Misra-Gries (frequency),
Bloom (membership). Three function shapes per family:

- ``{name}_sketch(value)``  — grouped-agg pandas UDAF: raw values of one
  group -> one serialized state blob (the registration-time
  alpha/m/p/k/delta config is baked in; register twice with different
  ``prefix`` for different configs).
- ``{name}_merge(state)``   — grouped-agg pandas UDAF: partial state
  blobs -> one merged blob. This is the SCALE path in SQL: re-group a
  checkpointed/finest state table to any coarser grain by merging
  KB-sized blobs, exactly like ``rollup_states`` /
  ``rollup_grouping_sets`` (spark/agg.py), with no raw-data rescan.
- extractors — vectorized scalar pandas UDFs over state blobs
  (``udds_quantile(state, q)``, ``hll_estimate(state)``, ...). They run
  over MERGED state tables whose row count is the group cardinality,
  so the per-row ``from_bytes`` is off the hot path by construction.

Scale note (documented, deliberate): a grouped-agg pandas UDAF has NO
partial aggregation — Spark shuffles the group's RAW rows to one task
and materializes them in memory (pyspark.sql.functions.pandas_udf docs).
``{name}_sketch`` over a raw 10^12-row table is therefore the
convenience path only; the fills with map-side partial aggregation
(spark/agg.py: the Tungsten bucket histogram behind ``udds_quantiles`` /
``sketch_grouped_jvm``, the Arrow partials of ``sketch_grouped``) remain
the 100 TB fill path. Measured (r7, 2M turns x 12 groups, local[32],
alternating arms, median of 5): SQL grouped-agg fill 0.68 s vs
two-stage Arrow 1.05 s vs fused JVM ``udds_quantile_table_jvm`` 0.61 s —
locally the raw-row shuffle is ~60 MB and the UDAF's single Python
stage WINS against the two-stage path's two, so the warning is not
about local wall time: it is about shuffle bytes. The grouped-agg fill
ships n raw rows across the exchange where the two-stage path ships one
KB-scale partial per (group x partition); at cluster scale that ratio,
not per-stage overhead, is the cost. The intended big-data SQL idiom
is: fill states with those agg.py fills (or a previous ``{name}_sketch``
at finer grain), save the state table, then do all SQL-side regrouping
with ``{name}_merge`` + extractors — blobs only, never raw rows.

Streaming note: the extractors work over STREAMED state tables
(downstream of the sink, or on a state table a streaming job wrote),
but not inside the streaming query itself directly above
``applyInPandasWithState`` output — Spark's ArrowEvalPython cannot
consume that exec's rows (GenericInternalRow vs UnsafeRow cast). Use
``streaming_sketch``'s ``finalize`` for in-stream figures, and the SQL
extractors for everything after the sink (pytest-pinned in
tests/test_sqlfns.py::test_streaming_states_sql_extractor).

Window note: the fills also work as SQL WINDOW aggregates
(``udds_sketch(v) OVER (... ROWS BETWEEN 49 PRECEDING AND CURRENT
ROW)``) — rolling sketch quantiles in pure SQL; the UDAF refills per
frame, so cost is O(rows x frame).

Kernel semantics are the library's own (core/): reference parity for
UDD per /root/reference/psketches/uddsketch.cpp (fills here are
bit-identical to sketch_grouped at m=0 — pytest-pinned), companions per
their papers.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
)

from ..core import (
    BloomFilter,
    CountMinSketch,
    DDSketchPair,
    HLLSketch,
    KLLSketch,
    MisraGries,
    MomentsSketch,
    REQSketch,
    TDigest,
    ThetaSketch,
    UDDSketch,
)

__all__ = ["register_sql_functions"]


def _restore_int_domain(arr: np.ndarray) -> np.ndarray:
    """Undo pandas' NULL coercion for hash/exact-key kernels: an int64
    Spark column that contains any NULL reaches a pandas UDF as float64
    (NaN-backed), so without this the group's keys would hash via their
    FLOAT bit pattern while null-free groups — and every Python-API fill,
    which preserves int via agg.partial_sketches — hash via INT bits:
    merges double-count, probes false-negative (ADVICE r6, high). After
    dropna, a float array that round-trips losslessly through int64 is
    restored to int64, re-joining the one hash domain. Genuinely
    fractional, non-finite, or out-of-int64-range values stay float64."""
    if arr.dtype.kind != "f" or arr.size == 0:
        return arr
    with np.errstate(invalid="ignore"):
        as_int = arr.astype(np.int64)
        if np.array_equal(as_int.astype(arr.dtype), arr):
            return as_int
    return arr


def _fill_udf(factory: Callable[[], object], numeric: bool):
    """Grouped-agg UDAF: one group's raw values -> serialized state."""

    @F.pandas_udf(BinaryType())
    def fill(v: pd.Series) -> bytes:
        sk = factory()
        v = v.dropna()
        if len(v):
            sk.update(v.to_numpy(dtype=np.float64) if numeric
                      else _restore_int_domain(v.to_numpy()))
        return sk.to_bytes()

    return fill


def _merge_udf(from_bytes: Callable[[bytes], object]):
    """Grouped-agg UDAF: one group's state blobs -> merged state blob.

    Merge order inside the group is arbitrary — valid because every
    kernel merge is commutative/associative (property-tested in
    tests/test_properties.py)."""

    @F.pandas_udf(BinaryType())
    def merge(states: pd.Series) -> bytes:
        sk = None
        for blob in states.dropna():
            part = from_bytes(bytes(blob))
            sk = part if sk is None else sk.merge(part)
        if sk is None:
            raise ValueError("merge over zero non-NULL states")
        return sk.to_bytes()

    return merge


def _state_scalar_udf(from_bytes, extract, ret_type):
    """Scalar pandas UDF state -> extract(sketch); vectorized per batch,
    per-row from_bytes (runs over merged state tables: rows = groups)."""

    @F.pandas_udf(ret_type)
    def fn(states: pd.Series) -> pd.Series:
        return pd.Series(
            [None if blob is None else extract(from_bytes(bytes(blob)))
             for blob in states])

    return fn


def _state_arg_scalar_udf(from_bytes, extract, ret_type):
    """Scalar pandas UDF (state, arg) -> extract(sketch, arg)."""

    @F.pandas_udf(ret_type)
    def fn(states: pd.Series, args: pd.Series) -> pd.Series:
        # same NULL-coercion repair as the fills: an integer key argument
        # batch with any NULL arrives float64; probes must hash the same
        # domain the fill used. Quantile/rank args are unaffected (their
        # extractors call float() explicitly).
        a_arr = args.to_numpy()
        if a_arr.dtype.kind == "f":
            mask = ~np.isnan(a_arr)
            fixed = _restore_int_domain(a_arr[mask])
            vals: list = list(a_arr)
            for i, j in enumerate(np.flatnonzero(mask)):
                vals[j] = fixed[i]
            a_it = vals
        else:
            a_it = list(a_arr)
        return pd.Series(
            [None if blob is None else extract(from_bytes(bytes(blob)), a)
             for blob, a in zip(states, a_it)])

    return fn


def register_sql_functions(
    spark: SparkSession,
    *,
    prefix: str = "",
    alpha: float = 0.01,
    m: int = 200,
    dd_m: int = 500,
    hll_p: int = 14,
    theta_k: int = 4096,
    tdigest_delta: int = 200,
    kll_k: int = 200,
    req_k: int = 64,
    req_hra: bool = True,
    cms_depth: int = 5,
    cms_width: int = 2048,
    bloom_num_bits: int = 1 << 20,
    bloom_num_hashes: int = 7,
    mg_k: int = 64,
) -> list[str]:
    """Register every sketch SQL function on ``spark``; returns the
    registered names. Re-registration replaces (idempotent); use
    ``prefix`` to register a second config side by side
    (``register_sql_functions(spark, prefix="fine_", alpha=1e-3)``)."""

    fns: dict[str, object] = {}

    # ---- quantiles: UDD (the core kernel) + t-digest -------------------
    fns["udds_sketch"] = _fill_udf(
        lambda: UDDSketch(initial_alpha=alpha, m=m), numeric=True)
    fns["udds_merge"] = _merge_udf(UDDSketch.from_bytes)
    fns["udds_quantile"] = _state_arg_scalar_udf(
        UDDSketch.from_bytes, lambda sk, q: float(sk.quantile(float(q))),
        DoubleType())
    fns["udds_count"] = _state_scalar_udf(
        UDDSketch.from_bytes, lambda sk: int(sk.count), LongType())

    # signed values (pos+neg+zero stores): DDSketch pair
    fns["dd_sketch"] = _fill_udf(
        lambda: DDSketchPair(initial_alpha=alpha, m=dd_m), numeric=True)
    fns["dd_merge"] = _merge_udf(DDSketchPair.from_bytes)
    fns["dd_quantile"] = _state_arg_scalar_udf(
        DDSketchPair.from_bytes, lambda sk, q: float(sk.quantile(float(q))),
        DoubleType())
    fns["dd_count"] = _state_scalar_udf(
        DDSketchPair.from_bytes, lambda sk: int(sk.count), LongType())
    fns["dd_cdf"] = _state_arg_scalar_udf(
        DDSketchPair.from_bytes, lambda sk, x: float(sk.cdf(float(x))),
        DoubleType())

    @F.pandas_udf(DoubleType())
    def dd_ks_distance(a: pd.Series, b: pd.Series) -> pd.Series:
        """Sketch-level Kolmogorov-Smirnov drift between two DD states —
        dataset-diff / drift checks in one SQL call (the SQL twin of
        ops/diff.py's signed KS)."""
        out = []
        for ba, bb in zip(a, b):
            if ba is None or bb is None:
                out.append(None)
                continue
            out.append(float(DDSketchPair.from_bytes(bytes(ba)).ks_distance(
                DDSketchPair.from_bytes(bytes(bb)))))
        return pd.Series(out)

    fns["dd_ks_distance"] = dd_ks_distance

    fns["tdigest_sketch"] = _fill_udf(
        lambda: TDigest(delta=tdigest_delta), numeric=True)
    fns["tdigest_merge"] = _merge_udf(TDigest.from_bytes)
    fns["tdigest_quantile"] = _state_arg_scalar_udf(
        TDigest.from_bytes, lambda sk, q: float(sk.quantile(float(q))),
        DoubleType())
    fns["tdigest_cdf"] = _state_arg_scalar_udf(
        TDigest.from_bytes, lambda sk, x: float(sk.cdf(float(x))),
        DoubleType())

    # ---- exact streaming moments (Pébay combine) -----------------------
    fns["moments_sketch"] = _fill_udf(MomentsSketch, numeric=True)
    fns["moments_merge"] = _merge_udf(MomentsSketch.from_bytes)
    fns["moments_count"] = _state_scalar_udf(
        MomentsSketch.from_bytes, lambda sk: int(sk.count), LongType())
    fns["moments_mean"] = _state_scalar_udf(
        MomentsSketch.from_bytes, lambda sk: float(sk.mean), DoubleType())
    fns["moments_variance"] = _state_scalar_udf(
        MomentsSketch.from_bytes, lambda sk: float(sk.variance()),
        DoubleType())
    fns["moments_skewness"] = _state_scalar_udf(
        MomentsSketch.from_bytes, lambda sk: float(sk.skewness()),
        DoubleType())
    fns["moments_kurtosis"] = _state_scalar_udf(
        MomentsSketch.from_bytes, lambda sk: float(sk.kurtosis()),
        DoubleType())
    fns["moments_min"] = _state_scalar_udf(
        MomentsSketch.from_bytes, lambda sk: float(sk.vmin), DoubleType())
    fns["moments_max"] = _state_scalar_udf(
        MomentsSketch.from_bytes, lambda sk: float(sk.vmax), DoubleType())

    # ---- rank-error quantiles: KLL (FOCS'16) + REQ (relative rank) -----
    fns["kll_sketch"] = _fill_udf(lambda: KLLSketch(k=kll_k), numeric=True)
    fns["kll_merge"] = _merge_udf(KLLSketch.from_bytes)
    fns["kll_quantile"] = _state_arg_scalar_udf(
        KLLSketch.from_bytes, lambda sk, q: float(sk.quantile(float(q))),
        DoubleType())
    fns["kll_rank"] = _state_arg_scalar_udf(
        KLLSketch.from_bytes, lambda sk, x: float(sk.rank(float(x))),
        DoubleType())

    fns["req_sketch"] = _fill_udf(
        lambda: REQSketch(k=req_k, hra=req_hra), numeric=True)
    fns["req_merge"] = _merge_udf(REQSketch.from_bytes)
    fns["req_quantile"] = _state_arg_scalar_udf(
        REQSketch.from_bytes, lambda sk, q: float(sk.quantile(float(q))),
        DoubleType())
    fns["req_rank"] = _state_arg_scalar_udf(
        REQSketch.from_bytes, lambda sk, x: float(sk.rank(float(x))),
        DoubleType())

    # ---- frequency: count-min (point estimates) + Misra-Gries top-k ----
    fns["cms_sketch"] = _fill_udf(
        lambda: CountMinSketch(depth=cms_depth, width=cms_width),
        numeric=False)
    fns["cms_merge"] = _merge_udf(CountMinSketch.from_bytes)
    fns["cms_estimate"] = _state_arg_scalar_udf(
        CountMinSketch.from_bytes,
        lambda sk, key: int(sk.query(np.array([key]))[0]), LongType())

    fns["mg_sketch"] = _fill_udf(lambda: MisraGries(k=mg_k), numeric=False)
    fns["mg_merge"] = _merge_udf(MisraGries.from_bytes)
    fns["mg_estimate_lo"] = _state_arg_scalar_udf(
        MisraGries.from_bytes, lambda sk, key: int(sk.estimate(key)[0]),
        LongType())
    fns["mg_estimate_hi"] = _state_arg_scalar_udf(
        MisraGries.from_bytes, lambda sk, key: int(sk.estimate(key)[1]),
        LongType())

    def _mg_json(sk, phi) -> str:
        import json

        hh = sk.heavy_hitters(float(phi))
        # deterministic: count desc, then key string asc
        items = sorted(hh.items(), key=lambda kv: (-kv[1], str(kv[0])))
        return json.dumps([[str(k), int(c)] for k, c in items])

    fns["mg_heavy_hitters_json"] = _state_arg_scalar_udf(
        MisraGries.from_bytes, _mg_json, StringType())

    # ---- membership: Bloom ---------------------------------------------
    fns["bloom_sketch"] = _fill_udf(
        lambda: BloomFilter(num_bits=bloom_num_bits,
                            num_hashes=bloom_num_hashes), numeric=False)
    fns["bloom_merge"] = _merge_udf(BloomFilter.from_bytes)
    fns["bloom_contains"] = _state_arg_scalar_udf(
        BloomFilter.from_bytes,
        lambda sk, key: bool(sk.contains(np.array([key]))[0]), BooleanType())

    # ---- distinct counting: HLL + theta (set algebra) ------------------
    fns["hll_sketch"] = _fill_udf(lambda: HLLSketch(p=hll_p), numeric=False)
    fns["hll_merge"] = _merge_udf(HLLSketch.from_bytes)
    fns["hll_estimate"] = _state_scalar_udf(
        HLLSketch.from_bytes, lambda sk: float(sk.estimate()), DoubleType())

    fns["theta_sketch"] = _fill_udf(
        lambda: ThetaSketch(k=theta_k), numeric=False)
    fns["theta_merge"] = _merge_udf(ThetaSketch.from_bytes)
    fns["theta_estimate"] = _state_scalar_udf(
        ThetaSketch.from_bytes, lambda sk: float(sk.estimate()),
        DoubleType())

    @F.pandas_udf(DoubleType())
    def theta_intersect_estimate(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for ba, bb in zip(a, b):
            if ba is None or bb is None:
                out.append(None)
                continue
            out.append(float(ThetaSketch.intersect(
                ThetaSketch.from_bytes(bytes(ba)),
                ThetaSketch.from_bytes(bytes(bb))).estimate()))
        return pd.Series(out)

    fns["theta_intersect_estimate"] = theta_intersect_estimate

    names = []
    for name, fn in fns.items():
        full = f"{prefix}{name}"
        spark.udf.register(full, fn)
        names.append(full)
    return names
