"""Spark SQL surface for the sketch kernels: register the fills, merges
and extractors as SQL-callable functions so a pure ``spark.sql`` user can
sketch without touching the Python API.

After ``register_sql_functions(spark)``::

    SELECT role, udds_quantile(udds_sketch(text_len), 0.99) AS p99
    FROM transcripts GROUP BY role

Every kernel family is covered: UDD / DD (signed) / t-digest (value
quantiles), KLL / REQ (rank quantiles), moments (exact stats), HLL /
theta (distinct + set algebra), count-min / Misra-Gries (frequency),
Bloom (membership). Three function shapes per family, all Arrow UDFs
(``pyspark.sql.functions.arrow_udf``):

- ``{name}_sketch(value)``  — grouped-agg Arrow UDAF: the raw values of
  one group as one ``pa.Array`` -> one serialized state blob (the
  registration-time alpha/m/p/k/delta config is baked in; register twice
  with different ``prefix`` for different configs).
- ``{name}_merge(state)``   — grouped-agg Arrow UDAF: partial state
  blobs -> one merged blob. This is the SCALE path in SQL: re-group a
  checkpointed/finest state table to any coarser grain by merging
  KB-sized blobs, exactly like ``rollup_states`` /
  ``rollup_grouping_sets`` (spark/agg.py), with no raw-data rescan.
- extractors and probes — scalar Arrow UDFs over state blobs
  (``udds_quantile(state, q)``, ``hll_estimate(state)``,
  ``bloom_contains(state, key)``, ...). They run over MERGED state tables
  whose row count is the group cardinality, so the per-row
  ``from_bytes`` is off the hot path by construction. A NULL state or
  argument gives NULL.

Hash domain: the column's SQL type sets it, never its values. A fill
hands the kernel exactly what ``partial_sketches`` does (one rule,
``agg._kernel_input``): an integer column hashes via its int64 bits,
NULLs or not, so ids above 2^53 stay distinct; a DOUBLE column hashes
via float64 bits; strings via SipHash. A probe reads its argument with
``to_pylist``, so each element keeps its own SQL type. Hence int 5 and
double 5.0 hash differently (``hashing.hash64``): probe with the
column's type (``bloom_contains(s, 2L)`` over a BIGINT column,
``bloom_contains(s, 2.0D)`` over a DOUBLE one).

Scale note (documented, deliberate): a grouped-agg UDF has NO partial
aggregation — Spark shuffles the group's RAW rows to one task and
materializes them in memory. ``{name}_sketch`` over a raw 10^12-row
table is therefore the convenience path only; the fills with map-side
partial aggregation (spark/agg.py: the Tungsten bucket histogram behind
``udds_quantiles`` / ``sketch_grouped_jvm``, the Arrow partials of
``sketch_grouped``) remain the 100 TB fill path. Locally the UDAF's one
Python stage can win on wall time (r7, 2M turns x 12 groups, local[32],
then with pandas UDAFs: 0.68 s vs two-stage Arrow 1.05 s vs fused JVM
``udds_quantile_table_jvm`` 0.61 s); the cost is shuffle bytes — n raw
rows where the two-stage path ships one KB-scale partial per (group x
partition). The intended big-data SQL idiom: fill states with those
agg.py fills (or a previous ``{name}_sketch`` at finer grain), save the
state table, then regroup in SQL with ``{name}_merge`` + extractors —
blobs only, never raw rows.

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

Kernel semantics are the library's own (core/): fills here are
byte-identical to ``sketch_grouped`` (pytest-pinned per family and key
type in tests/test_surface_parity.py), companions per their papers.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
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
from .agg import _kernel_input

__all__ = ["register_sql_functions"]


def _fill_udf(factory: Callable[[], object]):
    """Grouped-agg UDAF: one group's raw values -> serialized state."""

    @arrow_udf(BinaryType())
    def fill(v: pa.Array) -> bytes:
        sk = factory()
        vals, valid = _kernel_input(v, sk)
        if valid is not None:
            vals = vals[valid]
        if len(vals):
            sk.update(vals)
        return sk.to_bytes()

    return fill


def _merge_udf(from_bytes: Callable[[bytes], object]):
    """Grouped-agg UDAF: one group's state blobs -> merged state blob.

    Merge order inside the group is arbitrary — valid because every
    kernel merge is commutative/associative (property-tested in
    tests/test_properties.py)."""

    @arrow_udf(BinaryType())
    def merge(states: pa.Array) -> bytes:
        sk = None
        for blob in states.drop_null().to_pylist():
            part = from_bytes(blob)
            sk = part if sk is None else sk.merge(part)
        if sk is None:
            raise ValueError("merge over zero non-NULL states")
        return sk.to_bytes()

    return merge


def _state_scalar_udf(from_bytes, extract, ret_type):
    """Scalar UDF state -> extract(sketch); per-row from_bytes (runs over
    merged state tables: rows = groups)."""
    out_type = to_arrow_type(ret_type)

    @arrow_udf(ret_type)
    def fn(states: pa.Array) -> pa.Array:
        return pa.array(
            [None if b is None else extract(from_bytes(b))
             for b in states.to_pylist()], type=out_type)

    return fn


def _state_arg_scalar_udf(from_bytes, extract, ret_type):
    """Scalar UDF (state, arg) -> extract(sketch, arg). ``to_pylist``
    keeps each argument's SQL type (BIGINT -> int, DOUBLE -> float), so a
    key probe hashes in the domain its type names, whatever else shares
    its Arrow batch."""
    out_type = to_arrow_type(ret_type)

    @arrow_udf(ret_type)
    def fn(states: pa.Array, args: pa.Array) -> pa.Array:
        return pa.array(
            [None if b is None or a is None else extract(from_bytes(b), a)
             for b, a in zip(states.to_pylist(), args.to_pylist())],
            type=out_type)

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

    def at_value(from_bytes, method: str):
        """``{family}_{method}(state, x)`` -> ``float(sketch.method(x))``."""
        return _state_arg_scalar_udf(
            from_bytes, lambda sk, x: float(getattr(sk, method)(float(x))),
            DoubleType())

    # ---- quantiles: UDD (the core kernel) + t-digest -------------------
    fns["udds_sketch"] = _fill_udf(lambda: UDDSketch(initial_alpha=alpha, m=m))
    fns["udds_merge"] = _merge_udf(UDDSketch.from_bytes)
    fns["udds_quantile"] = at_value(UDDSketch.from_bytes, "quantile")
    fns["udds_count"] = _state_scalar_udf(
        UDDSketch.from_bytes, lambda sk: int(sk.count), LongType())

    # signed values (pos+neg+zero stores): DDSketch pair
    fns["dd_sketch"] = _fill_udf(lambda: DDSketchPair(initial_alpha=alpha, m=dd_m))
    fns["dd_merge"] = _merge_udf(DDSketchPair.from_bytes)
    fns["dd_quantile"] = at_value(DDSketchPair.from_bytes, "quantile")
    fns["dd_count"] = _state_scalar_udf(
        DDSketchPair.from_bytes, lambda sk: int(sk.count), LongType())
    fns["dd_cdf"] = at_value(DDSketchPair.from_bytes, "cdf")

    # sketch-level Kolmogorov-Smirnov drift between two DD states —
    # dataset-diff / drift checks in one SQL call (the SQL twin of
    # ops/diff.py's signed KS)
    fns["dd_ks_distance"] = _state_arg_scalar_udf(
        DDSketchPair.from_bytes,
        lambda sk, other: float(sk.ks_distance(DDSketchPair.from_bytes(other))),
        DoubleType())

    fns["tdigest_sketch"] = _fill_udf(lambda: TDigest(delta=tdigest_delta))
    fns["tdigest_merge"] = _merge_udf(TDigest.from_bytes)
    fns["tdigest_quantile"] = at_value(TDigest.from_bytes, "quantile")
    fns["tdigest_cdf"] = at_value(TDigest.from_bytes, "cdf")

    # ---- exact streaming moments (Pébay combine) -----------------------
    fns["moments_sketch"] = _fill_udf(MomentsSketch)
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
    fns["kll_sketch"] = _fill_udf(lambda: KLLSketch(k=kll_k))
    fns["kll_merge"] = _merge_udf(KLLSketch.from_bytes)
    fns["kll_quantile"] = at_value(KLLSketch.from_bytes, "quantile")
    fns["kll_rank"] = at_value(KLLSketch.from_bytes, "rank")

    fns["req_sketch"] = _fill_udf(lambda: REQSketch(k=req_k, hra=req_hra))
    fns["req_merge"] = _merge_udf(REQSketch.from_bytes)
    fns["req_quantile"] = at_value(REQSketch.from_bytes, "quantile")
    fns["req_rank"] = at_value(REQSketch.from_bytes, "rank")

    # ---- frequency: count-min (point estimates) + Misra-Gries top-k ----
    fns["cms_sketch"] = _fill_udf(
        lambda: CountMinSketch(depth=cms_depth, width=cms_width))
    fns["cms_merge"] = _merge_udf(CountMinSketch.from_bytes)
    fns["cms_estimate"] = _state_arg_scalar_udf(
        CountMinSketch.from_bytes,
        lambda sk, key: int(sk.query(np.array([key]))[0]), LongType())

    fns["mg_sketch"] = _fill_udf(lambda: MisraGries(k=mg_k))
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
                            num_hashes=bloom_num_hashes))
    fns["bloom_merge"] = _merge_udf(BloomFilter.from_bytes)
    fns["bloom_contains"] = _state_arg_scalar_udf(
        BloomFilter.from_bytes,
        lambda sk, key: bool(sk.contains(np.array([key]))[0]), BooleanType())

    # ---- distinct counting: HLL + theta (set algebra) ------------------
    fns["hll_sketch"] = _fill_udf(lambda: HLLSketch(p=hll_p))
    fns["hll_merge"] = _merge_udf(HLLSketch.from_bytes)
    fns["hll_estimate"] = _state_scalar_udf(
        HLLSketch.from_bytes, lambda sk: float(sk.estimate()), DoubleType())

    fns["theta_sketch"] = _fill_udf(lambda: ThetaSketch(k=theta_k))
    fns["theta_merge"] = _merge_udf(ThetaSketch.from_bytes)
    fns["theta_estimate"] = _state_scalar_udf(
        ThetaSketch.from_bytes, lambda sk: float(sk.estimate()),
        DoubleType())

    fns["theta_intersect_estimate"] = _state_arg_scalar_udf(
        ThetaSketch.from_bytes,
        lambda sk, other: float(ThetaSketch.intersect(
            sk, ThetaSketch.from_bytes(other)).estimate()),
        DoubleType())

    names = []
    for name, fn in fns.items():
        full = f"{prefix}{name}"
        spark.udf.register(full, fn)
        names.append(full)
    return names
