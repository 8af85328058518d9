"""Join-side runtime filters built from the library's own sketches.

``bloom_filtered_join`` is the classic "runtime filter" / "sideways
information passing" optimization: when joining a huge fact table against a
selective dimension subset, most fact rows don't survive the join but are
shuffled anyway. Building a Bloom filter over the dimension keys (with the
library's distributed mergeable fill) and probing it MAP-SIDE on the fact
scan drops non-joining rows before the exchange — the shuffle then carries
only (candidate ∪ false positives) ≈ selectivity + fpr of the fact table.
Zero false negatives means the subsequent real join returns exactly the
plain join's rows; the filter is purely a bandwidth optimization, which the
test suite pins by equality against the unfiltered join.

Spark's own AQE has a limited runtime-filter feature; this operator makes
the pattern explicit, works on any join the planner can't infer (e.g.
aggregated or unioned build sides), and reuses the filter across
several probes (build once, probe many).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core.bloom import BloomFilter, optimal_params

__all__ = ["bloom_key_filter", "bloom_probe", "bloom_filtered_join", "range_join"]


def bloom_key_filter(
    build: DataFrame, key_col: str, fpr: float = 0.01, expected: int | None = None
) -> BloomFilter:
    """Distributed Bloom fill over ``build``'s keys (driver-side filter
    object, ~1.2 bytes/key at 1% fpr — broadcastable up to ~10^9 keys).

    Sizing uses ``approx_count_distinct`` (Tungsten HLL++, partial-agg
    map-side — no shuffle of raw keys) unless ``expected`` is given: the
    count only picks num_bits, and a few percent of sizing error moves the
    realized fpr marginally while false negatives stay impossible, so an
    exact COUNT(DISTINCT) — a full shuffle of the build side at scale —
    buys nothing. The 1.2x headroom covers HLL++'s underestimate tail out
    to ~4 sigma at the default 5% rsd (ADVICE r5: 1.1x left ~2-sigma
    underestimates realizing a worse fpr than requested); callers that
    need a strictly honored fpr budget should pass ``expected=``
    explicitly — the sized filter then honors ``fpr`` by construction."""
    from ..spark.agg import sketch_global

    if expected is None:
        est = build.agg(
            F.approx_count_distinct(key_col).alias("d")
        ).first()["d"]
        expected = int(est * 1.2) + 1
    num_bits, num_hashes = optimal_params(max(expected, 64), fpr=fpr)
    return sketch_global(
        build,
        key_col,
        lambda: BloomFilter(num_bits=num_bits, num_hashes=num_hashes),
        BloomFilter.from_bytes,
    )


def bloom_probe(
    probe: DataFrame, key_col: str, filt: BloomFilter
) -> DataFrame:
    """Map-side pre-filter: rows of ``probe`` whose key MIGHT be in the
    build side (no false negatives). Arrow-vectorized probe, no shuffle.

    Dtype contract: integer keys are probed as int64, strings as objects —
    matching the hash64 convention the fill used (see core.hashing)."""
    blob = probe.sparkSession.sparkContext.broadcast(filt.to_bytes())
    dtype = dict(probe.dtypes)[key_col]
    # MUST mirror the fill's dtype convention (agg.partial_sketches): a
    # probe hashing a different representation than the fill produces false
    # negatives that silently DROP join rows. Int types hash as int64,
    # float AND decimal as float64 (the fill classifies decimal numeric),
    # strings as objects; anything else (timestamp/date/binary) is refused
    # rather than risking a silent representation mismatch.
    if dtype in ("bigint", "int", "smallint", "tinyint"):
        kind = "i"
    elif dtype in ("double", "float") or dtype.startswith("decimal"):
        kind = "f"
    elif dtype == "string":
        kind = "o"
    else:
        raise ValueError(
            f"bloom_probe: unsupported key dtype {dtype!r} — cast the key to "
            "a string/int/float column on BOTH sides first"
        )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bf = BloomFilter.from_bytes(blob.value)
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            if kind == "i":
                keys = pdf[key_col].to_numpy().astype(np.int64, copy=False)
            elif kind == "f":
                keys = pdf[key_col].to_numpy().astype(np.float64, copy=False)
            else:
                keys = pdf[key_col].to_numpy().astype(object)
            yield pdf[bf.contains(keys)]

    return probe.mapInPandas(scan, schema=probe.schema)


def bloom_filtered_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    fpr: float = 0.01,
    dim_key: str | Sequence[str] | None = None,
) -> DataFrame:
    """``fact.join(dim, on, how)`` with a Bloom runtime filter on the fact
    side. Result rows are IDENTICAL to the plain join (the exact join runs
    after the pre-filter; Bloom only thins the exchange input). ``how``
    must be inner/semi — outer joins need the dropped rows.

    Multi-column keys are supported directly: the filter fills and probes
    ``xxhash64(k1, ..., kn)`` (one int64 per row, computed JVM-side on both
    scans). Equal key tuples hash equal, so the composition preserves the
    zero-false-negative guarantee; hash collisions only add false
    positives, which the exact join removes."""
    if how not in ("inner", "left_semi", "semi"):
        raise ValueError("bloom_filtered_join supports inner/semi joins only")
    keys = [on] if isinstance(on, str) else list(on)
    dim_keys = (
        keys
        if dim_key is None
        else ([dim_key] if isinstance(dim_key, str) else list(dim_key))
    )
    if len(dim_keys) != len(keys):
        raise ValueError("dim_key must name one column per fact key")
    if len(keys) == 1:
        filt = bloom_key_filter(dim, dim_keys[0], fpr=fpr)
        thinned = bloom_probe(fact, keys[0], filt)
    else:
        ck = "__bloom_ck"
        filt = bloom_key_filter(
            dim.withColumn(ck, F.xxhash64(*dim_keys)), ck, fpr=fpr
        )
        thinned = bloom_probe(
            fact.withColumn(ck, F.xxhash64(*keys)), ck, filt
        ).drop(ck)
    return thinned.join(dim, on, how)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str = "start",
    end_col: str = "end",
    by: Sequence[str] = (),
    bucket_width: float | None = None,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join: every (point row, interval row) pair with
    ``start <= point < end`` (plus ``by`` equality keys).

    Spark plans a naive range predicate as a broadcast-nested-loop or
    cartesian product — O(|P| x |I|) per key. This operator grids the value
    domain: each interval explodes to the buckets it covers, each point
    belongs to exactly ONE bucket, and the join becomes an equi-join on
    (by..., bucket) + an exact containment filter. Because a point has one
    bucket, no dedup is needed. Cost: intervals replicate by
    ceil(length/bucket_width)+1 (choose bucket_width ~ the typical interval
    length; default = the mean interval length, one tiny agg job), points
    never replicate, and the shuffle is a plain hash exchange.

    ``how``: "inner" or "left" (left also keeps point rows with no covering
    interval, interval columns NULL). Both flavors are ONE equi-join on
    (by..., bucket) carrying the containment predicate as an extra join
    condition — a point with no covering interval surfaces as the left
    join's single NULL-extended row, so no second distinct/anti-join pass
    over the points is needed (r4 review item 5).
    """
    if how not in ("inner", "left"):
        raise ValueError("range_join supports inner/left joins only")
    by = list(by)
    if bucket_width is None:
        row = intervals.agg(
            F.avg(F.col(end_col) - F.col(start_col)).alias("w")
        ).first()
        bucket_width = float(row["w"]) if row["w"] else 1.0
        if bucket_width <= 0:
            bucket_width = 1.0
    w = float(bucket_width)

    # an interval whose exclusive end falls exactly on a bucket boundary
    # replicates into one extra bucket; the exact containment filter drops
    # those rows, so correctness is unaffected
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / w).cast("long"),
                F.floor(F.col(end_col) / w).cast("long"),
            )
        ),
    )
    pt = points.withColumn("_bucket", F.floor(F.col(point_col) / w).cast("long"))
    # containment rides IN the join condition (not a post-filter): the
    # equi-join still hashes on (by..., bucket), the range check runs inside
    # the join operator, and a left join then NULL-extends exactly the
    # points with no covering interval — one job, no anti-join pass
    cond = [pt["_bucket"] == iv["_bucket"]] + [pt[c] == iv[c] for c in by]
    containment = (pt[point_col] >= iv[start_col]) & (pt[point_col] < iv[end_col])
    joined = pt.join(iv, cond + [containment], how)
    iv_payload = [c for c in intervals.columns if c not in by]
    return joined.select(
        *[pt[c] for c in points.columns],
        *[iv[c].alias(c if c not in points.columns else c + "_iv")
          for c in iv_payload],
    )
