"""Distributed sketch aggregation: Arrow-vectorized partials + mergeable reduce.

The Spark equivalent of the reference's MPI pipeline
(/root/reference/psketches/pudds.cpp:118-203): per-rank local sketch build ->
custom commutative MPI_Reduce -> root-rank quantile query becomes

    df.select(cols)                      # column pruning reaches the scan
      .mapInArrow(partial_fn)            # per-partition sketch, Arrow batches,
                                         #   dictionary-code map-side combine
      .repartition(group)                # keyed merge (_map_key_runs):
      .sortWithinPartitions(group)       #   shuffles ~KB sketch blobs, never
      .mapInArrow(merge_runs)            #   raw rows; one Python call per
                                         #   partition walks its key runs
      -- or --
      .rdd.treeAggregate(merge, depth=2) # global merge, two-level tree

The JVM fills (sketch_grouped_jvm, udds_quantile_table_jvm,
dd_states_grouped_jvm) end in the same key-run stage over the Tungsten
bucket table, and a grouped finalize (quantiles, estimates) runs inside
it rather than as a second stage. A state table that already holds one
row per key (saved, rolled up, or checkpointed) is finalized by the same
row emitter in one exchange-free mapInArrow (_map_states:
quantile_table, sketches.moments_table, sketches.distinct_table); a
global answer is the same rows built on the driver (_global_quantiles).

Scale notes (100 TB / 1000 executors):
  * the only shuffle moves (n_groups x n_partitions) sketch blobs of
    ~16*m bytes (m=200 -> ~3 KB); raw rows never cross the wire.
  * group-key skew is irrelevant post-partial (one row per group per
    partition); input conv_id skew is handled by skew.salted_repartition.
  * per-row work is numpy inside Arrow batches, except that a string
    value column becomes one Python ``str`` per row before the kernel
    hashes it (partial_sketches).
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence

import numpy as np
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..core.ddsketch import DDSketchPair
from ..core.uddsketch import MIN_ADDRESSABLE, UDDSketch

__all__ = [
    "dd_bucket_counts",
    "dd_sketch_global_jvm",
    "dd_states_grouped_jvm",
    "partial_sketches",
    "merge_grouped",
    "rollup_grouping_sets",
    "rollup_cube",
    "rollup_hierarchy",
    "rollup_states",
    "sketch_grouped",
    "sketch_global",
    "quantile_table",
    "udds_quantiles",
    "udds_sketch_global_jvm",
]

# A sketch kernel is anything with: update(np.ndarray)->self, merge(other)->self,
# to_bytes()->bytes, classmethod from_bytes(bytes), and int attrs count /
# num_buckets / num_collapses (companion sketches report 0 collapses); a
# weighted fill also needs update_weighted(values, counts)->self.
SketchFactory = Callable[[], object]

def _state_fields(tail: str) -> list[StructField]:
    """The state-row columns after the group keys: the blob, its metrics,
    and ``tail`` (partition_id on partials, num_partials on merged states)."""
    return [
        StructField("state", BinaryType(), False),
        StructField("n", LongType(), False),
        StructField("buckets", IntegerType(), False),
        StructField("collapses", IntegerType(), False),
        StructField(tail, IntegerType(), False),
    ]


# the columns a quantile finalize emits after the group keys
_QUANTILE_FIELDS = [
    StructField("q", DoubleType(), False),
    StructField("est", DoubleType(), True),
]


def _quantile_rows(sk, qs) -> list[tuple]:
    """The quantile finalize of one sketch: a (q, est) row per q, in
    _QUANTILE_FIELDS order."""
    return [(float(q), float(sk.quantile(q))) for q in qs]


def _global_quantiles(spark: SparkSession, sk, qs) -> DataFrame:
    """DataFrame[q, est] of a driver-side sketch: every global quantile
    answer, typed like the grouped ones."""
    return spark.createDataFrame(_quantile_rows(sk, qs), StructType(_QUANTILE_FIELDS))


def _metrics_of(sk) -> tuple[int, int, int]:
    # DD pair-store folds count as collapses too: they widen the error
    # window just as a uniform collapse widens alpha
    return (
        int(getattr(sk, "count", 0)),
        int(getattr(sk, "num_buckets", 0)),
        int(getattr(sk, "num_collapses", 0)) + int(getattr(sk, "pair_collapses", 0)),
    )


def _kernel_input(col, sk) -> tuple[np.ndarray, np.ndarray | None]:
    """``(values, valid)`` that kernel ``sk`` gets for Arrow column ``col``
    (``valid`` None: all rows count) — the one rule of every fill surface:
    partial_sketches, the SQL functions and the streaming updates.

    * integer column, hash/exact kernel: int64 plus a validity mask, so
      ids above 2^53 stay distinct and Misra-Gries keys stay ints;
    * other numeric column, or numeric kernel: float64, NULL as NaN (which
      every kernel drops); integers above 2^53 round, as in any float
      kernel (``safe=False``: the checked cast raises on them);
    * anything else: ``to_numpy`` (a Python ``str`` per row for strings)
      plus a validity mask.

    So the SQL type alone sets the hash domain: int 5 and double 5.0 hash
    differently (``hashing.hash64``)."""
    import pyarrow as pa

    t = col.type
    if (pa.types.is_integer(t)
            and getattr(sk, "value_family", "numeric") in ("hash", "exact")):
        valid = ~np.asarray(col.is_null()) if col.null_count else None
        return col.fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64), valid
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t):
        return col.cast(pa.float64(), safe=False).to_numpy(zero_copy_only=False), None
    return col.to_numpy(zero_copy_only=False), ~np.asarray(col.is_null())


def partial_sketches(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    factory: SketchFactory = UDDSketch,
    weight_col: str | None = None,
) -> DataFrame:
    """Stage 1: one sketch row per (group x input-partition).

    mapInArrow map-side combine: group columns stay dictionary-encoded
    (codes are int32 numpy; only the per-DISTINCT-group values ever become
    Python objects), so group columns cost no per-row Python objects — the
    pandas conversion of millions of group strings was the hot spot at 50M+
    rows. Numeric values go straight to the kernel's numpy ``update``; a
    string value column (the HLL/CMS/Bloom/theta fills over ``conv_id``)
    still becomes one Python ``str`` per row in ``to_numpy`` before the
    kernel hashes it. Emits per-partition
    lineage/metrics (partition_id, n, buckets, collapses) per the
    north_rule, mirroring the reference's per-rank logs
    (/root/reference/ParallelDDSketch/src/ParallelSketcher.cc:662-708).

    ``weight_col``: fill an already counted (value, count) table, e.g.
    ``groupBy(group, value).count()``, with the kernel's
    ``update_weighted`` — the Arrow exchange then carries one row per
    distinct (group, value). The merged states (merge_grouped, or
    sketch_global's weight_col) are
      * state-identical to the row fill for UDD (same bucket increments),
        HLL, Bloom and theta (duplicate-insensitive) and count-min
        (additive counters);
      * bound-preserving but not state-identical for t-digest and
        Misra-Gries (compression / shrink sees different intermediate
        states, so centroids / counters can differ while the published
        error bounds still hold);
      * rejected for KLL, REQ and DD (rank compaction and pair stores
        sample items; they have no ``update_weighted``), with a TypeError
        before any job runs.
    """
    group_cols = list(group_cols)
    if weight_col is not None and not hasattr(factory(), "update_weighted"):
        raise TypeError(
            f"{type(factory()).__name__} does not support weighted update; "
            "a weight_col fill needs a kernel with update_weighted")
    schema = StructType([df.schema[c] for c in group_cols]
                        + _state_fields("partition_id"))
    sel = [*group_cols, value_col] + ([weight_col] if weight_col else [])
    pruned = df.select(*sel)

    def build(batches):
        import pyarrow as pa

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        sketches: dict[tuple, object] = {}
        proto = factory()  # its value_family picks the kernel input
        update = "update" if weight_col is None else "update_weighted"

        def fill(sk, idx):
            # update(values) or update_weighted(values, counts) on rows idx
            getattr(sk, update)(*(c[idx] for c in cols))

        for batch in batches:
            vals_all, valid = _kernel_input(batch.column(len(group_cols)), proto)
            cols = [vals_all]
            if weight_col is not None:
                cols.append(batch.column(len(group_cols) + 1)
                            .to_numpy(zero_copy_only=False).astype(np.int64))
            if not group_cols:
                fill(sketches.setdefault((), factory()),
                     slice(None) if valid is None else valid)
                continue
            # dictionary-encode each group col: int codes, tiny value dicts
            code_arrays, dicts = [], []
            for gi in range(len(group_cols)):
                de = batch.column(gi).dictionary_encode()
                codes = de.indices.to_numpy(zero_copy_only=False)
                if de.indices.null_count:
                    codes = np.where(np.isnan(codes), len(de.dictionary), codes)
                codes = codes.astype(np.int64)
                code_arrays.append(codes)
                dicts.append(de.dictionary.to_pylist() + [None])
            combined = code_arrays[0]
            for gi in range(1, len(group_cols)):
                combined = combined * len(dicts[gi]) + code_arrays[gi]
            order = np.argsort(combined, kind="stable")
            sorted_codes = combined[order]
            starts = np.flatnonzero(np.diff(sorted_codes, prepend=sorted_codes[0] - 1)) if sorted_codes.size else np.empty(0, np.int64)
            for i, g0 in enumerate(starts):
                g1 = starts[i + 1] if i + 1 < len(starts) else len(sorted_codes)
                code = sorted_codes[g0]
                key = []
                for gi in reversed(range(len(group_cols))):
                    code, r = divmod(code, len(dicts[gi])) if gi > 0 else (0, code)
                    key.append(dicts[gi][int(r)])
                key = tuple(reversed(key))
                sk = sketches.get(key)
                if sk is None:
                    sk = sketches[key] = factory()
                idx = order[g0:g1]
                if valid is not None:
                    idx = idx[valid[idx]]
                fill(sk, idx)
        from pyspark.sql.pandas.types import to_arrow_schema

        out_schema = to_arrow_schema(schema)
        rows = [(*key, *_state_values(sk, pid)) for key, sk in sketches.items()]
        cols = list(zip(*rows)) or [()] * len(out_schema)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, out_schema)], schema=out_schema)

    return pruned.mapInArrow(build, schema=schema)


def _state_values(sk, num_partials: int) -> tuple:
    """The state-row columns after the group keys (_state_fields order)."""
    return (sk.to_bytes(), *_metrics_of(sk), num_partials)


def _run_starts(keys) -> np.ndarray:
    """Offsets at which a run of equal key tuples begins in ``keys`` (a
    pyarrow Table sorted by those columns). Equality is groupBy's: NULL
    matches NULL and NaN matches NaN (dictionary codes, not ``==``)."""
    change = np.zeros(keys.num_rows, dtype=bool)
    change[:1] = True
    for col in keys.itercolumns():
        codes = col.combine_chunks().dictionary_encode().indices
        codes = codes.fill_null(-1).to_numpy()
        change[1:] |= codes[1:] != codes[:-1]
    return np.flatnonzero(change)


def _row_emitter(keys: Sequence[str], value_fields: Sequence[StructField]):
    """``emit(src, runs)``, the output batch of every finalize stage:
    ``runs`` pairs a row offset of pyarrow Table ``src`` with the value
    tuples to emit for it. The batch holds the ``keys`` columns of ``src``
    taken at those offsets (Arrow ``take``, so keys keep their type, NULLs
    and NaNs), then one column per value field. Yields nothing when no run
    has a row. Runs on the executor."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    keys = list(keys)
    value_types = [f.type for f in to_arrow_schema(StructType(list(value_fields)))]
    names = keys + [f.name for f in value_fields]

    def emit(src, runs):
        idx, rows = [], []
        for i, got in runs:
            idx += [i] * len(got)
            rows += got
        if rows:
            cols = [src.column(k).take(idx).combine_chunks() for k in keys]
            cols += [pa.array(c, type=t) for c, t in zip(zip(*rows), value_types)]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return emit


def _map_key_runs(
    df: DataFrame,
    keys: Sequence[str],
    value_fields: Sequence[StructField],
    per_run: Callable[[object], list],
) -> DataFrame:
    """DataFrame[keys..., value_fields...] with the rows ``per_run`` returns
    for each group: one shuffle by ``keys``, a sort within partitions, and
    ONE mapInArrow Python call per partition walking its contiguous key
    runs — not a Python call and a pandas frame in and out per group.

    ``per_run`` gets a pyarrow Table holding one whole group (every column
    of ``df``) and returns a list of value tuples, one per output row. A
    group that straddles Arrow batches is carried into the next batch, so
    memory stays bounded by one group plus one batch. Key columns are
    emitted with Arrow ``take`` on the run starts, so they keep their
    Arrow type and NULLs. Float keys are normalized before the shuffle
    (-0.0 -> 0.0, one NaN), the equality groupBy uses.
    """
    keys = list(keys)

    def normalized(k: str) -> Column:
        t = df.schema[k].dataType
        if t.typeName() not in ("float", "double"):
            return F.col(k)
        return (F.when(F.isnan(k), F.lit(float("nan")).cast(t))
                .when(F.col(k) == 0, F.lit(0.0).cast(t))
                .otherwise(F.col(k)).alias(k))

    src = df.select(*map(normalized, keys), *[c for c in df.columns if c not in keys])
    schema = StructType([src.schema[k] for k in keys] + list(value_fields))

    def stage(batches):
        import pyarrow as pa

        out = _row_emitter(keys, value_fields)
        pending: list = []  # slices of the open run (the last run seen)
        open_key = None  # its key, a one-row Table

        def emit(key_src, runs):
            """per_run's rows for ``runs``, (key row of ``key_src``, slices
            of one group) pairs."""
            return out(key_src, ((i, per_run(pa.Table.from_batches(parts)))
                                 for i, parts in runs))

        for batch in batches:
            if batch.num_rows == 0:
                continue
            batch_keys = pa.Table.from_batches([batch]).select(keys)
            # the open run's key leads the probe, so a run that continues
            # into this batch shows no start at probe row 1
            lead = 0 if open_key is None else 1
            probe = batch_keys if open_key is None else pa.concat_tables([open_key, batch_keys])
            starts = _run_starts(probe)
            starts = [int(i) - lead for i in starts if i >= lead]  # in the batch
            runs = []  # the runs this batch closes
            if open_key is not None:
                head = starts[0] if starts else batch.num_rows
                if head:
                    pending.append(batch.slice(0, head))
                if not starts:
                    continue  # the whole batch continues the open run
                runs.append((0, pending))
            runs += [(i + lead, [batch.slice(i, j - i)])
                     for i, j in zip(starts[:-1], starts[1:])]
            pending, open_key = [batch.slice(starts[-1])], batch_keys.slice(starts[-1], 1)
            yield from emit(probe, runs)
        if pending:
            yield from emit(open_key, [(0, pending)])

    return (
        src.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInArrow(stage, schema=schema)
    )


def _merge_runs(
    partials: DataFrame,
    group_cols: Sequence[str],
    from_bytes: Callable[[bytes], object],
    value_fields: Sequence[StructField],
    emit: Callable[[object, int], list],
) -> DataFrame:
    """One key-run stage that merges each group's state blobs and returns
    ``emit(merged_sketch, num_blobs)`` rows: merge_grouped's state row, or
    a finalize (quantiles, estimates) with no second stage."""

    def per_run(run) -> list:
        blobs = run.column("state").to_pylist()
        sk = from_bytes(blobs[0])
        for blob in blobs[1:]:
            sk = sk.merge(from_bytes(blob))
        return emit(sk, len(blobs))

    return _map_key_runs(partials.select(*group_cols, "state"), group_cols,
                         value_fields, per_run)


def merge_grouped(
    partials: DataFrame,
    group_cols: Sequence[str],
    from_bytes: Callable[[bytes], object],
) -> DataFrame:
    """Stage 2: shuffle partial states by group, merge per group.

    The shuffle payload is sketch blobs only. Merge order is arbitrary —
    valid because kernel merge is commutative/associative (property-tested).
    """
    group_cols = list(group_cols)
    if not group_cols:
        raise ValueError("merge_grouped needs group_cols; use sketch_global for global")
    return _merge_runs(partials, group_cols, from_bytes,
                       _state_fields("num_partials"),
                       lambda sk, k: [_state_values(sk, k)])


# treeAggregate levels of every global merge: executors pairwise-merge
# blobs at this many levels, the driver receives one blob
_TREE_DEPTH = 2


def _merge_global(states: DataFrame, fb) -> bytes | None:
    """The merged blob of every ``state`` of ``states``, or None when it
    has none: sketch_global's and rollup_states' one global merge.

    treeAggregate with a None sentinel: ONE job, same pairwise merge
    tree as RDD.treeReduce (which PySpark implements as exactly this
    aggregate over (isZero, value) pairs — so results stay bit-identical
    for order-sensitive kernels like KLL). Replaces the old
    persist + isEmpty + treeReduce + unpersist dance, which cost one extra
    job (the isEmpty take(1)) and a cache round-trip per global fill —
    measured r7: that overhead was a fixed ~0.15-0.3 s tax on every one of
    the nine headline queries that end in a global fill (guide §1.2: remove
    passes before tuning anything else)."""
    def seq(acc, b):
        return b if acc is None else fb(acc).merge(fb(b)).to_bytes()

    def comb(a, b):
        if a is None:
            return b
        if b is None:
            return a
        return fb(a).merge(fb(b)).to_bytes()

    blobs = states.select("state").rdd.map(lambda r: bytes(r[0]))
    return blobs.treeAggregate(None, seq, comb, depth=_TREE_DEPTH)


def rollup_states(
    states: DataFrame,
    group_cols: Sequence[str],
    from_bytes: Callable[[bytes], object],
):
    """Re-aggregate an EXISTING sketch-state table to a coarser grouping —
    the incremental-rollup pattern: materialize per-(day, group) states
    once (plain parquet; ``state`` is a binary column), then ANY coarser
    query — a date range, a group rollup, the global figure — is a merge
    over a few KB of states, never a rescan of the raw table. At 10^12
    turns that turns repeat quantile queries from full-scan cost into
    metadata cost. Valid because kernel merge is commutative/associative
    (property-tested); with no collapses the rollup is bit-identical to a
    full recompute (oracle-checked by the udds_rollup_daily driver query).

    group_cols non-empty -> DataFrame[group..., state, n, ...];
    group_cols empty -> the merged kernel object (treeReduce, like
    sketch_global).
    """
    group_cols = list(group_cols)
    if group_cols:
        return merge_grouped(states, group_cols, from_bytes)
    out = _merge_global(states, from_bytes)
    if out is None:
        raise ValueError("rollup_states: empty state table")
    return from_bytes(out)


def rollup_grouping_sets(
    states: DataFrame,
    grouping_sets: Sequence[Sequence[str]],
    from_bytes: Callable[[bytes], object],
) -> DataFrame:
    """SQL GROUPING SETS over a sketch-state table: every requested
    grouping set is derived from ONE finest-grain state table by merging
    states — the raw table is scanned exactly once (by whoever built
    ``states``), and each set costs a merge over KB-sized blobs instead of
    a rescan. The sketch-native form of the classic one-pass OLAP cube: at
    10^12 turns, ``CUBE(role, tool)`` as four separate aggregations is four
    full scans; here it is one fill plus three merges of a
    |distinct(role, tool)|-row table.

    ``states``: DataFrame[cols..., state, n, buckets, collapses, ...] whose
    grouping columns are (a superset of) the union of ``grouping_sets`` —
    the output of sketch_grouped / sketch_grouped_jvm / dd_states_grouped_jvm
    on the FINEST grouping, or a checkpointed state table. The caller
    persists it (it is tiny); each grouping set references it again.

    Returns DataFrame[all_cols..., grouping_id, state, n, buckets,
    collapses] — one row per group cell per set, columns absent from a set
    padded with NULL, and ``grouping_id`` following the SQL / Spark
    ``grouping_id()`` bit convention (first column of the ordered union =
    most significant bit; bit set = column aggregated away), so rollup
    NULLs are distinguishable from data NULLs exactly as in SQL.

    Validity: kernel merge is commutative/associative (property-tested),
    so every cell equals a direct fill on its slice up to merge effects —
    bit-identical for UDD m=0 / DD / HLL / CMS / Bloom / theta /
    moments, bound-preserving for t-digest / Misra-Gries (see
    partial_sketches' weight_col note for the same taxonomy).
    """
    sets = [list(s) for s in grouping_sets]
    if not sets:
        raise ValueError("rollup_grouping_sets: no grouping sets")
    all_cols: list[str] = []
    seen: set[frozenset] = set()
    for s in sets:
        for c in s:
            if c not in all_cols:
                all_cols.append(c)
        if len(set(s)) != len(s):
            raise ValueError(f"duplicate column in grouping set {s}")
        # a repeated set (in any column order) would share one grouping_id
        # and merge its cells twice over
        if frozenset(s) in seen:
            raise ValueError(f"duplicate grouping set {s}")
        seen.add(frozenset(s))
    missing = [c for c in all_cols if c not in states.columns]
    if missing:
        raise ValueError(f"states table lacks grouping columns {missing}")
    dtypes = {f.name: f.dataType for f in states.schema.fields}
    # ONE merge stage for every set (r7): project the state table once per
    # set — keys kept for the set's columns, NULL-padded otherwise, plus
    # the set's grouping_id — union the projections, and merge with a
    # single merge_grouped keyed by (all_cols + grouping_id). grouping_id
    # separates the sets, so cells are merged over exactly the same state
    # rows as the old one-merge-per-set form (bit-identical for the
    # exact-merge kernels; same bounds otherwise), while N sets cost one
    # shuffle + one Python stage instead of N of each — the per-stage
    # overhead was most of this operator's wall time, the blobs being KB.
    parts = []
    for s in sets:
        gid = sum(
            1 << (len(all_cols) - 1 - i)
            for i, c in enumerate(all_cols)
            if c not in s
        )
        parts.append(
            states.select(
                *[
                    F.col(c) if c in s else F.lit(None).cast(dtypes[c]).alias(c)
                    for c in all_cols
                ],
                F.lit(gid).cast("int").alias("grouping_id"),
                "state",
            )
        )
    tagged = parts[0]
    for p in parts[1:]:
        tagged = tagged.unionByName(p)
    return merge_grouped(
        tagged, all_cols + ["grouping_id"], from_bytes
    ).select(*all_cols, "grouping_id", "state", "n", "buckets", "collapses")


def rollup_cube(
    states: DataFrame,
    cols: Sequence[str],
    from_bytes: Callable[[bytes], object],
) -> DataFrame:
    """CUBE(cols): all 2^|cols| grouping sets from one finest state table
    (SQL ``GROUP BY CUBE`` semantics, sketch-merge cost)."""
    cols = list(cols)
    if len(cols) > 10:
        raise ValueError("rollup_cube: 2^|cols| sets; use rollup_grouping_sets")
    sets = [
        [c for i, c in enumerate(cols) if mask & (1 << (len(cols) - 1 - i))]
        for mask in range((1 << len(cols)) - 1, -1, -1)
    ]
    return rollup_grouping_sets(states, sets, from_bytes)


def rollup_hierarchy(
    states: DataFrame,
    cols: Sequence[str],
    from_bytes: Callable[[bytes], object],
) -> DataFrame:
    """ROLLUP(cols): the prefix chain (c1..ck), (c1..ck-1), ..., () — SQL
    ``GROUP BY ROLLUP`` semantics at sketch-merge cost."""
    cols = list(cols)
    sets = [cols[:i] for i in range(len(cols), -1, -1)]
    return rollup_grouping_sets(states, sets, from_bytes)


def sketch_grouped(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    factory: SketchFactory = UDDSketch,
    from_bytes: Callable[[bytes], object] | None = None,
) -> DataFrame:
    """partials -> keyed merge. Returns DataFrame[group..., state, n, buckets, collapses, num_partials].

    A table already counted by (group, value) fills with
    ``partial_sketches(weight_col=)`` + merge_grouped instead (see its
    weight_col note for which kernels give the same states).

    When collapses happen: a bounded UDD kernel (m > 0) may collapse
    *during* this fill, per partition and again at each merge, while the
    JVM fill (sketch_grouped_jvm) assembles each group's bucket table and
    collapses once. Both satisfy the alpha bound, but with collapses the
    bucket sets can differ; with none (m=0 or a large m) the two are
    bit-identical.
    """
    fb = from_bytes or _default_from_bytes(factory)
    return merge_grouped(partial_sketches(df, value_col, group_cols, factory),
                         group_cols, fb)


def _default_from_bytes(factory: SketchFactory):
    probe = factory()
    return type(probe).from_bytes


def sketch_global(
    df: DataFrame,
    value_col: str,
    factory: SketchFactory = UDDSketch,
    from_bytes: Callable[[bytes], object] | None = None,
    weight_col: str | None = None,
):
    """Global sketch via two-level treeReduce over serialized partials.

    Spark analogue of the reference's MPI_Reduce with a custom commutative op
    (/root/reference/psketches/pudds.cpp:45-57,175-182): executors pairwise-
    merge blobs (_merge_global), the driver receives one blob.
    Returns the merged kernel object (driver-side, like rank 0).
    ``weight_col``: fill from an ALREADY-counted (value, count) table (see
    partial_sketches) — the caller pays the Tungsten count once and can
    reuse it for other work.
    """
    fb = from_bytes or _default_from_bytes(factory)
    out = _merge_global(partial_sketches(df, value_col, (), factory, weight_col), fb)
    return factory() if out is None else fb(out)


def _map_states(
    states: DataFrame,
    keys: Sequence[str],
    from_bytes: Callable[[bytes], object],
    value_fields: Sequence[StructField],
    emit: Callable[[object], list],
) -> DataFrame:
    """DataFrame[keys..., value_fields...] with the rows ``emit(sketch)``
    returns for each row of ``states``, a state table that already holds
    one row per key: ONE mapInArrow over the table as it is partitioned —
    no exchange, no sort. Keys pass through with _row_emitter's Arrow
    ``take``, as on the key-run stage."""
    keys = list(keys)
    schema = StructType([states.schema[k] for k in keys] + list(value_fields))

    def stage(batches):
        import pyarrow as pa

        out = _row_emitter(keys, value_fields)
        for batch in batches:
            blobs = batch.column("state").to_pylist()
            yield from out(pa.Table.from_batches([batch]),
                           ((i, emit(from_bytes(b))) for i, b in enumerate(blobs)))

    return states.select(*keys, "state").mapInArrow(stage, schema=schema)


def quantile_table(
    merged: DataFrame,
    group_cols: Sequence[str],
    qs: Sequence[float],
    from_bytes: Callable[[bytes], object] = UDDSketch.from_bytes,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Finalize: DataFrame[group..., q, est, extra...] from merged sketch
    states, one row per (group, q), in one exchange-free mapInArrow
    (_map_states). ``extra_cols`` pass through columns of ``merged`` (e.g.
    the n metric) WITHOUT a self-join — joining the finalized table back to
    ``merged`` would recompute the whole fill pipeline (second scan)."""
    group_cols, extra_cols, qs = list(group_cols), list(extra_cols), list(qs)
    return _map_states(
        merged, group_cols + extra_cols, from_bytes, _QUANTILE_FIELDS,
        lambda sk: _quantile_rows(sk, qs),
    ).select(*group_cols, "q", "est", *extra_cols)


# --------------------------------------------------------------------------
# JVM fill path: the UDD bucket-key function is a Catalyst expression, so the
# whole fill stage runs as a Tungsten hash aggregation (codegen, map-side
# partial + final) — Python only ever sees the tiny (group, key, count)
# bucket table. This is the idiomatic-Spark equivalent of the reference's
# per-rank fill loop (pudds.cpp:150-153) and is the scale path: per-row work
# never leaves the JVM; shuffle moves bucket counts, not rows.
# --------------------------------------------------------------------------
def _log_bucket_key(mag: Column, alpha: float) -> Column:
    """BIGINT ceil(ln(mag) / ln gamma), gamma = (1+alpha)/(1-alpha), and NULL
    below MIN_ADDRESSABLE (the zero bucket, uddsketch.cpp:176-179): the
    kernels' non-compat key function as a Catalyst expression. The SQL
    oracles replay this exact expression, so keep it byte-for-byte."""
    gamma0 = (1.0 + alpha) / (1.0 - alpha)
    log_gamma = float(np.log(gamma0))
    return F.when(
        mag >= MIN_ADDRESSABLE, F.ceil(F.log(mag) / F.lit(log_gamma)).cast("long")
    )


def udds_bucket_counts(
    df: DataFrame, value_col: str, group_cols: Sequence[str], alpha: float
) -> DataFrame:
    """(group..., _bkey, _bcnt): JVM-side log-bucket histogram.

    _bkey NULL encodes the zero bucket (v < MIN_ADDRESSABLE, incl. 0 and
    negatives, matching uddsketch.cpp:176-179); NaNs are dropped.
    """
    v = F.col(value_col)
    return (
        df.select(*group_cols, v.alias(value_col))
        .where(~F.isnan(v.cast("double")) & v.isNotNull())
        .groupBy(*group_cols, _log_bucket_key(v, alpha).alias("_bkey"))
        .agg(F.count(F.lit(1)).alias("_bcnt"))
    )


def _udds_of(table, alpha: float, m: int) -> UDDSketch:
    """UDDSketch from a (_bkey, _bcnt) bucket table (a pyarrow Table); NULL
    _bkey is the zero bucket. Every JVM UDD fill, grouped or global,
    assembles here."""
    bkey = table.column("_bkey")
    zero = bkey.is_null().to_numpy()
    live = ~zero
    cnt = table.column("_bcnt").to_numpy()
    return UDDSketch.from_bucket_table(
        alpha, m, int(cnt[zero].sum()),
        bkey.fill_null(0).to_numpy()[live], cnt[live],
    )


def sketch_grouped_jvm(
    df: DataFrame, value_col: str, group_cols: Sequence[str], alpha: float, m: int
) -> DataFrame:
    """UDDSketch states via the JVM fill path: DataFrame[group..., state, n,
    buckets, collapses, num_partials].

    The fill is a Tungsten hash aggregation (udds_bucket_counts); one
    key-run stage (_map_key_runs) then assembles each group's
    <= |distinct keys|-row bucket table and collapses it to the m bound
    once. ``num_partials`` is the group's bucket-row count.
    """
    group_cols = list(group_cols)
    if not group_cols:
        raise ValueError("sketch_grouped_jvm needs group_cols; "
                         "use udds_sketch_global_jvm for global")
    buckets = udds_bucket_counts(df, value_col, group_cols, alpha)
    return _map_key_runs(
        buckets, group_cols, _state_fields("num_partials"),
        lambda run: [_state_values(_udds_of(run, alpha, m), run.num_rows)],
    )


def udds_sketch_global_jvm(
    df: DataFrame, value_col: str, alpha: float, m: int
) -> UDDSketch:
    """Global UDDSketch via the JVM fill (driver-side object): the Tungsten
    histogram's <= |distinct keys| rows are collected and assembled once.
    With m=0 it is bucket-identical to sketch_global's Arrow fill."""
    return _udds_of(udds_bucket_counts(df, value_col, (), alpha).toArrow(), alpha, m)


def udds_quantile_table_jvm(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    qs: Sequence[float],
    alpha: float,
    m: int,
) -> DataFrame:
    """Fused JVM path: DataFrame[group..., q, est, n]. Bucket histogram
    (Tungsten) -> ONE key-run stage assembling each group's sketch AND
    reading its quantiles — a single Python stage over the tiny bucket
    table (half the Python stages of sketch_grouped_jvm + quantile_table;
    same results)."""
    group_cols = list(group_cols)
    qs = [float(q) for q in qs]
    buckets = udds_bucket_counts(df, value_col, group_cols, alpha)

    def finalize(run) -> list:
        sk = _udds_of(run, alpha, m)
        return [(*row, sk.count) for row in _quantile_rows(sk, qs)]

    return _map_key_runs(
        buckets, group_cols,
        [*_QUANTILE_FIELDS, StructField("n", LongType(), False)], finalize,
    )


def udds_quantiles_multi(
    df: DataFrame,
    value_cols: Sequence[str],
    group_cols: Sequence[str] = (),
    qs: Iterable[float] = (0.5, 0.9, 0.99, 0.999),
    alpha: float = 0.01,
    m: int = 200,
) -> DataFrame:
    """Quantiles for SEVERAL numeric features in ONE scan.

    The reference runs one reduction per binary invocation; on a 100 TB
    table the scan dominates, so re-reading it per feature is the real
    cost. Here ``posexplode`` over an array of the feature columns (one
    codegen'd Generate node, no Python, no extra scan) stacks them into
    (feature index, value) rows, and the int index becomes the leading
    group key of the SAME Tungsten bucket-histogram fill — N features for
    one scan and one shuffle of bucket counts. The histogram hashes an int
    per exploded row, not a string; the feature names are looked up only
    on the output rows.

    Output: DataFrame[feature, group..., q, est, n].
    """
    group_cols = list(group_cols)
    # pure Column expressions (no SQL-string interpolation — a column name
    # containing a quote/backtick must not break or reshape the plan)
    stacked = df.select(
        *group_cols,
        F.posexplode(F.array(*[F.col(c).cast("double") for c in value_cols]))
        .alias("_f", "_value"),
    )
    names = F.array(*[F.lit(c) for c in value_cols])
    table = udds_quantile_table_jvm(stacked, "_value", ["_f", *group_cols],
                                    list(qs), alpha, m)
    return table.select(F.element_at(names, F.col("_f") + 1).alias("feature"),
                        *group_cols, "q", "est", "n")


def udds_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    qs: Iterable[float] = (0.5, 0.9, 0.99, 0.999),
    alpha: float = 0.01,
    m: int = 200,
) -> DataFrame:
    """One-call UDDSketch quantile summary: DataFrame[group..., q, est]
    (DataFrame[q, est] when global).

    Flagship API: p50/p90/p99/p999 of a numeric feature grouped by e.g.
    role/tool, at relative-error alpha with memory bounded by m buckets.

    The fill is a Tungsten hash aggregation on the Catalyst bucket-key
    expression; Python touches only the bucket table. Grouped, one
    key-run stage — one Python call per shuffle partition, not per group —
    assembles each group's sketch and reads its quantiles
    (udds_quantile_table_jvm); global, the bucket table is collected as
    Arrow and assembled on the driver (udds_sketch_global_jvm). For a state
    table to save, merge or roll up, use sketch_grouped_jvm; for
    compat=True keys or the other kernels, the Arrow fill sketch_grouped /
    sketch_global.
    """
    qs = list(qs)
    if group_cols:
        group_cols = list(group_cols)
        return udds_quantile_table_jvm(
            df, value_col, group_cols, qs, alpha, m
        ).select(*group_cols, "q", "est")
    return _global_quantiles(df.sparkSession,
                             udds_sketch_global_jvm(df, value_col, alpha, m), qs)


def dd_bucket_counts(
    df: DataFrame, value_col: str, group_cols: Sequence[str], alpha: float
) -> DataFrame:
    """(group..., _sign, _bkey, _bcnt, _lo, _hi): JVM-side signed log-bucket
    histogram for the DDSketch pair — the flagship Tungsten-fill
    architecture extended to the second kernel family. _sign in {-1, 0, 1}
    (0 = B*, the near-zero bucket: |v| < MIN_ADDRESSABLE); keys are
    ceil(ln(|v|)/ln gamma), the same libm expression the numpy kernel uses
    (non-compat path), so the assembled pair is bucket-identical to an Arrow
    fill at m=0. _lo/_hi are each bucket's value range, so the same
    aggregation also yields the group's min/max."""
    v = F.col(value_col).cast("double")
    sign = (
        F.when(F.abs(v) < MIN_ADDRESSABLE, F.lit(0))
        .when(v > 0, F.lit(1))
        .otherwise(F.lit(-1))
    )
    key = _log_bucket_key(F.abs(v), alpha).otherwise(F.lit(0))
    return (
        df.select(*group_cols, v.alias(value_col))
        .where(~F.isnan(v) & v.isNotNull())
        .groupBy(*group_cols, sign.alias("_sign"), key.alias("_bkey"))
        .agg(
            F.count(F.lit(1)).alias("_bcnt"),
            F.min(value_col).alias("_lo"),
            F.max(value_col).alias("_hi"),
        )
    )


def _dd_of(table, alpha: float, m: int, collapse_mode: str) -> DDSketchPair:
    """DDSketchPair from a signed (_sign, _bkey, _bcnt, _lo, _hi) bucket
    table (a pyarrow Table); _sign 0 is B*, and the value range is the
    min/max over the rows (NaN when there are none). Every JVM DD fill
    assembles here."""
    sign = table.column("_sign").to_numpy()
    key = table.column("_bkey").to_numpy().astype(np.int64)
    cnt = table.column("_bcnt").to_numpy()
    lo = table.column("_lo").to_numpy()
    hi = table.column("_hi").to_numpy()

    def store(s: int):
        return key[sign == s], cnt[sign == s]

    return DDSketchPair.from_bucket_table(
        alpha, m, int(cnt[sign == 0].sum()), *store(1), *store(-1),
        lo.min() if lo.size else np.nan, hi.max() if hi.size else np.nan,
        collapse_mode,
    )


def dd_sketch_global_jvm(
    df: DataFrame,
    value_col: str,
    alpha: float,
    m: int = 0,
    collapse_mode: str = "uniform",
):
    """Global DDSketchPair via the JVM histogram fill (driver-side object).

    One aggregation; Python sees only its <=10^3-row (sign, key, count,
    min, max) table, and the heavy per-row work is Tungsten hash
    aggregation. With m=0 the result is bucket-identical to the Arrow fill
    (sketch_global with a DDSketchPair factory; pinned in tests). With m>0
    the bound is enforced ONCE on the assembled store (a one-shot fold):
    for uniform mode that is the minimal-collapse result; for the ddog
    trash-bin modes the fold history differs from an incremental fill's,
    so use the Arrow fill when reference fold-order parity matters. Not
    available for compat=True (glibc fast-log keys are Python-side)."""
    return _dd_of(dd_bucket_counts(df, value_col, (), alpha).toArrow(),
                  alpha, m, collapse_mode)


def dd_states_grouped_jvm(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    alpha: float,
    m: int = 0,
    collapse_mode: str = "uniform",
) -> DataFrame:
    """Grouped DDSketchPair states from the JVM histogram fill:
    DataFrame[group..., state, n, buckets, collapses, num_partials].

    Same contract as sketch_grouped; per group the input is the <=10^3-row
    signed bucket table (min/max included), assembled and bound-enforced in
    one vectorized pass (see dd_sketch_global_jvm for the one-shot-fold
    caveat on ddog modes with m > 0)."""
    group_cols = list(group_cols)
    if not group_cols:
        raise ValueError("dd_states_grouped_jvm needs group_cols; "
                         "use dd_sketch_global_jvm for global")
    return _map_key_runs(
        dd_bucket_counts(df, value_col, group_cols, alpha), group_cols,
        _state_fields("num_partials"),
        lambda run: [_state_values(_dd_of(run, alpha, m, collapse_mode), 1)],
    )
