"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — the dot product is a zip_with/aggregate
Catalyst expression (whole-stage codegen, no Python), ranked by a single
distributed TakeOrdered (no full sort, no shuffle of vectors to one node).

Scale path: IVF-style bucketing — assign every vector to its nearest of
``n_cells`` deterministic pseudo-random centroids at write time, then probe
only the ``n_probe`` cells nearest the query. At 100 TB this turns a full
scan into a partition-pruned scan when the table is partitioned by cell_id.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType

__all__ = [
    "cell_balance",
    "cosine_topk",
    "ivf_assign",
    "ivf_topk",
    "kmeans_centroids",
    "matrix_dots",
    "random_centroids",
    "semantic_dedup",
]

# above this many literal plane/centroid coefficients the Catalyst expression
# tree stops being free: plan size, analysis time, and codegen all scale with
# n_rows x dim, so high-dim fan-outs switch to one Arrow-batched matmul
_MAX_CATALYST_COEFFS = 8192


def _dot_lit(vec_col: str, q: Sequence[float]):
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), qlit, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def matrix_dots(vec_col: str, matrix: np.ndarray) -> Column:
    """array<double> of <vec, row_i> for every row of ``matrix`` via ONE
    Arrow-batched pandas-UDF matrix multiply.

    The scale path for high-dim embeddings (dim 768+): a Catalyst expression
    with n_rows x dim literal coefficients blows up the plan, while the UDF
    ships the matrix once per worker and does a single BLAS matmul per Arrow
    batch — no per-row Python."""
    mat = np.ascontiguousarray(np.asarray(matrix, dtype=np.float64))

    @F.pandas_udf(ArrayType(DoubleType()))
    def dots(v: pd.Series) -> pd.Series:
        x = np.stack(v.to_numpy()).astype(np.float64, copy=False)
        d = x @ mat.T  # (batch, n_rows)
        return pd.Series(list(d))

    return dots(F.col(vec_col))


def _norm(vec_col: str):
    return F.sqrt(
        F.aggregate(
            F.col(vec_col).cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )


def cosine_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``.

    orderBy+limit compiles to TakeOrderedAndProject: per-partition top-k
    heaps, only k rows per partition reach the driver-side merge.
    """
    qn = float(np.linalg.norm(np.asarray(query, dtype=np.float64)))
    cos = (_dot_lit(vec_col, query) / (_norm(vec_col) * F.lit(qn))).alias("cosine")
    return (
        df.select(F.col(id_col), cos)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def random_centroids(dim: int, n_cells: int = 64, seed: int = 42) -> np.ndarray:
    """Deterministic unit-norm pseudo-random centroids (IVF coarse quantizer).
    A production build would k-means these; random projections already give
    balanced cells for normalized embeddings."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_cells, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 64,
    sample_size: int = 32_768,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Spherical k-means coarse quantizer trained on a bounded sample.

    Random centroids give wildly unbalanced cells on clustered (real)
    embedding distributions — one hot cell can swallow whole clusters, so
    probing it re-scans a large fraction of the table (scan amplification
    at 100 TB). Training on the actual distribution splits dense regions:
    measured on a skewed mixture fixture, max-cell/mean-cell drops ~5x and
    the n_probe scan fraction with it (tests/test_ops.py, BENCH/HISTORY.md).

    Driver memory is bounded by ``sample_size`` vectors (the classic IVF
    training recipe — the quantizer needs a representative sample, not the
    table): one Spark sample+limit, then k-means++ init and Lloyd's
    iterations as numpy matmuls. Cosine geometry: inputs and centroids are
    unit-normalized, assignment is argmax dot. Deterministic for a fixed
    (input, seed, sample_size). Empty cells re-seed to the worst-covered
    sample point. Drop-in for ``random_centroids`` via the same
    ``centroids`` parameter of ivf_assign/ivf_topk.
    """
    n = df.count()
    if n == 0:
        raise ValueError("kmeans_centroids: empty input")
    frac = min(1.0, (4.0 * sample_size) / float(n))
    rows = (
        df.select(vec_col).sample(fraction=frac, seed=seed)
        .limit(sample_size).collect()
    )
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    if x.shape[0] < n_cells:
        raise ValueError(
            f"kmeans_centroids: sample ({x.shape[0]}) smaller than n_cells "
            f"({n_cells}); raise sample_size or lower n_cells"
        )
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0  # zero vectors stay zero, not NaN rows
    x /= norms
    rng = np.random.default_rng(seed)
    # k-means++ seeding on (1 - cos)^2
    cents = [x[rng.integers(x.shape[0])]]
    for _ in range(n_cells - 1):
        best = np.max(np.stack([x @ c for c in cents]), axis=0)
        d2 = np.maximum(1.0 - best, 1e-12) ** 2
        cents.append(x[rng.choice(x.shape[0], p=d2 / d2.sum())])
    c = np.stack(cents)
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for j in range(n_cells):
            members = assign == j
            if members.any():
                v = x[members].mean(axis=0)
                c[j] = v / np.linalg.norm(v)
            else:
                c[j] = x[np.argmin(np.max(x @ c.T, axis=1))]
    return c


def cell_balance(df_assigned: DataFrame, n_cells: int, cell_col: str = "cell_id") -> dict:
    """Cell-occupancy balance of an IVF assignment (bounded collect: one
    row per cell). max_over_mean ~ worst-case scan amplification of probing
    the hottest cell; empty cells waste quantizer capacity."""
    counts = {
        int(r[0]): int(r[1])
        for r in df_assigned.groupBy(cell_col).count().collect()
    }
    full = np.array([counts.get(i, 0) for i in range(n_cells)], dtype=np.float64)
    total = full.sum()
    p = full[full > 0] / total if total else np.array([1.0])
    return {
        "n_cells": n_cells,
        "max_over_mean": float(full.max() / full.mean()) if total else 0.0,
        "empty_cells": int((full == 0).sum()),
        "entropy_ratio": float(-(p * np.log(p)).sum() / np.log(n_cells)),
    }


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out: str = "cell_id",
) -> DataFrame:
    """Tag each vector with its nearest centroid id (argmax dot). Partition
    or Z-order the table by ``cell_id`` so ivf_topk prunes at the scan.

    Up to ``_MAX_CATALYST_COEFFS`` centroid coefficients, the n_cells dot
    products are codegen'd expressions; past it (the dim-768+ case), one
    pandas-UDF matmul. The two can differ on exact argmax ties (summation
    order)."""
    cents = np.asarray(centroids, dtype=np.float64)
    if cents.size > _MAX_CATALYST_COEFFS:
        dots = matrix_dots(vec_col, cents)
    else:
        dots = F.array(*[_dot_lit(vec_col, c) for c in cents])
    return df.withColumn("_dots", dots).withColumn(
        out, (F.array_position(F.col("_dots"), F.array_max("_dots")) - 1).cast("int")
    ).drop("_dots")


def _cosine_cols(a: str, b: str) -> Column:
    """Sequential (left-to-right) cosine between two array columns, cast to
    double per element — the SAME accumulation order DuckDB's
    list_cosine_similarity uses, so the oracle agrees bit-for-bit away from
    pathological cancellation."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # try_divide: a zero-norm vector must yield NULL cosine (filtered by
    # every comparison), not an ANSI DIVIDE_BY_ZERO job failure
    return F.try_divide(dot, _norm(a) * _norm(b))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    engine: str = "exact",
    centroids: np.ndarray | None = None,
    n_cells: int = 64,
    n_probe: int = 2,
    max_exact: int = 20_000,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style near-duplicate removal over an embedding column: drop
    every vector that has a LOWER-id neighbor with cosine >= ``threshold``;
    survivors keep their full row. (Abbas et al. 2023, "SemDeDup: Data-
    efficient learning at web-scale through semantic deduplication" —
    cluster-then-dedup; the reference engine has no embedding operators, so
    this extends the repo's dedup family: exact / MinHash / SimHash /
    n-gram / hyperplane-LSH / semantic.)

    engine="exact": the table is snapshotted ONCE (bounded by
    ``max_exact``), the full dropped-id set is computed driver-side by a
    blocked numpy matmul over that single snapshot, and survivors come
    from a broadcast anti-join on ``id_col`` — the oracle-replayable path
    (float64 throughout; BLAS-vs-sequential summation differs ~1e-15, far
    inside any sane threshold margin). Every drop decision is made from
    one materialization, so a nondeterministic lineage (sample/rand/
    re-read) cannot disagree with itself mid-scan; ``id_col`` must be
    stable across evaluations AND unique/non-NULL (the survivor anti-join
    removes every row carrying a dropped id — duplicate ids would take
    all their copies with them), the same contract the ivf engine carries.
    O(n^2) flops but REFUSED above ``max_exact`` rows — an all-pairs pass
    at corpus scale is a non-starter, which is what the ivf engine is for
    (the bounded collect-and-broadcast is the same recipe kmeans_centroids
    documents).
    engine="ivf": every vector lands in its ``n_probe`` nearest coarse-
    quantizer cells (multi-probe on the data side), candidate pairs are
    generated per cell (quadratic only within a cell), deduped on (i, j),
    then exact-cosine verified. Misses only pairs whose probe sets are
    disjoint — recall is measured, not assumed (tests). Shuffles carry
    (cell, id) rows plus vectors for the verify rejoin of candidates only.
    """
    if engine not in ("exact", "ivf"):
        raise ValueError("engine must be 'exact' or 'ivf'")
    if engine == "exact":
        # limit(max_exact+1) bounds what can EVER reach the driver — the
        # size guard must fire before the collect absorbs the table, not
        # after (a bare collect-then-count would OOM the driver first).
        # toPandas, not collect: the Arrow path moves the vector column as
        # columnar batches instead of py4j-pickled rows (guide §6, "Arrow
        # for driver transfers") — same rows, same float values.
        snap = df.select(id_col, vec_col).limit(max_exact + 1).toPandas()
        n = len(snap)
        if n > max_exact:
            raise ValueError(
                f"semantic_dedup(engine='exact') exceeds max_exact="
                f"{max_exact} rows; use engine='ivf'"
            )
        if n == 0:
            return df
        ids = snap[id_col].to_numpy()  # any orderable id dtype
        mat = np.stack([np.asarray(v, dtype=np.float64)
                        for v in snap[vec_col].to_numpy()])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine 0 to everything
        matn = mat / norms
        thr = float(threshold)
        # blocked full-gram pass over the ONE snapshot (peak memory
        # block x n, ~160 MB at max_exact with block=1024) — decisions
        # never consult a second evaluation of df
        dropped_mask = np.zeros(n, dtype=bool)
        block = 1024
        for lo in range(0, n, block):
            sims = matn[lo:lo + block] @ matn.T  # (block, n)
            lower = ids[None, :] < ids[lo:lo + block, None]
            dropped_mask[lo:lo + block] = ((sims >= thr) & lower).any(axis=1)
        dropped_ids = ids[dropped_mask].tolist()
        if not dropped_ids:
            return df
        # StructType, not a DDL string: a column name needing backticks
        # would break the parsed form (ADVICE r6)
        from pyspark.sql.types import StructType as _STy

        dropped = df.sparkSession.createDataFrame(
            [(i,) for i in dropped_ids], schema=_STy([df.schema[id_col]])
        )
        return df.join(F.broadcast(dropped), [id_col], "left_anti")
    else:
        a = df.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_va"))
        b = df.select(F.col(id_col).alias("_j"), F.col(vec_col).alias("_vb"))
        if centroids is None:
            centroids = kmeans_centroids(
                df, vec_col=vec_col, n_cells=n_cells, seed=seed
            )
        cents = np.asarray(centroids, dtype=np.float64)
        dots = (
            matrix_dots(vec_col, cents)
            if cents.size > _MAX_CATALYST_COEFFS
            else F.array(*[_dot_lit(vec_col, c) for c in cents])
        )
        # top-n_probe cell ids per vector: zip (dot, idx), sort desc, slice
        zipped = F.arrays_zip(
            dots.alias("d"),
            F.sequence(F.lit(0), F.lit(cents.shape[0] - 1)).alias("c"),
        )
        probes = F.transform(
            F.slice(F.reverse(F.array_sort(zipped)), 1, n_probe),
            lambda s: s["c"].cast("int"),
        )
        assigned = df.select(
            F.col(id_col), F.explode(probes).alias("_cell")
        )
        ca = assigned.select(F.col(id_col).alias("_i"), "_cell")
        cb = assigned.select(F.col(id_col).alias("_j"), "_cell")
        cand = (
            ca.join(cb, ["_cell"]).where(F.col("_i") < F.col("_j"))
            .select("_i", "_j").distinct()
        )
        # NaN guard: Spark orders NaN above every number, so a 0/0 cosine
        # (zero-norm or NaN-poisoned vector) would pass `>= threshold` and
        # fabricate a duplicate — the exact engine's numpy comparisons are
        # False for NaN, and the ivf path must agree (survivor-superset
        # contract)
        cos = _cosine_cols("_va", "_vb")
        pairs = (
            cand.join(a, "_i").join(b, "_j")
            .where(~F.isnan(cos) & (cos >= F.lit(float(threshold))))
        )
        dropped = pairs.select(F.col("_j").alias(id_col)).distinct()
    return df.join(dropped, [id_col], "left_anti")


def ivf_topk(
    df_assigned: DataFrame,
    centroids: np.ndarray,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Approximate top-k: scan only the n_probe cells nearest the query.

    The cell filter is a plain predicate -> partition pruning / pushdown when
    the table is laid out by cell. Recall rises with n_probe (n_probe ==
    n_cells -> exact).
    """
    q = np.asarray(query, dtype=np.float64)
    qcells = np.argsort(-(centroids @ (q / np.linalg.norm(q))))[:n_probe]
    pruned = df_assigned.where(F.col(cell_col).isin([int(c) for c in qcells]))
    return cosine_topk(pruned, query, k, vec_col, id_col)
