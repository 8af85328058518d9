"""Deduplication operators for training-data pipelines.

Four families, all Spark-first:
  * exact        — hash groupBy on md5(text); pure Catalyst, shuffles hashes.
  * minhash+LSH  — char-shingle -> minhash signature (Arrow-vectorized rolling
                   hash, no per-row Python), band -> bucket join for candidate
                   pairs. Scale path: the self-join is on (band, band_hash)
                   buckets, never all-pairs.
  * simhash      — 64-bit token-weighted simhash; near-dups via hamming<=t,
                   candidate generation by 16-bit chunk equality (pigeonhole:
                   hamming<=3 guarantees one of 4 chunks equal).
  * ngram jaccard— exact shingle-set jaccard via explode + pair join
                   (SQL-expressible -> DuckDB oracle-checkable).

Vectorization core: a whole Arrow batch of texts is concatenated into one
uint8 buffer; k-gram rolling hashes come from a single sliding_window_view
dot-product (uint64 wraparound), boundary-crossing windows masked out. Per
batch this is O(total_bytes * k) numpy work — no Python loop over documents.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..core.hashing import splitmix64

__all__ = [
    "dedup_against_corpus",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "minhash_dedup_pairs",
    "release_cached",
    "simhash_bits",
    "simhash_near_dups",
    "ngram_jaccard_pairs",
    "embedding_near_dups",
    "dedup_components",
    "dedup_survivors",
]

_U64 = np.uint64


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Survivors after exact-content dedup: min id per md5(text).

    One hash-shuffle on the digest; at 100 TB this is the standard pattern
    (shuffle moves 32-byte digests + ids, not documents).
    """
    h = F.md5(F.col(text_col)).alias("_h")
    keep = df.select(h, F.col(id_col)).groupBy("_h").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


def dedup_against_corpus(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    corpus_text_col: str | None = None,
    fpr: float = 1e-3,
) -> DataFrame:
    """Incremental-ingestion dedup: rows of ``new`` whose exact text does
    NOT already appear in ``corpus`` (the daily-batch-vs-existing-corpus
    pattern — at 100 TB you cannot re-dedup the world per batch).

    Shape: (1) one corpus scan fills a distributed mergeable Bloom filter
    over md5(text) digests (~1.8 bits/key at 0.1% fpr — 10^10 docs fit in
    ~2 GB, broadcastable); (2) the new batch probes it MAP-SIDE, so the
    overwhelmingly-novel rows never shuffle; (3) only Bloom-positive
    candidate digests (true dups + fpr of the batch) are exact-verified
    with a semi join against the corpus digests, thinned by the broadcast
    candidate set, eliminating false drops; (4) survivors = new minus the
    confirmed-dup digests via a broadcast anti join — the new batch is
    scanned once and never shuffled. Zero false drops AND zero false
    keeps: Bloom has no false negatives, the exact verify removes its
    false positives.
    """
    from .joins import bloom_key_filter, bloom_probe

    corpus_text_col = corpus_text_col or text_col
    # the corpus digest column feeds two consumers (Bloom fill, exact-verify
    # semi join) — persist so the scan+md5 runs once; the new batch's digest
    # likewise feeds the probe and the final anti join. Call
    # release_cached(result) after materializing the survivors.
    cdig = corpus.select(F.md5(F.col(corpus_text_col)).alias("_dig")).persist()
    ndig = new.withColumn("_dig", F.md5(F.col(text_col))).persist()
    # sizing: the corpus ROW count (a metadata-only parquet job) upper-bounds
    # the distinct digest count, so the filter honors fpr by construction and
    # the approx_count_distinct sizing pass is skipped entirely — Bloom is a
    # prefilter, so sizing slack cannot change the (exact-verified) result
    filt = bloom_key_filter(cdig, "_dig", fpr=fpr, expected=corpus.count())
    candidates = bloom_probe(ndig.select("_dig"), "_dig", filt).distinct()
    confirmed = cdig.join(F.broadcast(candidates), "_dig", "left_semi").distinct()
    return _attach_cached(
        ndig.join(F.broadcast(confirmed), "_dig", "left_anti").drop("_dig"),
        [cdig, ndig],
    )


# ---------------------------------------------------------------- shingles
def _batch_shingle_hashes(texts: np.ndarray, k: int):
    """Rolling k-gram uint64 hashes for a batch of strings, one numpy pass.

    Returns (hashes, doc_starts): hashes is the concatenated shingle-hash
    array; doc i owns hashes[doc_starts[i]:doc_starts[i+1]].
    """
    bufs = [t.encode("utf-8", "ignore") for t in texts]
    lens = np.array([len(b) for b in bufs], dtype=np.int64)
    blob = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    n_sh = np.maximum(lens - k + 1, 0)
    doc_starts = np.concatenate([[0], np.cumsum(n_sh)])
    if blob.size < k:
        return np.empty(0, dtype=_U64), doc_starts
    # column-by-column polynomial accumulation: O(total_bytes) peak memory;
    # a (n_windows, k) uint64 window matrix would blow memory up 8k-fold on
    # large Arrow batches
    n_win = blob.size - k + 1
    powers = _U64(1099511628211) ** np.arange(k, dtype=_U64)  # FNV-prime powers
    raw = np.zeros(n_win, dtype=_U64)
    t = np.empty(n_win, dtype=_U64)
    with np.errstate(over="ignore"):
        for j in range(k):
            # widening multiply straight into the reused uint64 buffer —
            # the .astype per term allocated k full-size temporaries
            np.multiply(blob[j : j + n_win], powers[j], out=t, casting="unsafe")
            raw += t
        _splitmix64_inplace(raw, t)  # bit-identical to splitmix64(raw)
        hashes = raw
    # drop windows that cross document boundaries: interval-diff mask (one
    # vectorized cumsum instead of a per-doc python loop building aranges)
    ends = np.cumsum(lens)
    starts = ends - lens
    pos = n_sh > 0
    if not pos.any():
        return np.empty(0, dtype=_U64), doc_starts
    delta = np.zeros(n_win + 1, dtype=np.int64)
    np.add.at(delta, starts[pos], 1)
    np.add.at(delta, starts[pos] + n_sh[pos], -1)
    keep = np.cumsum(delta[:-1]).astype(bool)
    return hashes[keep], doc_starts


def _splitmix64_inplace(x: np.ndarray, scratch: np.ndarray) -> None:
    """In-place splitmix64 finalizer (bit-identical to hashing.splitmix64):
    mutates ``x``; ``scratch`` is a same-size work buffer. The out-of-place
    version allocates ~6 full-size temporaries per call — at 64 minhash
    seeds over multi-MB shingle arrays that is pure memory-bandwidth burn."""
    np.add(x, _U64(0x9E3779B97F4A7C15), out=x)
    np.right_shift(x, _U64(30), out=scratch)
    np.bitwise_xor(x, scratch, out=x)
    np.multiply(x, _U64(0xBF58476D1CE4E5B9), out=x)
    np.right_shift(x, _U64(27), out=scratch)
    np.bitwise_xor(x, scratch, out=x)
    np.multiply(x, _U64(0x94D049BB133111EB), out=x)
    np.right_shift(x, _U64(31), out=scratch)
    np.bitwise_xor(x, scratch, out=x)


# 32k shingle hashes = 256 KB: fits private L2 alongside the two work
# buffers even with every core busy (measured r7: 0.63s vs 0.89s at 128k
# and 2.98s unblocked for a 3M-hash batch, single-thread)
_MINHASH_CHUNK = 1 << 15


def _minhash_matrix(
    hashes: np.ndarray, doc_starts: np.ndarray, seeds: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(n_docs, k) int64 signature matrix + nonempty doc indices.

    Cache-blocked: the shingle-hash array is walked in ~1 MB chunks (cut at
    doc boundaries) with ALL seeds applied per chunk, so each hash streams
    from memory once instead of once per seed — the naive per-seed full-array
    loop is 64x the DRAM traffic and was the dominant cost of the whole
    minhash pipeline. Arithmetic is bit-identical to the original
    ``splitmix64(h ^ seed) >> 1`` per-seed pass (min commutes with >>1 on
    uint64, applied before the min exactly as before)."""
    n_docs = doc_starts.size - 1
    sigs = np.full((n_docs, seeds.size), np.iinfo(np.int64).max, dtype=np.int64)
    counts = np.diff(doc_starts)
    nonempty = np.flatnonzero(counts > 0)
    if nonempty.size == 0 or hashes.size == 0:
        return sigs, nonempty
    starts_ne = doc_starts[nonempty]
    ends_ne = starts_ne + counts[nonempty]
    # chunk cuts: smallest doc index whose end passes each CHUNK multiple
    # (a doc larger than the chunk simply becomes its own chunk)
    cut_pts = np.searchsorted(ends_ne, np.arange(
        _MINHASH_CHUNK, hashes.size, _MINHASH_CHUNK), side="left")
    cuts = np.unique(np.concatenate(
        [[0], cut_pts + 1, [nonempty.size]])).astype(np.int64)
    max_seg = max(
        int(ends_ne[cuts[i + 1] - 1] - starts_ne[cuts[i]])
        for i in range(cuts.size - 1)
    )
    tmp = np.empty(max_seg, dtype=_U64)
    scratch = np.empty(max_seg, dtype=_U64)
    with np.errstate(over="ignore"):
        for ci in range(cuts.size - 1):
            d0, d1 = int(cuts[ci]), int(cuts[ci + 1])
            if d0 >= d1:
                continue
            s0, s1 = int(starts_ne[d0]), int(ends_ne[d1 - 1])
            seg = hashes[s0:s1]
            ls = starts_ne[d0:d1] - s0
            t = tmp[: seg.size]
            sc = scratch[: seg.size]
            chunk_sigs = np.empty((d1 - d0, seeds.size), dtype=np.int64)
            for j in range(seeds.size):
                np.bitwise_xor(seg, seeds[j], out=t)
                _splitmix64_inplace(t, sc)
                # >>1 commutes with min on uint64 — shifting the ~per-doc
                # minima instead of the whole chunk drops one full pass
                chunk_sigs[:, j] = (
                    np.minimum.reduceat(t, ls) >> _U64(1)
                ).astype(np.int64)
            sigs[nonempty[d0:d1]] = chunk_sigs
    return sigs, nonempty


# ---------------------------------------------------------------- minhash
def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    shingle_k: int = 5,
) -> DataFrame:
    """DataFrame[id, sig:array<bigint>] of minhash signatures.

    Permutations are splitmix64 remixes of the shingle hash (standard
    one-hash + k-mix minhash): mixed_j = splitmix64(h ^ seed_j) >> 1. A bare
    XOR-translate is a weak min-wise family (positions correlate across
    seeds, biasing est_jaccard for partial overlaps); the splitmix64
    finalizer decorrelates the seeds. Docs with zero shingles (shorter than
    shingle_k) get a NULL signature — a shared sentinel would make every
    short doc a "perfect duplicate" of every other and dedup would delete
    unrelated documents.
    """
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("sig", ArrayType(LongType(), False), True),
        ]
    )
    seeds = (np.arange(1, num_perm + 1, dtype=_U64) * _U64(0x9E3779B97F4A7C15))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].fillna("").to_numpy()
            ids = pdf[id_col].to_numpy()
            hashes, doc_starts = _batch_shingle_hashes(texts, shingle_k)
            sigs, nonempty = _minhash_matrix(hashes, doc_starts, seeds)
            has = np.zeros(len(texts), dtype=bool)
            has[nonempty] = True
            rows = sigs.tolist()
            out = [rows[i] if has[i] else None for i in range(len(texts))]
            yield pd.DataFrame({id_col: ids, "sig": out})

    return df.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def release_cached(df: DataFrame) -> None:
    """Unpersist the intermediate caches attached to a pairs DataFrame by
    lsh_candidate_pairs / embedding_near_dups. Call after the pairs have
    been materialized (count/write/collect); long-lived sessions running
    many dedup jobs would otherwise accumulate cached signature tables."""
    for cached in getattr(df, "_puddsketch_cached", ()):
        cached.unpersist()


def _attach_cached(df: DataFrame, cached) -> DataFrame:
    df._puddsketch_cached = tuple(cached)
    return df


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str = "doc_id", bands: int = 16,
    num_perm: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band bucket.

    Shuffle discipline (the heaviest stage of the dedup pipeline at scale):
    the exploded band self-join carries ONLY (band, band_hash, id) — never
    the num_perm x 8 B signature arrays, which a naive fat join would
    duplicate bands-times across the wire. Signatures are joined back to the
    deduplicated (a, b) pairs exactly once each side for the agreement
    estimate (collision pairs are orders of magnitude fewer than banded
    rows). Returns DataFrame[a, b, est_jaccard] with a < b; call
    release_cached(result) after materializing to drop the signature cache.
    """
    from pyspark.sql.types import DoubleType as _D, StructField as _SF, StructType as _ST

    id_type = sigs.schema[id_col].dataType
    # zero-shingle docs carry NULL signatures and cannot be near-dups.
    # persist: the banding and both signature re-joins share the cache
    # (recomputing the shingling three times would dominate the job).
    sigs = sigs.where(F.col("sig").isNotNull()).persist()
    if num_perm is None:
        # signature width unknown: probe one row (pays one partition of
        # the shingle stage). Callers that know num_perm (e.g.
        # minhash_dedup_pairs) pass it and skip this job entirely — r7,
        # guide §1.2 "don't compute things you throw away".
        first = sigs.select("sig").first()
        if first is None:
            sigs.unpersist()
            return sigs.sparkSession.createDataFrame(
                [],
                _ST([_SF("a", id_type), _SF("b", id_type), _SF("est_jaccard", _D())]),
            )
        num_perm = len(first[0])
    rows = num_perm // bands
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[F.xxhash64(F.slice("sig", i * rows + 1, rows)) for i in range(bands)]
            )
        ).alias("band", "band_hash"),
    )
    # hash-partition the banded rows on the join key ONCE and cache them:
    # both sides of the self-join then read the same co-partitioned cache
    # and the join plans with ZERO exchanges (the bucketed-join mechanism),
    # instead of shuffling the banded table twice — one r7-measured shuffle
    # of these rows costs more than the whole candidate aggregation
    banded = banded.repartition("band", "band_hash").persist()
    left = banded.select(F.col(id_col).alias("a"), "band", "band_hash")
    right = banded.select(F.col(id_col).alias("b"), "band", "band_hash")
    pairs = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    # estimated jaccard = fraction of agreeing signature positions (JVM-side);
    # signatures join back to the slim pair list once per side
    sig_a = sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("sig_b"))
    agree = F.size(F.filter(F.arrays_zip("sig_a", "sig_b"), lambda s: s.sig_a == s.sig_b))
    out = (
        pairs.join(sig_a, "a")
        .join(sig_b, "b")
        .select("a", "b", (agree / F.lit(float(num_perm))).alias("est_jaccard"))
    )
    return _attach_cached(out, [sigs, banded])


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    shingle_k: int = 5,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """End-to-end: near-dup pairs with estimated jaccard >= threshold.
    Call release_cached(result) after materializing to drop the signature
    cache."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
    pairs = lsh_candidate_pairs(sigs, id_col, bands, num_perm=num_perm)
    return _attach_cached(
        pairs.where(F.col("est_jaccard") >= threshold),
        getattr(pairs, "_puddsketch_cached", ()),
    )


# ---------------------------------------------------------------- simhash
def simhash_bits(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_k: int = 4
) -> DataFrame:
    """DataFrame[id, simhash:long] — 64-bit shingle simhash. Zero-shingle
    docs get NULL (a shared 0 would make all short docs mutual dups)."""
    out_schema = StructType([df.schema[id_col], StructField("simhash", LongType(), True)])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col].fillna("").to_numpy()
            ids = pdf[id_col].to_numpy()
            hashes, doc_starts = _batch_shingle_hashes(texts, shingle_k)
            out = np.zeros(len(texts), dtype=np.int64)
            counts = np.diff(doc_starts)
            if hashes.size:
                # per-bit-plane popcount: O(n) memory instead of an n x 64
                # int64 vote matrix; bit b is set iff set-count > half the
                # doc's shingles (equivalent to the +1/-1 vote sum)
                ne = np.flatnonzero(counts > 0)
                starts_ne = doc_starts[ne]
                half = counts[ne].astype(np.uint64)  # 2*set > total <=> votes>0
                packed = np.zeros(ne.size, dtype=_U64)
                with np.errstate(over="ignore"):
                    for b in range(64):
                        plane = (hashes >> _U64(b)) & _U64(1)
                        set_cnt = np.add.reduceat(plane, starts_ne)
                        packed |= (2 * set_cnt > half).astype(_U64) << _U64(b)
                out[ne] = packed.view(np.int64)
            has = np.zeros(len(texts), dtype=bool)
            if hashes.size and counts.size:
                has[np.flatnonzero(counts > 0)] = True
            vals = [int(out[i]) if has[i] else None for i in range(len(texts))]
            yield pd.DataFrame({id_col: ids, "simhash": vals})

    return df.select(id_col, text_col).mapInPandas(gen, schema=out_schema)


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    shingle_k: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split 64 bits into (max_hamming + 1) chunks — a
    pair within the bound must match at least one chunk exactly, so
    candidates come from chunk-bucket joins, never an all-pairs product.
    (A fixed 4-chunk split is only sound for max_hamming <= 3.)
    JVM-side bit_count verifies exactly.
    """
    n_chunks = max_hamming + 1
    if n_chunks > 64:
        raise ValueError("max_hamming must be < 64")
    width = 64 // n_chunks
    bounds = [(i * width, width if i < n_chunks - 1 else 64 - i * width)
              for i in range(n_chunks)]
    sh = simhash_bits(df, text_col, id_col, shingle_k).where(
        F.col("simhash").isNotNull()
    ).persist()
    chunks = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", off).bitwiseAND(
                        # (1<<64)-1 overflows a long literal; -1 is all ones
                        F.lit((1 << w) - 1 if w < 64 else -1)
                    )
                    for off, w in bounds
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    a = chunks.select(F.col(id_col).alias("a"), F.col("simhash").alias("sh_a"), "chunk_idx", "chunk")
    b = chunks.select(F.col(id_col).alias("b"), F.col("simhash").alias("sh_b"), "chunk_idx", "chunk")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    out = (
        a.join(b, ["chunk_idx", "chunk"])
        .where(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .select("a", "b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
    # the join payload is one 8-byte long per side (no fat columns), so the
    # fat-join restructure is unnecessary here; only the cache needs a release
    return _attach_cached(out, [sh])


# ---------------------------------------------------------------- n-gram jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    use_words: bool = True,
    max_df: int | None = 10_000,
) -> DataFrame:
    """N-gram-set jaccard over a df-capped gram universe, for all pairs
    sharing >=1 surviving gram.

    By default grams occurring in more than ``max_df`` documents are
    excluded from the universe (see below), so the computed jaccard is
    exact WITH RESPECT TO THE CAPPED UNIVERSE, not the raw one; pass
    ``max_df=None`` for the textbook all-grams definition.

    Pure Catalyst: explode grams -> self-join on gram -> count intersections
    -> jaccard = |I| / (|A|+|B|-|I|). SQL-expressible (DuckDB oracle).
    At scale the gram join is the bottleneck; use minhash_dedup_pairs there —
    this operator is the exact-oracle / small-corpus path.

    ``max_df`` bounds the join fan-out: the self-join is quadratic in
    per-gram document frequency, so one stopword gram shared by 10^6 docs
    would alone be a 10^12-row join. Grams with df > max_df are dropped from
    the gram universe (both intersection AND sizes, so jaccard stays a true
    set jaccard over the capped universe) — such grams carry near-zero
    discrimination anyway. The hot-gram list is small by definition, so the
    drop is one agg plus a broadcast anti-join, never a shuffle of the gram
    table. Pass ``max_df=None`` for the uncapped textbook definition.
    """
    if use_words:
        toks = F.split(F.col(text_col), " ")
        grams = F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        grams = F.when(
            F.length(text_col) >= n,  # no truncated gram for short/empty docs
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.length(text_col) - n),
                    lambda i: F.col(text_col).substr(i + 1, F.lit(n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
    g = df.select(F.col(id_col), F.explode(grams).alias("gram"))
    if max_df is not None:
        # grams are per-doc distinct (array_distinct above), so the count is
        # the document frequency
        hot = (
            g.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_df)
            .select("gram")
        )
        g = g.join(F.broadcast(hot), "gram", "left_anti")
    sizes = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = g.select(F.col(id_col).alias("a"), "gram")
    b = g.select(F.col(id_col).alias("b"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), "b")
        .select(
            "a",
            "b",
            (F.col("i") / (F.col("sza") + F.col("szb") - F.col("i"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


# ---------------------------------------------------------------- embeddings
# ---------------------------------------------------------------- components
def dedup_components(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Connected components over near-dup pairs: DataFrame[a, b] ->
    DataFrame[id, component] where component = min id in the component.

    Distributed label propagation (large-star flavor): each node repeatedly
    adopts the minimum label in its neighborhood until a fixed point. Each
    iteration is one shuffle over the edge list; convergence takes
    O(log(component diameter)) rounds — near-dup components are tiny
    (dozens of docs), so a handful of iterations suffices even at 100 TB.
    The fixed point is detected with a distributed count, no driver-side
    graph materialization.
    """
    edges = pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    # undirected: both directions, plus self-loops so singletons keep labels
    sym = (
        edges.union(edges.select(F.col("y").alias("x"), F.col("x").alias("y")))
        .distinct()
        .persist()
    )
    labels = sym.select(F.col("x").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    labels = labels.localCheckpoint(eager=True)
    for _ in range(max_iterations):
        # (1) adopt the min label in the direct neighborhood
        neigh_min = (
            sym.join(labels, sym.y == labels.id)
            .groupBy("x")
            .agg(F.min("component").alias("nmin"))
        )
        stepped = labels.join(neigh_min, labels.id == neigh_min.x, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )
        # (2) pointer jumping: component := component-of-my-component, so
        # label distance halves per round (40-chain converges in ~6 rounds,
        # not 40)
        parent = stepped.select(
            F.col("id").alias("pid"), F.col("component").alias("pcomp")
        )
        jumped = stepped.join(parent, stepped.component == parent.pid, "left").select(
            "id", F.coalesce(F.col("pcomp"), F.col("component")).alias("component")
        )
        # (3) localCheckpoint truncates the iterative lineage — without it
        # the nested-join plan grows superlinearly and analysis stalls
        new_labels = jumped.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels


def dedup_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one document per near-dup component (the min id) plus all
    documents that appear in no pair. The standard end of a dedup pipeline:
    pairs -> components -> survivors."""
    comps = dedup_components(pairs)
    keep = comps.where(F.col("id") == F.col("component")).select(
        F.col("id").alias(id_col)
    )
    in_pairs = comps.select(F.col("id").alias(id_col))
    untouched = df.select(id_col).join(in_pairs, id_col, "left_anti")
    return df.join(keep.union(untouched), id_col, "left_semi")


def _cosine_expr(ca: str, cb: str):
    dot = F.aggregate(
        F.zip_with(F.col(ca).cast("array<double>"), F.col(cb).cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c).cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return dot / (norm(ca) * norm(cb))


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_bands: int = 4,
    planes_per_band: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs by cosine >= threshold.

    Banded random-hyperplane LSH: ``num_bands`` sign-bit signatures of
    ``planes_per_band`` deterministic pseudo-random planes each; a pair is a
    candidate if ANY band signature matches (recall ~0.9 at cosine 0.95 with
    4x8), then exact cosine verifies JVM-side (zip_with/aggregate — whole
    batch codegen'd, no Python). The join is per-(band, signature) bucket,
    never all-pairs.

    Plane dots: Catalyst literal expressions while bands*planes*dim stays
    small; at dim 768+ that tree bloats the plan, so past
    ``_MAX_CATALYST_COEFFS`` plane coefficients it switches to ONE
    Arrow-batched matmul per batch that also packs each band's sign bits
    into an int64 (smaller join keys, single Python pass), and the exact
    verify uses a vectorized numpy cosine instead of the interpreted
    higher-order zip_with fold (which costs ~dim lambda evals per pair).
    """
    from pyspark.sql.types import DoubleType

    from .similarity import _MAX_CATALYST_COEFFS

    if planes_per_band > 62:
        raise ValueError("planes_per_band must be <= 62 (int64 sig packing)")
    dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_bands * planes_per_band, dim))
    arrow = planes.size > _MAX_CATALYST_COEFFS

    def band_sig_catalyst(b: int):
        # small-dim path: codegen'd dot per plane, string of sign bits
        bits = []
        for j in range(planes_per_band):
            row = planes[b * planes_per_band + j]
            p = F.array(*[F.lit(float(x)) for x in row])
            dot = F.aggregate(
                F.zip_with(F.col(vec_col).cast("array<double>"), p, lambda x, y: x * y),
                F.lit(0.0), lambda acc, x: acc + x,
            )
            bits.append(F.when(dot >= 0, "1").otherwise("0"))
        return F.concat(*bits)

    # the banded self-join carries only (band, sig, id); vectors join back to
    # the deduplicated candidate pairs once per side for the exact-cosine
    # verify (same shuffle discipline as lsh_candidate_pairs)
    vecs = df.select(id_col, vec_col).persist()
    if arrow:
        mat = np.ascontiguousarray(planes)
        n_b, n_p = num_bands, planes_per_band
        weights = (np.int64(1) << np.arange(n_p, dtype=np.int64))

        @F.pandas_udf(ArrayType(LongType()))
        def band_sig_ints(v: pd.Series) -> pd.Series:
            x = np.stack(v.to_numpy()).astype(np.float64, copy=False)
            s = (x @ mat.T) >= 0  # (batch, bands*planes) sign bits
            packed = np.stack(
                [s[:, b * n_p : (b + 1) * n_p].astype(np.int64) @ weights
                 for b in range(n_b)],
                axis=1,
            )
            return pd.Series(list(packed))

        tagged = vecs.select(
            F.col(id_col),
            F.posexplode(band_sig_ints(vec_col)).alias("band", "sig"),
        )
    else:
        tagged = vecs.select(
            F.col(id_col),
            F.posexplode(
                F.array(*[band_sig_catalyst(b) for b in range(num_bands)])
            ).alias("band", "sig"),
        )
    # hash-partition the banded rows on the join key ONCE and cache them:
    # both self-join sides read the same co-partitioned cache and the join
    # plans with zero exchanges (same mechanism as lsh_candidate_pairs —
    # the unpartitioned cache still shuffled the banded table twice)
    tagged = tagged.repartition("band", "sig").persist()
    a = tagged.select(F.col(id_col).alias("a"), "band", "sig")
    b = tagged.select(F.col(id_col).alias("b"), "band", "sig")
    pairs = (
        a.join(b, ["band", "sig"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    va = vecs.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = vecs.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    if arrow:
        # interpreted zip_with costs ~dim lambda evals per pair; one numpy
        # einsum per Arrow batch replaces it at high dim
        @F.pandas_udf(DoubleType())
        def cos_udf(x: pd.Series, y: pd.Series) -> pd.Series:
            a_ = np.stack(x.to_numpy()).astype(np.float64, copy=False)
            b_ = np.stack(y.to_numpy()).astype(np.float64, copy=False)
            num = np.einsum("ij,ij->i", a_, b_)
            den = np.linalg.norm(a_, axis=1) * np.linalg.norm(b_, axis=1)
            return pd.Series(num / den)

        cosine = cos_udf("va", "vb")
    else:
        cosine = _cosine_expr("va", "vb")
    out = (
        pairs.join(va, "a")
        .join(vb, "b")
        .select("a", "b", cosine.alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )
    return _attach_cached(out, [vecs, tagged])
