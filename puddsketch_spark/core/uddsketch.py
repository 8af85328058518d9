"""UDDSketch kernel: pure-numpy, vectorized, mergeable quantile sketch.

Semantics re-derived from the public UDDSketch algorithm (Epicoco et al.,
"Fast Online Computation of Quantiles", IEEE Access 2020) as implemented by
the reference at /root/reference/psketches/uddsketch/uddsketch.cpp:
  - bucket key   k(v) = ceil(ln(v) / ln(gamma)), gamma = (1+a)/(1-a)
                 (uddsketch.cpp:148-151, add() at :176-187)
  - zero bucket  v < min_addressable (= DBL_MIN, since
                 exp(LONG_MIN*log_gamma) underflows to 0)  (uddsketch.cpp:81-83)
  - collapse     key -> ceil(key / 2^n); gamma -> gamma^(2^n);
                 alpha' = (gamma'-1)/(gamma'+1)            (uddsketch.cpp:210-224)
  - merge        requires equal initial_alpha; collapse the finer operand
                 until resolutions match; sum buckets; re-collapse to m
                 (uddsketch.cpp:306-329)
  - quantile     rank = floor(q*(n-1)); rank < zero_count -> 0.0; else scan
                 keys ascending until cumulative > rank; value =
                 gamma^key * (1-alpha)                     (uddsketch.cpp:226-246)
  - serde        little-endian init_alpha|alpha|m|zero|size|[key,count]*
                 (uddsketch.cpp:260-304)

This is NOT a port: state is a struct-of-sorted-arrays (Arrow-friendly),
updates are O(batch) numpy ops (np.log + np.unique) rather than per-item
hash-map inserts, and resolution is tracked as an exact integer collapse
count so merge alignment is integer math (no float log-ratio rounding).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field, replace

import numpy as np

__all__ = ["UDDSketch", "MIN_ADDRESSABLE", "fast_log32"]

# exp(LONG_MIN * log_gamma) underflows to 0.0 for every practical alpha, so
# the reference's min-addressable value is always DBL_MIN (float64 tiny).
MIN_ADDRESSABLE = float(np.finfo(np.float64).tiny)

_EMPTY_I64 = np.empty(0, dtype=np.int64)

# init_alpha, alpha, m, zero_bucket, store_size (plain format strings: the
# kernel gets cloudpickled into Spark UDF closures, struct.Struct can't be)
_HEADER_FMT = "<ddiqQ"
_HEADER_SIZE = struct.calcsize(_HEADER_FMT)
_PAIR_SIZE = struct.calcsize("<qq")


def _ceil_div(keys: np.ndarray, twopow: int) -> np.ndarray:
    """Exact integer ceil(key / twopow) for int64 keys (pos and neg)."""
    return -((-keys) // twopow)


def _sorted_store(keys, counts) -> tuple[np.ndarray, np.ndarray]:
    """Sorted int64 store from a (key, count) table with one row per key,
    in any order."""
    keys = np.asarray(keys, dtype=np.int64)
    order = np.argsort(keys, kind="stable")
    return keys[order], np.asarray(counts, dtype=np.int64)[order]


def fast_log32(values: np.ndarray) -> np.ndarray:
    """The reference's approximate float32 natural log, vectorized
    (uddsketch.cpp:14-78): IEEE-754 exponent/mantissa split by bit ops, then
    a 3rd-order Remez minimax polynomial for ln(m) on [1,2] plus ln(2)*exp.

    Bit-for-bit faithful to the C: the input rounds to float32, the
    polynomial evaluates in float64 (C promotes the float operand against
    double literals), and the result rounds back to float32 (the C function
    returns float). Only used with ``compat=True`` — golden-file equality
    with sketches built by the reference binary; the default path uses exact
    ``np.log``.
    """
    x = np.asarray(values, dtype=np.float32)
    bx = x.view(np.uint32)
    t = (bx >> np.uint32(23)).astype(np.int32) - np.int32(127)
    m = ((bx & np.uint32(0x7FFFFF)) | np.uint32(0x3F800000)).view(np.float32)
    m64 = m.astype(np.float64)
    res = (
        -1.49278 + (2.11263 + (-0.729104 + 0.10969 * m64) * m64) * m64
        + 0.6931471806 * t.astype(np.float64)
    )
    return res.astype(np.float32).astype(np.float64)


@dataclass
class UDDSketch:
    """Mergeable log-bucketed quantile sketch with uniform collapse.

    ``keys`` is always sorted ascending and ``counts[i] > 0``; this canonical
    form makes bucket-for-bucket equality a plain array compare (used by the
    merge-commutativity property tests).
    """

    initial_alpha: float = 0.01
    m: int = 200  # max buckets; 0 = unbounded
    num_collapses: int = 0
    zero_count: int = 0
    keys: np.ndarray = field(default_factory=lambda: _EMPTY_I64.copy())
    counts: np.ndarray = field(default_factory=lambda: _EMPTY_I64.copy())
    # compat=True: bucket keys via the reference's approximate float32 log
    # with reciprocal multiply, ceil(fast_log32(v) * (1/log_gamma)) exactly as
    # uddsketch.cpp:180 — bucket-for-bucket golden equality with sketches
    # built by the C++ binary. Fill-time only (merge/quantile/serde are
    # log-free); from_bytes yields compat=False.
    compat: bool = False

    # -- derived resolution ------------------------------------------------
    @property
    def gamma0(self) -> float:
        return (1.0 + self.initial_alpha) / (1.0 - self.initial_alpha)

    @property
    def log_gamma(self) -> float:
        # exact: collapse multiplies log_gamma by 2 (uddsketch.cpp:220)
        return float(2**self.num_collapses) * np.log(self.gamma0)

    @property
    def gamma(self) -> float:
        # pow chain (== gamma0 exactly when uncollapsed) so results are
        # bit-identical to a SQL oracle computing power((1+a)/(1-a), 2^c)
        return float(self.gamma0 ** float(2**self.num_collapses))

    @property
    def alpha(self) -> float:
        """Current (post-collapse) relative-error bound (uddsketch.cpp:223)."""
        g = self.gamma
        return (g - 1.0) / (g + 1.0)

    @property
    def count(self) -> int:
        """Total population incl. zero bucket (get_sketch_count, :140-146)."""
        return int(self.counts.sum()) + self.zero_count

    @property
    def num_buckets(self) -> int:
        return int(self.keys.size)

    @classmethod
    def from_bucket_table(
        cls, initial_alpha: float, m: int, zero_count: int, keys, counts
    ) -> "UDDSketch":
        """Sketch from a bucket table — the (key, count) rows, one per key,
        of a histogram fill such as the Spark JVM path's
        ``groupBy(ceil(ln v / ln gamma)).count()``. ``keys`` may come in any
        order; the m bound is enforced once on the assembled store, so the
        result equals a single-batch ``update`` over the same values."""
        keys, counts = _sorted_store(keys, counts)
        sk = cls(initial_alpha=initial_alpha, m=m, zero_count=int(zero_count),
                 keys=keys, counts=counts)
        sk._enforce_bound()
        return sk

    # -- update ------------------------------------------------------------
    def update(self, values: np.ndarray) -> "UDDSketch":
        """Absorb a batch of float64 values (vectorized add(), :176-187).

        Values below MIN_ADDRESSABLE (incl. 0, denormals, negatives — the
        reference drivers filter negatives upstream, pudds.cpp:137-140) land
        in the zero bucket. NaNs are dropped.
        """
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        small = v < MIN_ADDRESSABLE
        self.zero_count += int(small.sum())
        v = v[~small]
        if v.size:
            bkeys = self._bucket_keys(v)
            ukeys, ucounts = np.unique(bkeys, return_counts=True)
            self._absorb(ukeys, ucounts.astype(np.int64))
            self._enforce_bound()
        return self

    def _bucket_keys(self, v: np.ndarray) -> np.ndarray:
        if self.compat:
            # reference add(): ceil(natural_log(v) * inverse_log_gamma)
            return np.ceil(fast_log32(v) * (1.0 / self.log_gamma)).astype(np.int64)
        # division (not reciprocal-multiply): bit-identical to ln(v)/ln(g)
        # in a SQL oracle; same libm, same rounding
        return np.ceil(np.log(v) / self.log_gamma).astype(np.int64)

    def update_weighted(self, values, counts) -> "UDDSketch":
        """Absorb (value, count) pairs — the weighted fill of a counted
        table (``df.groupBy(value).count()`` in Tungsten), so the kernel
        only sees distinct values. Equivalent to ``update`` repeating each
        value count times."""
        v = np.asarray(values, dtype=np.float64)
        c = np.asarray(counts, dtype=np.int64)
        ok = ~np.isnan(v)
        v, c = v[ok], c[ok]
        if v.size == 0:
            return self
        small = v < MIN_ADDRESSABLE
        self.zero_count += int(c[small].sum())
        v, c = v[~small], c[~small]
        if v.size:
            bkeys = self._bucket_keys(v)
            ukeys, inv = np.unique(bkeys, return_inverse=True)
            ucounts = np.zeros(ukeys.size, dtype=np.int64)
            np.add.at(ucounts, inv, c)
            self._absorb(ukeys, ucounts)
            self._enforce_bound()
        return self

    def remove(self, values) -> int:
        """Batch deletion support (uddsketch.cpp:189-208): decrement the
        matching bucket / zero bucket, erase emptied buckets. Returns the
        number of values that could NOT be removed (absent bucket or empty
        count — the reference returns 1 per such item). Note: like the
        reference, deletion is lossy once collapses have changed resolution.
        """
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        failed = 0
        small = v < MIN_ADDRESSABLE
        n_small = int(small.sum())
        take = min(n_small, self.zero_count)
        self.zero_count -= take
        failed += n_small - take
        v = v[~small]
        if v.size:
            bkeys = self._bucket_keys(v)
            ukeys, ucounts = np.unique(bkeys, return_counts=True)
            idx = np.searchsorted(self.keys, ukeys)
            for k, want, i in zip(ukeys, ucounts, idx):
                if i < self.keys.size and self.keys[i] == k:
                    got = min(int(want), int(self.counts[i]))
                    self.counts[i] -= got
                    failed += int(want) - got
                else:
                    failed += int(want)
            live = self.counts > 0
            if not live.all():
                self.keys, self.counts = self.keys[live], self.counts[live]
        return failed

    def _absorb(self, ukeys: np.ndarray, ucounts: np.ndarray) -> None:
        """Merge a sorted (key,count) run into the sorted store."""
        if self.keys.size == 0:
            # copy: adopting the caller's arrays by reference would alias
            # merge operands (later in-place mutation corrupts the other)
            self.keys, self.counts = ukeys.copy(), ucounts.copy()
            return
        allk = np.concatenate([self.keys, ukeys])
        allc = np.concatenate([self.counts, ucounts])
        keys, inv = np.unique(allk, return_inverse=True)
        counts = np.zeros(keys.size, dtype=np.int64)
        np.add.at(counts, inv, allc)
        self.keys, self.counts = keys, counts

    def _enforce_bound(self) -> None:
        while self.m > 0 and self.keys.size > self.m:
            self.collapse(1)

    # -- collapse ----------------------------------------------------------
    def collapse(self, n: int = 1) -> "UDDSketch":
        """Uniform collapse: key -> ceil(key/2^n) (uddsketch.cpp:210-224)."""
        if n <= 0:
            return self
        twopow = 2**n
        newk = _ceil_div(self.keys, twopow)
        # newk is monotone non-decreasing: segment-sum via reduceat
        if newk.size:
            starts = np.flatnonzero(np.diff(newk, prepend=newk[0] - 1))
            self.keys = newk[starts]
            self.counts = np.add.reduceat(self.counts, starts)
        self.num_collapses += n
        return self

    # -- merge -------------------------------------------------------------
    def merge(self, other: "UDDSketch") -> "UDDSketch":
        """In-place mergeable-summary union (uddsketch.cpp:306-329).

        Commutative & associative: both operands collapse to the coarser
        resolution (an integer), then bucket addition commutes, then the
        m-bound collapse depends only on the summed store.
        """
        if self.initial_alpha != other.initial_alpha:
            raise ValueError(
                "Merging sketches have incompatible alpha values: "
                f"{self.initial_alpha} != {other.initial_alpha}"
            )
        a, b = self, other
        if a.num_collapses < b.num_collapses:
            a = a.copy().collapse(b.num_collapses - a.num_collapses)
        elif b.num_collapses < a.num_collapses:
            b = b.copy().collapse(a.num_collapses - b.num_collapses)
        self.num_collapses = a.num_collapses
        self.zero_count = a.zero_count + b.zero_count
        self.keys, self.counts = a.keys, a.counts
        self._absorb(b.keys, b.counts)
        self._enforce_bound()
        return self

    def copy(self) -> "UDDSketch":
        return replace(self, keys=self.keys.copy(), counts=self.counts.copy())

    # -- query -------------------------------------------------------------
    def quantile(self, q: float) -> float:
        """Quantile estimate (uddsketch.cpp:226-246)."""
        n = self.count
        if n == 0:
            return float("nan")
        rank = int(np.floor(q * (n - 1)))
        if rank < self.zero_count:
            return 0.0
        if self.keys.size == 0:
            return 0.0
        cum = self.zero_count + np.cumsum(self.counts)
        idx = int(np.searchsorted(cum, rank, side="right"))
        idx = min(idx, self.keys.size - 1)
        return self.bucket_value(int(self.keys[idx]))

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs], dtype=np.float64)

    def rank_of(self, v: float) -> int:
        """Inverse quantile: estimated number of items <= ``v`` (the CDF in
        counts). Bucket-granular — every item sharing v's bucket counts as
        <= v, so the estimate is exact whenever v is a bucket upper bound
        and otherwise off by at most that one bucket's mass (items within
        relative alpha of v). Negative v ranks 0 (positive-domain store,
        matching the reference's VALIDATE domain)."""
        if not np.isfinite(v):
            # +inf ranks above everything; NaN/-inf rank below
            return self.count if v > 0 else 0
        if v < 0.0:
            return 0
        if v < MIN_ADDRESSABLE:
            return int(self.zero_count)
        if self.keys.size == 0:
            return int(self.zero_count)
        k = int(self._bucket_keys(np.array([v], dtype=np.float64))[0])
        return int(self.zero_count + self.counts[self.keys <= k].sum())

    def cdf(self, v: float) -> float:
        n = self.count
        return float(self.rank_of(v)) / n if n else float("nan")

    def ks_distance(self, other: "UDDSketch") -> float:
        """Kolmogorov–Smirnov statistic between two sketched distributions:
        sup |cdf_a - cdf_b|, evaluated over the union of bucket boundaries
        (both CDFs are step functions on bucket keys, so the supremum is
        attained there — the statistic is EXACT for the bucketed
        distributions, within one bucket's mass of the raw-data KS).
        Distribution-drift monitor: compare a new dataset snapshot's sketch
        against the reference snapshot without rescanning either."""
        if self.initial_alpha != other.initial_alpha:
            raise ValueError("KS distance needs a common alpha/key space")
        a, b = self, other
        # align resolutions exactly like merge() does
        if a.num_collapses < b.num_collapses:
            a = a.copy().collapse(b.num_collapses - a.num_collapses)
        elif b.num_collapses < a.num_collapses:
            b = b.copy().collapse(a.num_collapses - b.num_collapses)
        na, nb = a.count, b.count
        if na == 0 or nb == 0:
            return float("nan")
        keys = np.union1d(a.keys, b.keys)
        ca = np.zeros(keys.size, dtype=np.int64)
        cb = np.zeros(keys.size, dtype=np.int64)
        ca[np.searchsorted(keys, a.keys)] = a.counts
        cb[np.searchsorted(keys, b.keys)] = b.counts
        cdfa = (a.zero_count + np.cumsum(ca)) / na
        cdfb = (b.zero_count + np.cumsum(cb)) / nb
        gaps = np.abs(cdfa - cdfb)
        zero_gap = abs(a.zero_count / na - b.zero_count / nb)
        return float(max(gaps.max() if gaps.size else 0.0, zero_gap))

    def bucket_value(self, bkey: int) -> float:
        """gamma^key * (1-alpha) == 2*gamma^key/(gamma+1) (uddsketch.cpp:153-157)."""
        return float(self.gamma ** float(bkey) * (1.0 - self.alpha))

    # -- serde (reference-compatible byte layout, uddsketch.cpp:260-304) ----
    def to_bytes(self) -> bytes:
        head = struct.pack(
            _HEADER_FMT, self.initial_alpha, self.alpha, self.m, self.zero_count, self.keys.size
        )
        pairs = np.empty((self.keys.size, 2), dtype="<i8")
        pairs[:, 0] = self.keys
        pairs[:, 1] = self.counts
        return head + pairs.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "UDDSketch":
        data = bytes(data)
        init_alpha, alpha, m, zero, size = struct.unpack_from(_HEADER_FMT, data, 0)
        expect = _HEADER_SIZE + size * _PAIR_SIZE
        if len(data) != expect:
            raise ValueError(f"Serialized size error: {len(data)} != {expect}")
        pairs = np.frombuffer(data, dtype="<i8", offset=_HEADER_SIZE).reshape(-1, 2)
        keys = pairs[:, 0].astype(np.int64)
        counts = pairs[:, 1].astype(np.int64)
        order = np.argsort(keys, kind="stable")
        keys, counts = keys[order], counts[order]
        # recover integer collapse count from the alpha ratio:
        # alpha' = (g-1)/(g+1) with g = gamma0^(2^c)
        gamma0 = (1.0 + init_alpha) / (1.0 - init_alpha)
        if alpha <= init_alpha:
            c = 0
        else:
            g = (1.0 + alpha) / (1.0 - alpha)
            c = int(round(np.log2(np.log(g) / np.log(gamma0))))
        return cls(
            initial_alpha=init_alpha,
            m=int(m),
            num_collapses=c,
            zero_count=int(zero),
            keys=keys,
            counts=counts,
        )

    # -- equality (bucket-for-bucket, for property tests) -------------------
    def same_buckets(self, other: "UDDSketch") -> bool:
        return (
            self.initial_alpha == other.initial_alpha
            and self.num_collapses == other.num_collapses
            and self.zero_count == other.zero_count
            and np.array_equal(self.keys, other.keys)
            and np.array_equal(self.counts, other.counts)
        )


def bucket_keys(values: np.ndarray, initial_alpha: float, num_collapses: int = 0) -> np.ndarray:
    """Standalone vectorized key function (for SQL-oracle parity tests)."""
    gamma0 = (1.0 + initial_alpha) / (1.0 - initial_alpha)
    log_gamma = float(2**num_collapses) * float(np.log(gamma0))
    return np.ceil(np.log(np.asarray(values, dtype=np.float64)) / log_gamma).astype(np.int64)
