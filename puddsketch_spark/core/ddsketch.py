"""DDSketch pair kernel: signed values via (positive store, negative store,
near-zero bucket B*).

Semantics re-derived from the reference's ParallelDDSketch (UDD-collapse
flavor): three-way sign split with B* for |x| below the addressable bound
(/root/reference/ParallelDDSketch/src/ParallelSketcher.cc:546-643, B* key
and NULLBOUND at Header.h:40 / ParallelSketcher.cc:234), uniform collapse
preserving B* (MapSketch.cc:43-83), pair quantile walking negative bins in
reverse key order then B* then positive bins ascending
(ArraySketch.cc:10-79, key-order reversal Merger.cc:15-111).

Same mergeable contract as UDDSketch; keys use ln(gamma) buckets (the
reference's log10/log10 ratio is algebraically identical). The m bound
applies to pos+neg bucket count jointly.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field, replace

import numpy as np

from .uddsketch import MIN_ADDRESSABLE, _ceil_div, _sorted_store

__all__ = ["DDSketchPair"]

_EMPTY = np.empty(0, dtype=np.int64)

_LIBM_LOG10 = None


def _libm_log10(values: np.ndarray) -> np.ndarray:
    """glibc ``log10`` element-by-element, for ``compat=True`` fills only.

    The reference computes bucket keys as ``ceil(log10(x)/base)`` with
    ``base = std::log10(gamma)`` (ParallelSketcher.cc:548,601,233).
    ``np.log10`` differs from glibc's ``log10`` by 1 ulp on ~7% of inputs
    (numpy's SIMD polynomial vs libm), which can flip ``ceil`` at a bucket
    boundary — so golden parity calls the same libm symbol the compiled
    reference binary links. Scalar loop: compat is a test-scale path.
    """
    global _LIBM_LOG10
    if _LIBM_LOG10 is None:
        import ctypes

        try:
            lib = ctypes.CDLL("libm.so.6")
            lib.log10.restype = ctypes.c_double
            lib.log10.argtypes = [ctypes.c_double]
            _LIBM_LOG10 = lib.log10
        except OSError:  # non-glibc platform: best-effort fallback
            _LIBM_LOG10 = np.log10
    f = _LIBM_LOG10
    if f is np.log10:
        return np.log10(values)
    return np.array([f(float(v)) for v in values], dtype=np.float64)
# magic+version, then: init_alpha, alpha, m, collapses, zero, n_pos, n_neg,
# mode, pair_collapses, fence_neg, fence_pos (fence sentinel: _NOFENCE =
# None), min_value, max_value. The magic word turns a layout change (like
# the r2 addition of min/max) into an actionable error instead of shifted
# array offsets and a cryptic buffer-length failure.
_MAGIC = 0xDD5C
_VERSION = 2
_HEADER_FMT = "<HHddiiqqqiiqqdd"
_NOFENCE = -(2**62)
_MODES = {"uniform": 0, "ddog_low": 1, "ddog_high": 2}
_MODES_INV = {v: k for k, v in _MODES.items()}


def _absorb(keys: np.ndarray, counts: np.ndarray, k2: np.ndarray, c2: np.ndarray):
    # copies on the pass-through branches: returning an operand's arrays by
    # reference would alias two sketches' stores (mutation corrupts both)
    if keys.size == 0:
        return k2.copy(), c2.copy()
    if k2.size == 0:
        return keys.copy(), counts.copy()
    allk = np.concatenate([keys, k2])
    allc = np.concatenate([counts, c2])
    u, inv = np.unique(allk, return_inverse=True)
    out = np.zeros(u.size, dtype=np.int64)
    np.add.at(out, inv, allc)
    return u, out


def _collapse_store(keys: np.ndarray, counts: np.ndarray, n: int):
    if keys.size == 0:
        return keys, counts
    newk = _ceil_div(keys, 2**n)
    starts = np.flatnonzero(np.diff(newk, prepend=newk[0] - 1))
    return newk[starts], np.add.reduceat(counts, starts)


@dataclass
class DDSketchPair:
    initial_alpha: float = 0.01
    m: int = 500  # joint pos+neg bucket bound; 0 = unbounded
    num_collapses: int = 0
    zero_count: int = 0  # B*
    pos_keys: np.ndarray = field(default_factory=lambda: _EMPTY.copy())
    pos_counts: np.ndarray = field(default_factory=lambda: _EMPTY.copy())
    neg_keys: np.ndarray = field(default_factory=lambda: _EMPTY.copy())
    neg_counts: np.ndarray = field(default_factory=lambda: _EMPTY.copy())
    # "uniform"   = UDD-flavor collapse (gamma widens, error bound alpha' grows)
    # "ddog_low"  = DataDog-original LowBins pair collapse (MapSketch.cc:87-247,
    #   ArraySketch.cc:212-443 LowBins branch): gamma fixed; excess bins fold
    #   pairwise from the LOW end of the value axis (highest-|key| negative
    #   bins first down to one bin, then lowest positive bins)
    # "ddog_high" = HighBins branch (ArraySketch.cc:315-380): excess bins fold
    #   from the HIGH end (highest positive keys first down to one non-B* bin,
    #   then lowest-|key| negative bins)
    # In both ddog modes B* is never collapsed but counts toward the m bound
    # (the reference keeps B* inside the positive array: ArraySketch.cc:224-231).
    # fence_* = key of the trash bin that last absorbed folded mass in that
    # store (None if never folded); accurate_range()/collapsed_alpha() report
    # the q0/q1 accuracy window like ParallelSketcher.cc:920-1028.
    collapse_mode: str = "uniform"
    pair_collapses: int = 0
    fence_neg: int | None = None
    fence_pos: int | None = None
    min_value: float = float("nan")
    max_value: float = float("nan")
    # compat=True: bucket keys via glibc log10 exactly as the reference
    # binary computes them — ceil(log10(|x|) / log10(gamma)) — for
    # bucket-for-bucket golden equality with the COMPILED reference kernels
    # (tests/golden/README.md). Fill-time only; merge/quantile/serde
    # are log-free and from_bytes yields compat=False.
    compat: bool = False

    @property
    def gamma0(self) -> float:
        return (1.0 + self.initial_alpha) / (1.0 - self.initial_alpha)

    @property
    def log_gamma(self) -> float:
        return float(2**self.num_collapses) * np.log(self.gamma0)

    @property
    def gamma(self) -> float:
        return float(self.gamma0 ** float(2**self.num_collapses))

    @property
    def alpha(self) -> float:
        g = self.gamma
        return (g - 1.0) / (g + 1.0)

    @property
    def count(self) -> int:
        return int(self.pos_counts.sum() + self.neg_counts.sum()) + self.zero_count

    @property
    def num_buckets(self) -> int:
        return int(self.pos_keys.size + self.neg_keys.size)

    @classmethod
    def from_bucket_table(
        cls,
        initial_alpha: float,
        m: int,
        zero_count: int,
        pos_keys,
        pos_counts,
        neg_keys=_EMPTY,
        neg_counts=_EMPTY,
        min_value: float = float("nan"),
        max_value: float = float("nan"),
        collapse_mode: str = "uniform",
    ) -> "DDSketchPair":
        """Pair from bucket tables: the (key, count) rows of each store in
        any order, the B* count and the value range. The bound is enforced
        once on the assembled stores (a one-shot fold: the minimal-collapse
        result for uniform mode, the single-batch ``update`` result for the
        ddog modes)."""
        pos_keys, pos_counts = _sorted_store(pos_keys, pos_counts)
        neg_keys, neg_counts = _sorted_store(neg_keys, neg_counts)
        sk = cls(
            initial_alpha=initial_alpha, m=m, collapse_mode=collapse_mode,
            zero_count=int(zero_count),
            pos_keys=pos_keys, pos_counts=pos_counts,
            neg_keys=neg_keys, neg_counts=neg_counts,
            min_value=float(min_value), max_value=float(max_value),
        )
        sk._enforce_bound()
        return sk

    # -- update --------------------------------------------------------------
    def update(self, values) -> "DDSketchPair":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        lo, hi = float(v.min()), float(v.max())
        self.min_value = lo if np.isnan(self.min_value) else min(self.min_value, lo)
        self.max_value = hi if np.isnan(self.max_value) else max(self.max_value, hi)
        near_zero = np.abs(v) < MIN_ADDRESSABLE
        self.zero_count += int(near_zero.sum())
        v = v[~near_zero]
        if self.compat:
            # reference key fn: ceil(log10(x) / base), same libm; a uniform
            # collapse DOUBLES base exactly (the uddsketch.cpp:220
            # convention) rather than recomputing log10(gamma^2)
            base = float(2**self.num_collapses) * _libm_log10(
                np.array([self.gamma0])
            )[0]
            _keys = lambda x: np.ceil(_libm_log10(x) / base).astype(np.int64)
        else:
            lg = self.log_gamma
            _keys = lambda x: np.ceil(np.log(x) / lg).astype(np.int64)
        pos = v[v > 0]
        neg = -v[v < 0]
        if pos.size:
            k = _keys(pos)
            u, c = np.unique(k, return_counts=True)
            self.pos_keys, self.pos_counts = _absorb(
                self.pos_keys, self.pos_counts, u, c.astype(np.int64)
            )
        if neg.size:
            k = _keys(neg)
            u, c = np.unique(k, return_counts=True)
            self.neg_keys, self.neg_counts = _absorb(
                self.neg_keys, self.neg_counts, u, c.astype(np.int64)
            )
        self._enforce_bound()
        return self

    def _enforce_bound(self) -> None:
        if self.collapse_mode == "ddog_low":
            self._ddog_low_collapse()
            return
        if self.collapse_mode == "ddog_high":
            self._ddog_high_collapse()
            return
        # B* occupies one slot of the bound here too: the reference's
        # uniform pair collapse counts it inside the positive store
        # (collapseArrayPair's `(sizep + sizen) > bound`,
        # ArraySketch.cc:181, with B* packed in posi)
        while self.m > 0 and self._bound_excess() > 0:
            self.collapse(1)

    def _bound_excess(self) -> int:
        # reference parity: B* lives in the positive array and consumes one
        # slot of the bound even though it is never collapsed
        # (ArraySketch.cc:224-231, loop condition at :247)
        return self.num_buckets + (1 if self.zero_count > 0 else 0) - self.m

    def _ddog_low_collapse(self) -> None:
        """Batch-exact equivalent of the reference's sequential LowBins pair
        collapse (MapSketch.cc:87-247, ArraySketch.cc:247-318): while over
        bound, fold the highest-key negative bin into its neighbor (= lowest
        VALUES merge upward); once the negative store is down to one bin,
        fold the lowest-key positive bins. B* is never collapsed."""
        if self.m <= 0:
            return
        excess = self._bound_excess()
        if excess <= 0:
            return
        # negative store: can give up (sizen - 1) bins
        give_n = min(excess, max(self.neg_keys.size - 1, 0))
        if give_n > 0:
            keep = self.neg_keys.size - give_n
            # counts of the top give_n keys fold into the new top bin (index keep-1)
            folded = int(self.neg_counts[keep - 1 :].sum())
            self.neg_keys = self.neg_keys[:keep]
            self.neg_counts = self.neg_counts[:keep].copy()
            self.neg_counts[-1] = folded
            self.fence_neg = int(self.neg_keys[-1])
            self.pair_collapses += give_n
            excess -= give_n
        if excess > 0 and self.pos_keys.size > 1:
            give_p = min(excess, self.pos_keys.size - 1)
            folded = int(self.pos_counts[: give_p + 1].sum())
            self.pos_keys = self.pos_keys[give_p:]
            self.pos_counts = self.pos_counts[give_p:].copy()
            self.pos_counts[0] = folded
            self.fence_pos = int(self.pos_keys[0])
            self.pair_collapses += give_p

    def _ddog_high_collapse(self) -> None:
        """HighBins mirror (ArraySketch.cc:315-380): while over bound, fold
        the highest-key positive bin into its lower neighbor (highest VALUES
        merge downward); once the positive store is down to one non-B* bin,
        fold the lowest-|key| negative bins (the highest-value negatives).
        B* is never collapsed."""
        if self.m <= 0:
            return
        excess = self._bound_excess()
        if excess <= 0:
            return
        give_p = min(excess, max(self.pos_keys.size - 1, 0))
        if give_p > 0:
            keep = self.pos_keys.size - give_p
            folded = int(self.pos_counts[keep - 1 :].sum())
            self.pos_keys = self.pos_keys[:keep]
            self.pos_counts = self.pos_counts[:keep].copy()
            self.pos_counts[-1] = folded
            self.fence_pos = int(self.pos_keys[-1])
            self.pair_collapses += give_p
            excess -= give_p
        if excess > 0 and self.neg_keys.size > 1:
            give_n = min(excess, self.neg_keys.size - 1)
            folded = int(self.neg_counts[: give_n + 1].sum())
            self.neg_keys = self.neg_keys[give_n:]
            self.neg_counts = self.neg_counts[give_n:].copy()
            self.neg_counts[0] = folded
            self.fence_neg = int(self.neg_keys[0])
            self.pair_collapses += give_n

    def collapse(self, n: int = 1) -> "DDSketchPair":
        """Uniform collapse of BOTH stores; B* is exempt (MapSketch.cc:43-83)."""
        if n <= 0:
            return self
        self.pos_keys, self.pos_counts = _collapse_store(self.pos_keys, self.pos_counts, n)
        self.neg_keys, self.neg_counts = _collapse_store(self.neg_keys, self.neg_counts, n)
        self.num_collapses += n
        return self

    # -- merge ----------------------------------------------------------------
    def merge(self, other: "DDSketchPair") -> "DDSketchPair":
        """Mergeable-summary union.

        For the ddog modes this is the batch equivalent of the reference's
        trash-bin reduce (Merger.cc:472-739 reduceOriginal +
        optMergeBinsPosi/Nega :745-1472): the reference merge-joins into a
        bound-width array and spills every key beyond the kept range into the
        edge ("trash") bin, which is exactly absorb-then-fold-from-the-edge —
        the staged per-store bounds (pos gets bound-1 first in LowBins, nega
        first in HighBins) land on the same endpoint as the joint fold because
        the collapse priority folds the secondary store to one bin before
        touching the primary (property-tested against a sequential emulation
        of the reference merge in tests/test_ddsketch_pair.py).
        """
        if self.initial_alpha != other.initial_alpha:
            raise ValueError("Merging sketches have incompatible alpha values")
        if self.collapse_mode != other.collapse_mode:
            raise ValueError("Merging sketches have incompatible collapse modes")
        self.pair_collapses += other.pair_collapses
        # fences: keep the trash key covering the widest folded range
        # (low mode folds upward into pos / downward into neg; high mode the
        # mirror), so the combined fence stays conservative under any order
        hi_pos = self.collapse_mode == "ddog_low"
        for attr, take_max in (("fence_pos", hi_pos), ("fence_neg", not hi_pos)):
            o = getattr(other, attr)
            s = getattr(self, attr)
            if o is not None:
                pick = (max if take_max else min)(s, o) if s is not None else o
                setattr(self, attr, pick)
        for attr, fn in (("min_value", min), ("max_value", max)):
            o = getattr(other, attr)
            s = getattr(self, attr)
            if not np.isnan(o):
                setattr(self, attr, o if np.isnan(s) else fn(s, o))
        a, b = self, other
        if a.num_collapses < b.num_collapses:
            a = a.copy().collapse(b.num_collapses - a.num_collapses)
        elif b.num_collapses < a.num_collapses:
            b = b.copy().collapse(a.num_collapses - b.num_collapses)
        self.num_collapses = a.num_collapses
        self.zero_count = a.zero_count + b.zero_count
        self.pos_keys, self.pos_counts = _absorb(a.pos_keys, a.pos_counts, b.pos_keys, b.pos_counts)
        self.neg_keys, self.neg_counts = _absorb(a.neg_keys, a.neg_counts, b.neg_keys, b.neg_counts)
        self._enforce_bound()
        return self

    def copy(self) -> "DDSketchPair":
        return replace(
            self,
            pos_keys=self.pos_keys.copy(),
            pos_counts=self.pos_counts.copy(),
            neg_keys=self.neg_keys.copy(),
            neg_counts=self.neg_counts.copy(),
        )

    # -- query ----------------------------------------------------------------
    def _bucket_value(self, bkey: int) -> float:
        return float(self.gamma ** float(bkey) * (1.0 - self.alpha))

    def quantile(self, q: float) -> float:
        """Walk: negative bins (descending key = ascending value), B*, then
        positive bins ascending (ArraySketch.cc:10-79)."""
        n = self.count
        if n == 0:
            return float("nan")
        rank = int(np.floor(q * (n - 1)))
        # negative store: value -gamma^key, scanned largest key first
        neg_desc_counts = self.neg_counts[::-1]
        cum = np.cumsum(neg_desc_counts) if neg_desc_counts.size else _EMPTY
        if cum.size and rank < cum[-1]:
            i = int(np.searchsorted(cum, rank, side="right"))
            key = int(self.neg_keys[::-1][i])
            return -self._bucket_value(key)
        consumed = int(cum[-1]) if cum.size else 0
        if rank < consumed + self.zero_count:
            return 0.0
        consumed += self.zero_count
        if self.pos_keys.size == 0:
            return 0.0
        cump = consumed + np.cumsum(self.pos_counts)
        i = min(int(np.searchsorted(cump, rank, side="right")), self.pos_keys.size - 1)
        return self._bucket_value(int(self.pos_keys[i]))

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def _key_of(self, mag: float) -> int:
        """Bucket key of a positive magnitude, matching update()'s key fn
        (incl. compat-mode glibc log10)."""
        if self.compat:
            base = float(2**self.num_collapses) * _libm_log10(
                np.array([self.gamma0])
            )[0]
            return int(np.ceil(_libm_log10(np.array([mag]))[0] / base))
        return int(np.ceil(np.log(mag) / self.log_gamma))

    def rank_of(self, v: float) -> int:
        """Inverse quantile over the signed domain: estimated number of
        items <= ``v``, walking the same neg / B* / pos order as
        quantile(). Bucket-granular like UDDSketch.rank_of — every item
        sharing v's bucket counts as <= v."""
        if not np.isfinite(v):
            return 0 if np.isnan(v) or v < 0 else self.count
        neg_total = int(self.neg_counts.sum())
        if v < 0:
            mag = -v
            if mag < MIN_ADDRESSABLE:
                # above every addressable negative: all negatives count
                return neg_total
            k = self._key_of(mag)
            # items <= v are the negatives with magnitude >= |v|'s bucket:
            # neg keys >= k
            return int(self.neg_counts[self.neg_keys >= k].sum())
        if v < MIN_ADDRESSABLE:
            return neg_total + int(self.zero_count)
        k = self._key_of(v)
        return (
            neg_total
            + int(self.zero_count)
            + int(self.pos_counts[self.pos_keys <= k].sum())
        )

    def cdf(self, v: float) -> float:
        n = self.count
        return float(self.rank_of(v)) / n if n else float("nan")

    def ks_distance(self, other: "DDSketchPair") -> float:
        """Kolmogorov–Smirnov statistic sup |cdf_a - cdf_b| over the SIGNED
        domain — the drift monitor UDDSketch.ks_distance can't provide for
        negative-valued columns (its positive-domain store folds every
        negative into the zero bucket). Each side evaluates its OWN cdf at
        the union of both sketches' bucket representatives plus zero; both
        CDFs are step functions whose jumps occur inside buckets, so the
        supremum is attained there to bucket granularity (within one
        bucket's mass of the raw-data KS). Unlike the UDD variant this
        needs no key-space alignment — differing gammas/collapse states
        just evaluate at each other's points."""
        na, nb = self.count, other.count
        if na == 0 or nb == 0:
            return float("nan")
        pts = {0.0}
        for s in (self, other):
            pts.update(-s._bucket_value(int(k)) for k in s.neg_keys)
            pts.update(s._bucket_value(int(k)) for k in s.pos_keys)
        return max(abs(self.cdf(v) - other.cdf(v)) for v in pts)

    def accurate_range(self) -> tuple[float, float]:
        """[q0, q1] quantile window where estimates are alpha-accurate,
        mirroring the reference's DDOG accuracy bookkeeping
        (ParallelSketcher.cc:920-1028): mass absorbed by the edge trash
        bin(s) delimits the window. Uniform mode reports (0, 1) — its
        accuracy degradation is global and carried by .alpha instead.
        Unlike the reference (which forces the edge-bin check on every
        report), we treat the edge bin as trash only when a pair collapse
        actually happened."""
        n = self.count
        if n == 0 or self.pair_collapses == 0 or self.collapse_mode == "uniform":
            return (0.0, 1.0)
        npop = int(self.neg_counts.sum())
        if self.collapse_mode == "ddog_low":
            if npop == 0:
                # ParallelSketcher.cc:943-959: trash = first positive bin,
                # plus B* when present
                t = self.zero_count + (int(self.pos_counts[0]) if self.pos_keys.size else 0)
                return (t / n, 1.0)
            pb = self.pos_keys.size + (1 if self.zero_count > 0 else 0)
            if self.m - pb > 1:
                # only the highest-key negative bin is trash (:963-969)
                return (int(self.neg_counts[-1]) / n, 1.0)
            # single negative bin left: its mass plus the first positive bin
            # (and B*) may all be trash (:971-991)
            t = int(self.neg_counts[-1]) + self.zero_count + (
                int(self.pos_counts[0]) if self.pos_keys.size else 0
            )
            return (t / n, 1.0)
        # ddog_high (:995-1026)
        ppop = int(self.pos_counts.sum()) + self.zero_count
        if ppop > 0:
            # >= 2 real (non-B*) positive bins <=> the reference's
            # (pb > 2) || (pb == 2 && posi[0] != B*) with pb counting B*:
            # negatives never fold while that holds, so only the top positive
            # bin is trash
            if self.pos_keys.size >= 2:
                return (0.0, 1.0 - int(self.pos_counts[-1]) / n)
            # positives exhausted: the single positive bin, B*, and the
            # lowest-|key| negative bin may all hold folded mass
            t = self.zero_count + (int(self.pos_counts[-1]) if self.pos_keys.size else 0)
            t += int(self.neg_counts[0]) if self.neg_keys.size else 0
            return (0.0, 1.0 - t / n)
        return (0.0, 1.0 - (int(self.neg_counts[0]) / n if self.neg_keys.size else 0.0))

    def collapsed_alpha(self) -> float:
        """Relative-error bound inside the trash bin for the pure-positive
        LowBins case (the only case the reference computes:
        ParallelSketcher.cc:956-959): the trash bin spans keys
        [key(min_value), fence], so its value range is gamma^(span+1) wide.
        Returns 0.0 when not applicable (matching the reference default)."""
        if (
            self.collapse_mode != "ddog_low"
            or self.pair_collapses == 0
            or self.neg_counts.sum() > 0
            or self.pos_keys.size == 0
            or not (self.min_value > 0)
        ):
            return 0.0
        i_min = int(np.ceil(np.log(self.min_value) / self.log_gamma))
        gamma_err = self.gamma ** float(int(self.pos_keys[0]) - i_min + 1)
        return (gamma_err - 1.0) / (gamma_err + 1.0)

    # -- serde ------------------------------------------------------------------
    def to_bytes(self) -> bytes:
        head = struct.pack(
            _HEADER_FMT,
            _MAGIC,
            _VERSION,
            self.initial_alpha,
            self.alpha,
            self.m,
            self.num_collapses,
            self.zero_count,
            self.pos_keys.size,
            self.neg_keys.size,
            _MODES[self.collapse_mode],
            self.pair_collapses,
            _NOFENCE if self.fence_neg is None else self.fence_neg,
            _NOFENCE if self.fence_pos is None else self.fence_pos,
            self.min_value,
            self.max_value,
        )
        parts = [head]
        for arr in (self.pos_keys, self.pos_counts, self.neg_keys, self.neg_counts):
            parts.append(arr.astype("<i8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "DDSketchPair":
        data = bytes(data)
        (magic, version, init_alpha, _alpha, m, c, zero, n_pos, n_neg,
         mode, pairc, fneg, fpos, vmin, vmax) = struct.unpack_from(_HEADER_FMT, data, 0)
        if magic != _MAGIC or version != _VERSION:
            raise ValueError(
                f"DDSketchPair blob magic/version mismatch (got {magic:#x} "
                f"v{version}, want {_MAGIC:#x} v{_VERSION}): written by a "
                "different build — delete stale checkpoints/state and rerun"
            )
        off = struct.calcsize(_HEADER_FMT)

        def take(n):
            nonlocal off
            a = np.frombuffer(data, dtype="<i8", offset=off, count=n).astype(np.int64)
            off += n * 8
            return a

        return cls(
            initial_alpha=init_alpha,
            m=m,
            num_collapses=c,
            zero_count=zero,
            pos_keys=take(n_pos),
            pos_counts=take(n_pos),
            neg_keys=take(n_neg),
            neg_counts=take(n_neg),
            collapse_mode=_MODES_INV[mode],
            pair_collapses=pairc,
            fence_neg=None if fneg == _NOFENCE else fneg,
            fence_pos=None if fpos == _NOFENCE else fpos,
            min_value=vmin,
            max_value=vmax,
        )

    def same_buckets(self, other: "DDSketchPair") -> bool:
        return (
            self.initial_alpha == other.initial_alpha
            and self.num_collapses == other.num_collapses
            and self.zero_count == other.zero_count
            and np.array_equal(self.pos_keys, other.pos_keys)
            and np.array_equal(self.pos_counts, other.pos_counts)
            and np.array_equal(self.neg_keys, other.neg_keys)
            and np.array_equal(self.neg_counts, other.neg_counts)
        )
