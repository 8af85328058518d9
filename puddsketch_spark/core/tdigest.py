"""t-digest kernel (north_rule companion; designed from Dunning & Ertl,
"Computing extremely accurate quantiles using t-digests", 2019).

Vectorized merging variant: a batch is absorbed by concatenating weight-1
points with existing centroids, sorting, and regrouping by k-space bucket of
the k1 scale function k(q) = (delta/2pi) asin(2q-1). Clustering in k-space is
fully vectorizable (reduceat over bucket boundaries) and deterministic given
the value multiset — so merge(A,B) == merge(B,A) exactly.
Rank error ~ O(q(1-q)/delta); tails are tightest (asin steepens at 0/1).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

__all__ = ["TDigest"]

_MAGIC = b"TDG1"
_EMPTY = np.empty(0, dtype=np.float64)


def _k1(q: np.ndarray, delta: float) -> np.ndarray:
    return (delta / (2 * np.pi)) * np.arcsin(np.clip(2 * q - 1, -1.0, 1.0))


def _compress(means: np.ndarray, weights: np.ndarray, delta: float):
    # ties on the mean are ordered by weight, so the order (and thus the
    # k-space grouping) depends only on the (mean, weight) multiset, not on
    # which operand of a merge a centroid came from
    order = np.lexsort((weights, means))
    means, weights = means[order], weights[order]
    total = weights.sum()
    if total == 0:
        return _EMPTY.copy(), _EMPTY.copy()
    cum = np.cumsum(weights)
    # midpoint quantile of each point, bucketed in k-space
    q = (cum - weights / 2.0) / total
    buckets = np.floor(_k1(q, delta)).astype(np.int64)
    starts = np.flatnonzero(np.diff(buckets, prepend=buckets[0] - 1))
    w_out = np.add.reduceat(weights, starts)
    m_out = np.add.reduceat(means * weights, starts) / w_out
    return m_out, w_out


@dataclass
class TDigest:
    delta: float = 200.0
    total: float = 0.0
    vmin: float = np.inf
    vmax: float = -np.inf
    means: np.ndarray = field(default_factory=lambda: _EMPTY.copy())
    weights: np.ndarray = field(default_factory=lambda: _EMPTY.copy())

    # metrics-contract attrs
    @property
    def count(self) -> int:
        return int(round(self.total))

    @property
    def num_buckets(self) -> int:
        return int(self.means.size)

    num_collapses = 0

    def update(self, values) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        m = np.concatenate([self.means, v])
        w = np.concatenate([self.weights, np.ones(v.size)])
        self.means, self.weights = _compress(m, w, self.delta)
        self.total += float(v.size)
        return self

    def update_weighted(self, values, counts) -> "TDigest":
        """Absorb (value, count) pairs: the weighted fill of a counted
        table."""
        v = np.asarray(values, dtype=np.float64)
        c = np.asarray(counts, dtype=np.float64)
        ok = ~np.isnan(v) & (c > 0)
        v, c = v[ok], c[ok]
        if v.size == 0:
            return self
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        m = np.concatenate([self.means, v])
        w = np.concatenate([self.weights, c])
        self.means, self.weights = _compress(m, w, self.delta)
        self.total += float(c.sum())
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        if self.delta != other.delta:
            raise ValueError("t-digest delta mismatch")
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        m = np.concatenate([self.means, other.means])
        w = np.concatenate([self.weights, other.weights])
        self.means, self.weights = _compress(m, w, self.delta)
        self.total += other.total
        return self

    def quantile(self, q: float) -> float:
        if self.means.size == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        cum = np.cumsum(self.weights) - self.weights / 2.0
        target = q * self.total
        if target <= cum[0]:
            return self.vmin if q <= 0 else float(
                self.vmin + (target / cum[0]) * (self.means[0] - self.vmin)
            ) if cum[0] > 0 else float(self.means[0])
        if target >= cum[-1]:
            rem = self.total - cum[-1]
            if rem <= 0 or q >= 1:
                return self.vmax
            return float(
                self.means[-1] + ((target - cum[-1]) / rem) * (self.vmax - self.means[-1])
            )
        i = int(np.searchsorted(cum, target, side="right"))
        lo, hi = cum[i - 1], cum[i]
        frac = (target - lo) / (hi - lo) if hi > lo else 0.0
        return float(self.means[i - 1] + frac * (self.means[i] - self.means[i - 1]))

    def quantiles(self, qs) -> np.ndarray:
        return np.array([self.quantile(q) for q in qs])

    def cdf(self, value: float) -> float:
        """Estimated fraction of items <= value — the interpolated inverse
        of quantile() over the same centroid-midpoint knots, so
        cdf(quantile(q)) ~= q away from the clamped extremes."""
        if self.means.size == 0:
            return float("nan")
        if value <= self.vmin:
            return 0.0
        if value >= self.vmax:
            return 1.0
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if value <= self.means[0]:
            span = self.means[0] - self.vmin
            frac = (value - self.vmin) / span if span > 0 else 1.0
            return float(frac * cum[0] / self.total)
        if value >= self.means[-1]:
            span = self.vmax - self.means[-1]
            frac = (value - self.means[-1]) / span if span > 0 else 0.0
            return float((cum[-1] + frac * (self.total - cum[-1])) / self.total)
        i = int(np.searchsorted(self.means, value, side="right"))
        lo, hi = self.means[i - 1], self.means[i]
        frac = (value - lo) / (hi - lo) if hi > lo else 0.0
        return float((cum[i - 1] + frac * (cum[i] - cum[i - 1])) / self.total)

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack(
            "<ddddq", self.delta, self.total, self.vmin, self.vmax, self.means.size
        )
        return head + self.means.astype("<f8").tobytes() + self.weights.astype("<f8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        data = bytes(data)
        if data[:4] != _MAGIC:
            raise ValueError("not a t-digest blob")
        delta, total, vmin, vmax, n = struct.unpack_from("<ddddq", data, 4)
        off = 4 + 40
        means = np.frombuffer(data, dtype="<f8", offset=off, count=int(n)).astype(np.float64)
        weights = np.frombuffer(
            data, dtype="<f8", offset=off + int(n) * 8, count=int(n)
        ).astype(np.float64)
        return cls(delta=delta, total=total, vmin=vmin, vmax=vmax, means=means, weights=weights)

    def same_buckets(self, other: "TDigest") -> bool:
        return (
            self.delta == other.delta
            and np.array_equal(self.means, other.means)
            and np.array_equal(self.weights, other.weights)
        )
