"""Theta (KMV / QuickSelect) distinct sketch with set operations
(north_rule companion; no reference counterpart — designed from the
Theta-Sketch Framework, Dasgupta, Lang, Rhodes & Thaler, 2016).

Same mergeable-UDAF contract as the other companions (SURVEY.md §2.2):
vectorized ``update``, commutative/associative ``merge`` (union), byte
serde. Unlike HLL, a theta sketch supports INTERSECTION and DIFFERENCE
(A-not-B) estimates, which HLL cannot do without inclusion-exclusion
error blow-up — that is the reason to carry both kernels.

Semantics: items hash to 63-bit uniform keys (``hash64 >> 1``); the
sketch retains the set of distinct keys below a threshold ``theta``
(initially 2^63 = "keep everything" exact mode). When more than ``k``
keys are retained, theta tightens to the (k+1)-th smallest key and the
k smallest are kept (QuickSelect sketch). Estimate = |retained| *
2^63 / theta; relative standard error ~= 1/sqrt(k-1) for union-only
workloads (~1.6% at the default k=4096).

Set operations are closed-form over retained sets:
  union       theta = min(thetas); keys = dedup(concat) < theta; tighten.
  intersect   theta = min(thetas); keys = A ∩ B below theta.
  a_not_b     theta = min(thetas); keys = {h in A : h < theta, h not in B}.
The result of intersect/a_not_b is itself a valid sketch (composable).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

from .hashing import hash64

__all__ = ["ThetaSketch"]

_MAGIC = b"THE1"
_MAX_THETA = np.uint64(1) << np.uint64(63)  # exact mode sentinel (2^63)


def _drop_nan(values):
    """Float NaN == SQL NULL: contributes nothing to the distinct set."""
    arr = np.asarray(values) if not hasattr(values, "to_numpy") else values.to_numpy()
    if getattr(arr, "dtype", None) is not None and arr.dtype.kind == "f":
        return arr[~np.isnan(arr)]
    return arr


@dataclass
class ThetaSketch:
    k: int = 4096
    theta: np.uint64 = field(default_factory=lambda: _MAX_THETA)
    keys: np.ndarray | None = None  # sorted uint64, all < theta, all < 2^63

    def __post_init__(self):
        if self.k < 16:
            raise ValueError("k must be >= 16")
        if self.keys is None:
            self.keys = np.empty(0, dtype=np.uint64)
        self.theta = np.uint64(self.theta)

    # ---------------------------------------------------------------- metrics
    @property
    def count(self) -> int:
        return int(round(self.estimate()))

    @property
    def num_buckets(self) -> int:
        return int(self.keys.size)

    num_collapses = 0
    value_family = "hash"

    @property
    def is_exact(self) -> bool:
        return bool(self.theta == _MAX_THETA)

    # ---------------------------------------------------------------- update
    def _tighten(self) -> None:
        """Keep the k smallest keys; theta := (k+1)-th smallest."""
        if self.keys.size > self.k:
            part = np.partition(self.keys, self.k)
            self.theta = part[self.k]
            self.keys = np.sort(part[: self.k])

    def update(self, values) -> "ThetaSketch":
        values = _drop_nan(values)
        h = hash64(values) >> np.uint64(1)
        if h.size == 0:
            return self
        h = np.unique(h)
        h = h[h < self.theta]
        self.keys = np.union1d(self.keys, h)  # sorted, deduped
        self._tighten()
        return self

    def update_weighted(self, values, counts) -> "ThetaSketch":
        """Distinct-count is weight-invariant: the weighted fill
        (distinct value + count rows) feeds the same key set."""
        return self.update(values)

    # ---------------------------------------------------------------- merge
    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        if self.k != other.k:
            raise ValueError("ThetaSketch k mismatch")
        self.theta = min(self.theta, other.theta)
        keys = np.union1d(self.keys, other.keys)
        self.keys = keys[keys < self.theta]
        self._tighten()
        return self

    # ---------------------------------------------------------------- estimate
    def estimate(self) -> float:
        if self.is_exact:
            return float(self.keys.size)
        return float(self.keys.size) * float(_MAX_THETA) / float(self.theta)

    def rse(self) -> float:
        """Relative standard error of the union/update estimate."""
        if self.is_exact:
            return 0.0
        return 1.0 / np.sqrt(self.keys.size - 1) if self.keys.size > 1 else 1.0

    # ---------------------------------------------------------------- set ops
    @classmethod
    def intersect(cls, a: "ThetaSketch", b: "ThetaSketch") -> "ThetaSketch":
        theta = min(a.theta, b.theta)
        keys = np.intersect1d(a.keys, b.keys)
        keys = keys[keys < theta]
        return cls(k=max(a.k, b.k), theta=theta, keys=keys)

    @classmethod
    def a_not_b(cls, a: "ThetaSketch", b: "ThetaSketch") -> "ThetaSketch":
        theta = min(a.theta, b.theta)
        keys = np.setdiff1d(a.keys, b.keys)
        keys = keys[keys < theta]
        return cls(k=max(a.k, b.k), theta=theta, keys=keys)

    @classmethod
    def union(cls, a: "ThetaSketch", b: "ThetaSketch") -> "ThetaSketch":
        out = cls(k=a.k, theta=a.theta, keys=a.keys.copy())
        return out.merge(b)

    # ---------------------------------------------------------------- serde
    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<iQq", self.k, int(self.theta), int(self.keys.size))
        return head + self.keys.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "ThetaSketch":
        data = bytes(data)
        if data[:4] != _MAGIC:
            raise ValueError("not a theta sketch blob")
        k, theta, n = struct.unpack_from("<iQq", data, 4)
        keys = np.frombuffer(data, dtype="<u8", offset=4 + 20, count=n).astype(np.uint64)
        return cls(k=k, theta=np.uint64(theta), keys=keys)

    def same_buckets(self, other: "ThetaSketch") -> bool:
        return (
            self.k == other.k
            and self.theta == other.theta
            and np.array_equal(self.keys, other.keys)
        )
