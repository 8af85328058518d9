"""HyperLogLog kernel (north_rule companion; no reference counterpart —
designed from Flajolet et al. 2007 + the HLL++ small-range correction).

Same mergeable-UDAF contract as UDDSketch (SURVEY.md §2.2): vectorized
``update``, commutative/associative ``merge`` (register-wise max), byte serde.
Standard error ~= 1.04/sqrt(2^p); default p=14 -> ~0.81%.
Cross-checkable against Spark's built-in ``approx_count_distinct`` (HLL++).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from .hashing import hash64

__all__ = ["HLLSketch"]

_MAGIC = b"HLL1"


def _drop_nan(values):
    """Null semantics: float NaN == SQL NULL, ignored by distinct-count."""
    arr = np.asarray(values) if not hasattr(values, "to_numpy") else values.to_numpy()
    if getattr(arr, "dtype", None) is not None and arr.dtype.kind == "f":
        return arr[~np.isnan(arr)]
    return arr


def _new_regs(p: int) -> np.ndarray:
    return np.zeros(1 << p, dtype=np.uint8)


@dataclass
class HLLSketch:
    p: int = 14
    regs: np.ndarray | None = None

    def __post_init__(self):
        if self.regs is None:
            self.regs = _new_regs(self.p)
        if self.regs.size != (1 << self.p):
            raise ValueError("register array size != 2^p")

    @property
    def m(self) -> int:
        return 1 << self.p

    # metrics-contract attrs (shared partial/merge plumbing)
    @property
    def count(self) -> int:
        return int(round(self.estimate()))

    @property
    def num_buckets(self) -> int:
        return int(np.count_nonzero(self.regs))

    num_collapses = 0
    value_family = "hash"

    def update(self, values) -> "HLLSketch":
        values = _drop_nan(values)
        h = hash64(values)
        if h.size == 0:
            return self
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h & np.uint64((1 << (64 - self.p)) - 1)
        # rho = position of leftmost 1-bit in the low (64-p) bits.
        # float64 log2 rounds w near 2^e UP (w >= 2^53 possible when p <= 11),
        # overstating e by one -> rho 0; detect with an exact integer check
        nz = w > 0
        rho = np.full(h.size, 64 - self.p + 1, dtype=np.uint8)
        wn = w[nz]
        e = np.floor(np.log2(wn.astype(np.float64))).astype(np.uint64)
        over = (wn >> e) == 0  # log2 rounded across the power-of-two boundary
        e[over] -= np.uint64(1)
        rho[nz] = (64 - self.p - e.astype(np.int64)).astype(np.uint8)
        np.maximum.at(self.regs, idx, rho)
        return self

    def update_weighted(self, values, counts) -> "HLLSketch":
        """Distinct counting is duplicate-insensitive, so a weighted fill
        of (value, count) rows is just the values — counts carry no
        information for HLL. Present so the weighted fill
        (agg.partial_sketches' weight_col) works uniformly across kernels."""
        return self.update(values)

    def merge(self, other: "HLLSketch") -> "HLLSketch":
        if self.p != other.p:
            raise ValueError(f"HLL precision mismatch: {self.p} != {other.p}")
        np.maximum(self.regs, other.regs, out=self.regs)
        return self

    def estimate(self) -> float:
        m = float(self.m)
        regs = self.regs.astype(np.float64)
        e = (0.7213 / (1.0 + 1.079 / m)) * m * m / np.sum(np.exp2(-regs))
        if e <= 2.5 * m:
            zeros = int(np.count_nonzero(self.regs == 0))
            if zeros:
                return m * np.log(m / zeros)  # linear counting
        return float(e)

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<i", self.p) + self.regs.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "HLLSketch":
        data = bytes(data)
        if data[:4] != _MAGIC:
            raise ValueError("not an HLL blob")
        (p,) = struct.unpack_from("<i", data, 4)
        regs = np.frombuffer(data, dtype=np.uint8, offset=8).copy()
        return cls(p=p, regs=regs)

    def same_buckets(self, other: "HLLSketch") -> bool:
        return self.p == other.p and np.array_equal(self.regs, other.regs)
