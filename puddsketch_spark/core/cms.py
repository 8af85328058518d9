"""Count-min sketch kernel (north_rule companion; designed from Cormode &
Muthukrishnan 2005). Mergeable contract: vectorized update, element-wise-add
merge, byte serde. Guarantees: estimate >= true count; estimate <= true +
eps*N with prob 1-delta, eps = e/width, delta = e^-depth.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from .hashing import hash64_k

__all__ = ["CountMinSketch"]

_MAGIC = b"CMS1"


def _drop_nan(values, counts):
    """Float NaN == SQL NULL: contributes nothing to frequencies."""
    arr = np.asarray(values) if not hasattr(values, "to_numpy") else values.to_numpy()
    if getattr(arr, "dtype", None) is not None and arr.dtype.kind == "f":
        m = ~np.isnan(arr)
        return arr[m], (None if counts is None else np.asarray(counts)[m])
    return arr, counts


@dataclass
class CountMinSketch:
    depth: int = 5
    width: int = 2048
    total: int = 0
    table: np.ndarray | None = None

    def __post_init__(self):
        if self.table is None:
            self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        if self.table.shape != (self.depth, self.width):
            raise ValueError("table shape != (depth, width)")

    @property
    def eps(self) -> float:
        return float(np.e) / self.width

    # metrics-contract attrs
    @property
    def count(self) -> int:
        return self.total

    @property
    def num_buckets(self) -> int:
        return int(np.count_nonzero(self.table))

    num_collapses = 0
    value_family = "hash"

    def update(self, values) -> "CountMinSketch":
        return self.update_weighted(values, None)

    def update_weighted(self, values, counts) -> "CountMinSketch":
        """Add each value ``counts`` times (None: once), as ``update`` over
        the repeated values would."""
        values, counts = _drop_nan(values, counts)
        hs = hash64_k(values, self.depth)
        n = hs.shape[1]
        if n == 0:
            return self
        c = np.ones(n, dtype=np.int64) if counts is None else np.asarray(counts, dtype=np.int64)
        idx = (hs % np.uint64(self.width)).astype(np.int64)
        for d in range(self.depth):
            np.add.at(self.table[d], idx[d], c)
        self.total += int(c.sum())
        return self

    def query(self, values) -> np.ndarray:
        """Point-frequency estimates (vectorized, min over rows)."""
        hs = hash64_k(values, self.depth)
        idx = (hs % np.uint64(self.width)).astype(np.int64)
        ests = np.stack([self.table[d][idx[d]] for d in range(self.depth)])
        return ests.min(axis=0)

    def inner_product(self, other: "CountMinSketch") -> int:
        """Join-size estimate (Cormode & Muthukrishnan §4.3): the min over
        rows of the sketch-row dot products upper-bounds-in-expectation
        the true inner product sum_k fa(k) * fb(k) — i.e. the row count of
        an equi-join between the two sketched multisets. Never
        underestimates; overestimate bounded by eps * Na * Nb w.p.
        1 - delta."""
        if (self.depth, self.width) != (other.depth, other.width):
            raise ValueError("CMS dimension mismatch")
        dots = np.einsum("dw,dw->d", self.table, other.table)
        return int(dots.min())

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.depth, self.width) != (other.depth, other.width):
            raise ValueError("CMS dimension mismatch")
        self.table += other.table
        self.total += other.total
        return self

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<iiq", self.depth, self.width, self.total)
        return head + self.table.astype("<i8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        data = bytes(data)
        if data[:4] != _MAGIC:
            raise ValueError("not a CMS blob")
        depth, width, total = struct.unpack_from("<iiq", data, 4)
        table = (
            np.frombuffer(data, dtype="<i8", offset=4 + 16)
            .reshape(depth, width)
            .astype(np.int64)
        )
        return cls(depth=depth, width=width, total=total, table=table)

    def same_buckets(self, other: "CountMinSketch") -> bool:
        return (
            (self.depth, self.width, self.total) == (other.depth, other.width, other.total)
            and np.array_equal(self.table, other.table)
        )
