"""Bloom filter kernel (north_rule companion; classic Bloom 1970 design).

Mergeable contract: vectorized add/contains, bitwise-OR merge, byte serde.
Zero false negatives by construction; FPR ~= (1 - e^{-kn/m})^k.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from .hashing import hash64_k

__all__ = ["BloomFilter", "optimal_params"]

_MAGIC = b"BLM1"


def _drop_nan(values):
    """Float NaN == SQL NULL: never added (and never claimed present)."""
    arr = np.asarray(values) if not hasattr(values, "to_numpy") else values.to_numpy()
    if getattr(arr, "dtype", None) is not None and arr.dtype.kind == "f":
        return arr[~np.isnan(arr)]
    return arr


def optimal_params(n_items: int, fpr: float = 0.01) -> tuple[int, int]:
    """(num_bits, num_hashes) for a target capacity and false-positive rate.
    num_bits is rounded up to a multiple of 64 (BloomFilter's word size)."""
    m = int(np.ceil(-n_items * np.log(fpr) / (np.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / n_items * np.log(2))))
    return m, k


@dataclass
class BloomFilter:
    num_bits: int = 1 << 20
    num_hashes: int = 7
    n_added: int = 0
    bits: np.ndarray | None = None

    def __post_init__(self):
        if self.num_bits % 64:
            raise ValueError("num_bits must be a multiple of 64")
        if self.bits is None:
            self.bits = np.zeros(self.num_bits // 64, dtype=np.uint64)
        if self.bits.size != self.num_bits // 64:
            raise ValueError("bits array size != num_bits/64")

    # metrics-contract attrs
    @property
    def count(self) -> int:
        return self.n_added

    @property
    def num_buckets(self) -> int:
        return int(sum(int(w).bit_count() for w in self.bits))

    num_collapses = 0
    value_family = "hash"

    def _positions(self, values) -> np.ndarray:
        hs = hash64_k(values, self.num_hashes)
        return (hs % np.uint64(self.num_bits)).astype(np.int64)

    def update(self, values) -> "BloomFilter":
        values = _drop_nan(values)
        pos = self._positions(values)
        if pos.size == 0:
            return self
        words, offs = pos // 64, pos % 64
        np.bitwise_or.at(self.bits, words.ravel(), np.uint64(1) << offs.ravel().astype(np.uint64))
        self.n_added += pos.shape[1]
        return self

    def update_weighted(self, values, counts) -> "BloomFilter":
        """Membership is duplicate-insensitive (bit OR), so a weighted fill
        of (value, count) rows sets the same bits as the row fill — same
        justification as HLL. n_added is corrected to the weighted total so
        it matches the row path exactly (NaN rows drop their counts too)."""
        arr = np.asarray(values) if not hasattr(values, "to_numpy") else values.to_numpy()
        c = np.asarray(counts, dtype=np.int64)
        if getattr(arr, "dtype", None) is not None and arr.dtype.kind == "f":
            ok = ~np.isnan(arr)
            arr, c = arr[ok], c[ok]
        before = self.n_added
        self.update(arr)
        self.n_added = before + int(c.sum())
        return self

    def contains(self, values) -> np.ndarray:
        pos = self._positions(values)
        words, offs = pos // 64, pos % 64
        hit = (self.bits[words] >> offs.astype(np.uint64)) & np.uint64(1)
        return hit.all(axis=0)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.num_bits, self.num_hashes) != (other.num_bits, other.num_hashes):
            raise ValueError("Bloom parameter mismatch")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_added += other.n_added
        return self

    def fpr_estimate(self) -> float:
        load = self.num_buckets / self.num_bits
        return float(load**self.num_hashes)

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack("<qiq", self.num_bits, self.num_hashes, self.n_added)
        return head + self.bits.astype("<u8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        data = bytes(data)
        if data[:4] != _MAGIC:
            raise ValueError("not a Bloom blob")
        num_bits, k, n_added = struct.unpack_from("<qiq", data, 4)
        bits = np.frombuffer(data, dtype="<u8", offset=4 + 20).astype(np.uint64)
        return cls(num_bits=num_bits, num_hashes=k, n_added=n_added, bits=bits)

    def same_buckets(self, other: "BloomFilter") -> bool:
        return (
            (self.num_bits, self.num_hashes) == (other.num_bits, other.num_hashes)
            and np.array_equal(self.bits, other.bits)
        )
