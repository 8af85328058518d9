"""Misra-Gries heavy-hitters sketch (frequent items without knowing keys).

Designed from Misra & Gries 1982 with the mergeable-summaries merge of
Agarwal, Cormode, Huang, Phillips, Wei & Yi (PODS 2012): sum counters, then
subtract the (k+1)-th largest count and drop non-positive counters. Complements
count-min (CMS answers point queries for KNOWN keys; MG discovers the keys).

Guarantees with k counters over n items:
  * every item with true frequency > n/(k+1) is retained;
  * estimate_lo <= true <= estimate_lo + err, where ``err`` is tracked
    explicitly (total decremented weight).
Merge order changes which sub-threshold keys survive, but the guarantees
hold under any order — the property the distributed pipeline needs.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

__all__ = ["MisraGries"]


@dataclass
class MisraGries:
    k: int = 64
    total: int = 0
    err: int = 0  # upper bound on undercount of any retained key
    counters: dict = field(default_factory=dict)

    # keys must arrive exactly as stored in the column: integer columns stay
    # int64 in the distributed pipeline (no float64 round-trip, which would
    # conflate IDs above 2^53)
    value_family = "exact"

    # metrics-contract attrs
    @property
    def count(self) -> int:
        return self.total

    @property
    def num_buckets(self) -> int:
        return len(self.counters)

    num_collapses = 0

    def update(self, values) -> "MisraGries":
        return self.update_weighted(values, None)

    def update_weighted(self, values, counts) -> "MisraGries":
        """Add each value ``counts`` times (None: once), as ``update`` over
        the repeated values would."""
        arr = np.asarray(values)
        if arr.dtype.kind == "f":
            m = ~np.isnan(arr)
            arr = arr[m]
            counts = None if counts is None else np.asarray(counts)[m]
        if arr.size == 0:
            return self
        u, inv = np.unique(arr, return_inverse=True)
        c = np.zeros(u.size, dtype=np.int64)
        np.add.at(c, inv, np.ones(arr.size, dtype=np.int64) if counts is None
                  else np.asarray(counts, dtype=np.int64))
        for key, cnt in zip(u.tolist(), c.tolist()):
            self.counters[key] = self.counters.get(key, 0) + int(cnt)
        self.total += int(c.sum())
        self._shrink()
        return self

    def _shrink(self) -> None:
        if len(self.counters) <= self.k:
            return
        vals = np.fromiter(self.counters.values(), dtype=np.int64)
        # subtract the (k+1)-th largest so at most k counters stay positive
        d = int(np.partition(vals, -(self.k + 1))[-(self.k + 1)])
        self.err += d
        self.counters = {key: c - d for key, c in self.counters.items() if c - d > 0}

    def merge(self, other: "MisraGries") -> "MisraGries":
        if self.k != other.k:
            raise ValueError("MisraGries k mismatch")
        for key, c in other.counters.items():
            self.counters[key] = self.counters.get(key, 0) + c
        self.total += other.total
        self.err += other.err
        self._shrink()
        return self

    def estimate(self, key) -> tuple[int, int]:
        """(lower_bound, upper_bound) of the key's true frequency."""
        lo = int(self.counters.get(key, 0))
        return lo, lo + self.err

    def heavy_hitters(self, phi: float = 0.01) -> dict:
        """Keys that MAY exceed phi*total, with lower-bound counts.
        Guaranteed superset of the true phi-heavy-hitters when
        phi > 1/(k+1)."""
        thresh = phi * self.total
        return {
            key: c for key, c in self.counters.items() if c + self.err >= thresh
        }

    def to_bytes(self) -> bytes:
        # keys are strings or numbers; JSON with a type tag keeps the serde
        # dependency-free and cross-version stable (no pickle)
        tagged = []
        for key, c in self.counters.items():
            # bool check first: isinstance(True, int) is True and would tag
            # booleans 'i', crashing from_bytes on int('True')
            if isinstance(key, (bool, np.bool_)):
                t = "b"
            elif isinstance(key, str):
                t = "s"
            elif isinstance(key, (int, np.integer)):
                t = "i"
            else:
                t = "f"
            tagged.append((t, key, int(c)))
        # canonical order (type tag, then key): the bytes are a function of
        # the summary, not of the merge order that built the dict
        tagged.sort(key=lambda it: it[:2])
        items = [[t, str(key), c] for t, key, c in tagged]
        return json.dumps(
            {"k": self.k, "total": self.total, "err": self.err, "items": items}
        ).encode()

    @classmethod
    def from_bytes(cls, data: bytes) -> "MisraGries":
        obj = json.loads(bytes(data).decode())
        counters = {}
        for t, ks, c in obj["items"]:
            if t == "s":
                key = ks
            elif t == "i":
                key = int(ks)
            elif t == "b":
                key = ks == "True"
            else:
                key = float(ks)
            counters[key] = c
        return cls(k=obj["k"], total=obj["total"], err=obj["err"], counters=counters)
