"""Deterministic vectorized 64-bit hashing for sketch kernels.

All companion sketches (HLL/CMS/Bloom) need k independent hash functions over
arbitrary columns, computed on whole numpy/pandas arrays (no per-row Python).
Base hash: pandas' vectorized SipHash (``pd.util.hash_array`` with a fixed
key) for strings/objects, splitmix64 for integers. Derived hashes: splitmix64
remixes of base ^ seed — the standard finalizer from Steele et al.,
"Fast Splittable Pseudorandom Number Generators" (public domain algorithm).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

__all__ = ["hash64", "hash64_k", "splitmix64"]

_HASH_KEY = "puddsketch_spk00"  # exactly 16 bytes, fixed -> deterministic everywhere
_U64 = np.uint64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64."""
    x = x.astype(_U64, copy=True)
    with np.errstate(over="ignore"):
        x += _U64(0x9E3779B97F4A7C15)
        z = x
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        z = z ^ (z >> _U64(31))
    return z


def hash64(values) -> np.ndarray:
    """Deterministic base 64-bit hash of an array (strings, ints, floats).

    Dtype contract: integers hash via their exact uint64 bit pattern (no
    float round-trip — snowflake-style IDs above 2^53 must not collide);
    floats hash via their float64 bits. Consequently int 5 and float 5.0
    hash DIFFERENTLY: probe hash sketches with the same dtype the column was
    built with. Every Spark fill surface (``sketch_grouped``, the SQL
    functions, streaming) picks the dtype from the column's Arrow type in
    one place, ``spark.agg._kernel_input``: integer columns stay int64
    for hash-family kernels, NULLs or not.
    """
    arr = values.to_numpy() if isinstance(values, pd.Series) else np.asarray(values)
    if arr.dtype.kind in "iu":
        return splitmix64(arr.astype(np.int64, copy=False).view(np.uint64))
    if arr.dtype.kind == "f":
        return splitmix64(arr.astype(np.float64, copy=False).view(np.uint64))
    # strings / objects: pandas vectorized SipHash with a pinned key
    h = pd.util.hash_array(
        arr if arr.dtype == object else arr.astype(object), hash_key=_HASH_KEY
    )
    return h.astype(_U64, copy=False)


def hash64_k(values, k: int, seed: int = 0) -> np.ndarray:
    """(k, n) matrix of k independent hashes via splitmix64 remixing."""
    base = hash64(values)
    out = np.empty((k, base.size), dtype=_U64)
    with np.errstate(over="ignore"):
        for i in range(k):
            out[i] = splitmix64(base ^ _U64((seed + i + 1) * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF))
    return out
