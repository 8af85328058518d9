"""Per-layer probes of the traced run, each timed from the benchmark's side
around calls into one layer's public functions, on the workload's own
input.

* core: driver-side kernel calls on the workload's value column.
* agg: each public stage of the grouped fill, materialized on its own.
* checkpoint: a base checkpoint over all files but the last, then a resume
  after the last file lands.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

CORE_VALUES = 500_000  # values fed to each kernel
CORE_BATCH = 65_536  # the Arrow batch size partial_sketches receives
REPEATS = 5


def _median_time(fn, repeats=REPEATS) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def core_probe(values: np.ndarray, conv_ids: np.ndarray) -> dict:
    """update ns per value, merge and serde round-trip µs, state bytes."""
    from puddsketch_spark.core import (CountMinSketch, HLLSketch, KLLSketch, TDigest,
                                       UDDSketch)
    from workloads import ALPHA, CMS_DEPTH, CMS_WIDTH, HLL_P, KLL_K, M, TDIGEST_DELTA

    kernels = {
        "udds": (lambda: UDDSketch(initial_alpha=ALPHA, m=M), values),
        "kll": (lambda: KLLSketch(k=KLL_K), values),
        "tdigest": (lambda: TDigest(delta=TDIGEST_DELTA), values),
        "hll": (lambda: HLLSketch(p=HLL_P), conv_ids),
        "cms": (lambda: CountMinSketch(depth=CMS_DEPTH, width=CMS_WIDTH), conv_ids),
    }
    out = {}
    for name, (factory, vals) in kernels.items():
        vals = vals[:CORE_VALUES]

        def fill(v=vals):
            sk = factory()
            for i in range(0, v.size, CORE_BATCH):
                sk.update(v[i:i + CORE_BATCH])
            return sk

        out[f"core.{name}.update_ns"] = _median_time(fill, 3) / vals.size * 1e9
        half = vals.size // 2
        a, b = fill(vals[:half]).to_bytes(), fill(vals[half:]).to_bytes()
        cls = type(factory())
        pairs = [(cls.from_bytes(a), cls.from_bytes(b)) for _ in range(REPEATS)]
        merge_t = []
        for x, y in pairs:
            t0 = time.perf_counter()
            x.merge(y)
            merge_t.append(time.perf_counter() - t0)
        out[f"core.{name}.merge_us"] = statistics.median(merge_t) * 1e6
        full = fill()
        out[f"core.{name}.serde_us"] = _median_time(
            lambda: cls.from_bytes(full.to_bytes())) * 1e6
        out[f"core.{name}.state_bytes"] = len(full.to_bytes())
    return out


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def agg_probe(tr, df, value_col: str, group_cols) -> dict:
    """Stages of the grouped UDDSketch fill, each materialized alone. The
    merge is timed over partials materialized beforehand: a difference of
    two timed fills (grouped − partial) is smaller than their noise."""
    from pyspark.sql import functions as F

    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.agg import (merge_grouped, partial_sketches, quantile_table,
                                            udds_bucket_counts)
    from workloads import ALPHA, QS

    gc = list(group_cols)
    out = {}
    with tr.span("layer.agg.partial"):
        partials = partial_sketches(df, value_col, gc)
        out["agg.partial_s"] = _median_time(lambda: _noop_write(partials), 3)
    partials = partials.localCheckpoint()
    stats = partials.agg(F.count(F.lit(1)), F.sum(F.length("state"))).first()
    out["agg.partial_rows"] = int(stats[0])
    out["agg.partial_state_bytes"] = int(stats[1])
    merged = merge_grouped(partials, gc, UDDSketch.from_bytes)
    with tr.span("layer.agg.merge"):
        out["agg.merge_s"] = _median_time(lambda: _noop_write(merged), 3)
    merged = merged.localCheckpoint()
    with tr.span("layer.agg.finalize"):
        out["agg.finalize_s"] = _median_time(
            lambda: quantile_table(merged, gc, QS, UDDSketch.from_bytes).collect(), 3)
    with tr.span("layer.agg.bucket_table"):
        buckets = udds_bucket_counts(df, value_col, gc, ALPHA)
        out["agg.bucket_table_s"] = _median_time(lambda: _noop_write(buckets), 3)
    out["agg.bucket_rows"] = buckets.count()
    return out


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def checkpoint_probe(tr, spark, files, work_dir: str, value_col: str, group_cols) -> dict:
    """Full checkpoint write over ``files[:-1]``, then a resume that finds
    ``files[-1]`` new."""
    from puddsketch_spark.spark.agg import partial_sketches
    from puddsketch_spark.spark.checkpoint import resume_partials, write_partials

    gc = list(group_cols)
    table = os.path.join(work_dir, "ckpt_probe_table")
    path = os.path.join(work_dir, "ckpt_probe")
    for d in (table, path):
        if os.path.exists(d):
            shutil.rmtree(d)
    os.makedirs(table)
    for f in files[:-1]:
        os.link(f, os.path.join(table, os.path.basename(f)))
    base = spark.read.parquet(table)
    out = {}
    with tr.span("layer.checkpoint.write"):
        t0 = time.perf_counter()
        write_partials(partial_sketches(base, value_col, gc), path,
                       base.rdd.getNumPartitions(), input_files=sorted(base.inputFiles()))
        out["checkpoint.write_s"] = time.perf_counter() - t0
    before = _dir_bytes(path)
    os.link(files[-1], os.path.join(table, os.path.basename(files[-1])))
    full = spark.read.parquet(table)
    with tr.span("layer.checkpoint.resume"):
        t0 = time.perf_counter()
        resume_partials(spark, full, value_col, gc, path)
        out["checkpoint.resume_s"] = time.perf_counter() - t0
    out["checkpoint.bytes_written"] = _dir_bytes(path) - before
    with open(os.path.join(path, "_sketch_manifest.json")) as f:
        scanned = len(json.load(f)["runs"][-1]["scanned"])
    out["checkpoint.files_scanned"] = scanned
    out["checkpoint.rescan_share"] = scanned / len(files)
    shutil.rmtree(table)
    shutil.rmtree(path)
    return out
