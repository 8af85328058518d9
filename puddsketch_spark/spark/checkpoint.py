"""Checkpoint / resume for long sketch jobs via per-partition state parquet.

North-rule requirement: jobs resumable from checkpointed per-partition sketch
state with lineage + bucket-count/collapse metrics per partition. Each write
(the first fill, and every resume that fills missing input) puts its
stage-1 partials (group cols + state blob + n/buckets/collapses/
partition_id) in its own hive-style run directory ``sketch_run=<k>``, so a
row's lineage is (``sketch_run``, ``partition_id``). A JSON manifest,
rewritten atomically after each run's data, lists the committed runs
(``runs[k]["scanned"]``: the files run k's scan planned). Every read is one
parquet scan with an explicit schema, pruned to ``sketch_run < len(runs)``
by a partition filter: a run that crashed before its manifest rewrite stays
outside, and the next resume reuses its index and overwrites it.

* **File-backed input.** The manifest records every completed input file
  with a (size, mtime) fingerprint. Resume refuses a changed file (resuming
  would double-count) or a vanished one (resume is defined for append-only
  inputs), and writes one new run whose scan plans ONLY the missing files —
  a 99%-done job re-reads ~1% of the input. At Iceberg scale the file list
  would come from the table snapshot; the mechanism is identical.
* **Non-file input (generated or in-memory): all-or-nothing.** Without a
  manifest the input is filled as run 0; with one, run 0 is returned if the
  input still has the partition count it was written for. One Spark write
  followed by the manifest never leaves it partly committed.

``df`` must be an unfiltered scan of the file-backed table (projections are
fine). For derived/filtered inputs pass ``rebuild_scan(spark, missing_files)
-> DataFrame`` reproducing the same transformation over a file subset; the
default rebuild refuses columns the missing files lack. The manifest is
written with local file I/O, so the path must be local (a plain path or a
``file:`` URI); other schemes are refused before any job.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..core.uddsketch import UDDSketch
from .agg import SketchFactory, merge_grouped, partial_sketches

__all__ = ["write_partials", "resume_partials", "checkpointed_sketch_grouped"]

_VERSION = 4
# the run directories' partition column; Spark's file listing skips names
# that start with "_" or ".", so this one must not
_RUN = "sketch_run"


def checkpoint_dir(path: str) -> str:
    """The absolute local directory of checkpoint ``path`` (a plain path or a
    ``file:`` URI); any other scheme raises ValueError."""
    p = urlparse(path)
    if p.scheme == "file" and p.netloc in ("", "localhost"):
        path = p.path
    elif p.scheme:
        raise ValueError(
            f"checkpoint path {path!r} is not local: the manifest is written "
            "with local file I/O, so pass a local path or a file: URI"
        )
    return os.path.abspath(path)


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_sketch_manifest.json")


def _fingerprint(uri: str) -> dict:
    """(size, mtime) of a local input file; identity-only for remote URIs
    (an object store would supply etags via the table format instead)."""
    p = urlparse(uri)
    local = p.path if p.scheme in ("", "file") else None
    if local and os.path.exists(local):
        st = os.stat(local)
        return {"size": st.st_size, "mtime_ns": st.st_mtime_ns}
    return {}


def _read_manifest(path: str) -> dict:
    with open(_manifest_path(path)) as f:
        manifest = json.load(f)
    if manifest.get("version") != _VERSION:
        raise ValueError(
            f"checkpoint at {path} has manifest version {manifest.get('version')}, "
            f"not {_VERSION} (one directory per run); delete the checkpoint"
        )
    return manifest


def _write_manifest(path: str, manifest: dict) -> None:
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, _manifest_path(path))


def _write_run(partials: DataFrame, path: str, run: int) -> None:
    partials.write.mode("overwrite").parquet(f"file:{path}/{_RUN}={run}")


def _read_runs(spark: SparkSession, path: str, schema: StructType, runs: int) -> DataFrame:
    """The committed runs' partials: no job (explicit schema), and the
    partition filter prunes any uncommitted run directory."""
    schema = StructType(schema.fields + [StructField(_RUN, IntegerType())])
    return spark.read.schema(schema).parquet(f"file:{path}").where(F.col(_RUN) < runs)


def write_partials(
    partials: DataFrame,
    path: str,
    num_input_partitions: int | None,
    input_files: Sequence[str] | None = None,
) -> None:
    """Start a checkpoint at ``path``: replace whatever is there with
    ``partials`` as run 0, then write the manifest.

    ``input_files`` records file-level lineage. Without it the checkpoint
    serves a non-file input, which resume_partials checks against
    ``num_input_partitions``.
    """
    path = checkpoint_dir(path)
    if _RUN in partials.columns:
        raise ValueError(f"column {_RUN!r} is reserved for the checkpoint's run directories")
    shutil.rmtree(path, ignore_errors=True)
    _write_run(partials, path, 0)
    _write_manifest(
        path,
        {
            "version": _VERSION,
            "num_input_partitions": num_input_partitions,
            "files": {f: _fingerprint(f) for f in (input_files or [])},
            "runs": [{"scanned": sorted(input_files or [])}],
        },
    )


def _default_rebuild(
    spark: SparkSession, df: DataFrame, input_files: list[str], missing: list[str]
) -> DataFrame:
    """A plain parquet read of the missing leaf files with ``df``'s schema.

    It CANNOT reconstruct hive-partition directory columns (they would
    silently become NULL groups), non-parquet sources, or columns derived
    after the read (NULL too) — those raise, asking for rebuild_scan. Only
    directory segments BELOW the scan root count: an ancestor like
    /warehouse/env=prod/ is not partitioning."""
    paths = [urlparse(f_uri).path for f_uri in input_files]
    root = os.path.commonpath([os.path.dirname(p) for p in paths])
    if any(
        "=" in seg
        for f_uri in missing
        for seg in os.path.dirname(urlparse(f_uri).path)[len(root):].split("/")
    ):
        raise ValueError(
            "input looks hive-partitioned (key=value directories below "
            "the scan root); the default missing-file rebuild would NULL "
            "the partition columns — pass rebuild_scan reproducing the "
            "full read"
        )
    if not all(urlparse(f_uri).path.endswith(".parquet") for f_uri in missing):
        raise ValueError(
            "input files are not parquet; pass rebuild_scan reproducing "
            "the original source read over a file subset"
        )
    stored = set(spark.read.parquet(*missing).columns)
    derived = [c for c in df.columns if c not in stored]
    if derived:
        raise ValueError(
            f"input columns {derived} are not in the missing files; the "
            "default missing-file rebuild would read them as NULL — pass "
            "rebuild_scan reproducing the input's transformation"
        )
    return spark.read.schema(df.schema).parquet(*missing)


def resume_partials(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    path: str,
    factory: SketchFactory = UDDSketch,
    rebuild_scan: Callable[[SparkSession, list[str]], DataFrame] | None = None,
) -> DataFrame:
    """Return the committed runs' partials, first filling what the
    checkpoint at ``path`` lacks.

    No checkpoint: fill ``df`` and write it as run 0. File-backed input
    with files absent from the manifest: fill ONLY those files (through
    ``rebuild_scan`` when given) as one new run. Otherwise no job runs.
    The returned partials carry a ``sketch_run`` column next to
    ``partition_id``.
    """
    path = checkpoint_dir(path)
    if _RUN in group_cols:
        raise ValueError(f"group column {_RUN!r} is reserved for the checkpoint's run directories")
    partials = partial_sketches(df, value_col, group_cols, factory)
    input_files = sorted(df.inputFiles())
    # getNumPartitions plans df (running any shuffle under AQE): only the
    # non-file check needs it
    n_parts = None if input_files else df.rdd.getNumPartitions()
    if not os.path.exists(_manifest_path(path)):
        write_partials(partials, path, n_parts, input_files=input_files)
        return _read_runs(spark, path, partials.schema, 1)

    manifest = _read_manifest(path)
    known = manifest["files"]
    if bool(known) != bool(input_files):
        kinds = ("file-backed", "non-file") if known else ("non-file", "file-backed")
        raise ValueError(
            f"checkpoint at {path} was written for a {kinds[0]} input but the "
            f"input is {kinds[1]}; delete the checkpoint to switch lineage modes"
        )
    if not input_files and manifest["num_input_partitions"] != n_parts:
        raise ValueError(
            f"checkpoint at {path} was written for {manifest['num_input_partitions']} "
            f"input partitions, input now has {n_parts}; split planning changed — "
            "delete the checkpoint or pin spark.sql.files.maxPartitionBytes"
        )
    for f_uri in input_files:
        if f_uri in known and known[f_uri] and known[f_uri] != _fingerprint(f_uri):
            raise ValueError(
                f"checkpoint at {path}: input file changed since checkpoint: "
                f"{f_uri} (was {known[f_uri]}, now {_fingerprint(f_uri)}); "
                "delete the checkpoint — resuming would double-count rows"
            )
    gone = sorted(set(known) - set(input_files))
    if gone:
        raise ValueError(
            f"checkpoint at {path} covers {len(gone)} input file(s) that no "
            f"longer exist (e.g. {gone[0]}); its partials contain data the "
            "table no longer has — delete the checkpoint (resume is only "
            "defined for append-only inputs)"
        )
    missing = [f_uri for f_uri in input_files if f_uri not in known]
    if missing:
        # THE point of file-level lineage: the new run's scan plans ONLY the
        # missing files — completed input is never re-read
        missing_df = (rebuild_scan(spark, missing) if rebuild_scan is not None
                      else _default_rebuild(spark, df, input_files, missing))
        _write_run(partial_sketches(missing_df, value_col, group_cols, factory),
                   path, len(manifest["runs"]))
        known.update({f_uri: _fingerprint(f_uri) for f_uri in missing})
        manifest["runs"].append({"scanned": sorted(missing_df.inputFiles())})
        _write_manifest(path, manifest)
    return _read_runs(spark, path, partials.schema, len(manifest["runs"]))


def checkpointed_sketch_grouped(
    spark: SparkSession,
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    path: str,
    factory: SketchFactory = UDDSketch,
    from_bytes: Callable[[bytes], object] | None = None,
) -> DataFrame:
    """sketch_grouped with a resumable stage-1 checkpoint at ``path``."""
    fb = from_bytes or type(factory()).from_bytes
    partials = resume_partials(spark, df, value_col, group_cols, path, factory)
    return merge_grouped(partials, list(group_cols), fb)
