"""spark-submit entry point: distributed sketch job over a transcript table.

Usage (cluster):
    spark-submit --py-files puddsketch_spark.zip scripts/sketch_job.py \
        --input s3://bucket/transcripts --feature text_len \
        --group-by role tool --quantiles 0.5 0.9 0.99 0.999 \
        --alpha 0.01 --max-buckets 200 \
        --checkpoint /mnt/shared/ckpt/run1 --output s3://bucket/out/run1

Usage (local smoke):
    python scripts/sketch_job.py --generate 1000000 --feature text_len --group-by role

The reference's CLI (alpha, m, distribution, seed — psketches/pudds.cpp:59-116)
maps onto --alpha/--max-buckets/--generate/--seed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from puddsketch_spark.core import (  # noqa: E402 (after the path insert)
    DDSketchPair, HLLSketch, KLLSketch, MomentsSketch, TDigest, ThetaSketch, UDDSketch)

# --sketch -> its kernel: the default-parameter factory and from_bytes of
# every fill, state table and rollup
_KERNELS = {"udds": UDDSketch, "dd": DDSketchPair, "kll": KLLSketch,
            "tdigest": TDigest, "moments": MomentsSketch, "hll": HLLSketch,
            "theta": ThetaSketch}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="puddsketch_spark distributed sketch job")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet/iceberg path of the transcript table")
    src.add_argument("--generate", type=int, help="generate N synthetic turns instead")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--feature", default="text_len",
                   choices=["text_len", "latency_s", "conv_id"],
                   help="per-turn feature to sketch (conv_id: raw column, "
                        "for the distinct-count kernels)")
    p.add_argument("--group-by", nargs="*", default=["role"])
    p.add_argument("--quantiles", nargs="*", type=float, default=[0.5, 0.9, 0.99, 0.999])
    p.add_argument("--alpha", type=float, default=0.01)
    p.add_argument("--max-buckets", type=int, default=200)
    p.add_argument("--sketch",
                   choices=["udds", "dd", "kll", "tdigest", "moments", "hll", "theta"],
                   default="udds",
                   help="moments = exact mergeable mean/var/skew/kurtosis "
                        "(emits a stats table); hll / theta = approximate "
                        "COUNT(DISTINCT feature) per group (emits a distinct-"
                        "count table); --quantiles ignored for these three")
    # the reference's compile-time variants as runtime flags:
    # -DLowBins/-DHighBins (ParallelDDSketch/Makefile:46-47) -> --collapse-mode
    p.add_argument("--collapse-mode", choices=["uniform", "ddog_low", "ddog_high"],
                   default="uniform", help="DDSketch pair collapse flavor (--sketch dd)")
    # the reference's float32 fast-log (uddsketch.cpp:14-78) -> --compat
    p.add_argument("--compat", action="store_true",
                   help="udds: reference fast-log bucket keys (bucket-for-bucket "
                        "golden parity; computed in Python, so the fill runs "
                        "on Arrow partials)")
    p.add_argument("--salt-buckets", type=int, default=0,
                   help=">0: salted repartition on conv_id before sketching")
    p.add_argument("--length-dist", choices=["uniform", "lognormal", "beta"],
                   default="uniform",
                   help="--generate: text length distribution (reference set)")
    p.add_argument("--checkpoint",
                   help="local dir (or file: URI) for resumable per-partition "
                        "state (the fill then runs on Arrow partials): an "
                        "--input resume fills only the files added since; a "
                        "--generate input is checkpointed all-or-nothing; "
                        "needs --group-by; not for --sketch dd or --feature "
                        "latency_s")
    p.add_argument("--save-states",
                   help="also write the merged per-group sketch STATE table "
                        "(parquet, binary state column) — the incremental-"
                        "rollup input: later runs merge states instead of "
                        "rescanning (any grouped kernel incl. moments/hll/"
                        "theta)")
    src.add_argument("--from-states",
                     help="skip the scan entirely: load a --save-states "
                          "table and roll it up to --group-by (must be a "
                          "subset of the stored grouping)")
    p.add_argument("--output", help="parquet dir for the quantile table (default: stdout)")
    p.add_argument("--master", default=None)
    gs = p.add_mutually_exclusive_group()
    gs.add_argument("--grouping-sets", nargs="+", metavar="COLS",
                    help="SQL GROUPING SETS from ONE grouped fill: each spec "
                         "is a comma-joined subset of --group-by ('' = the "
                         "global cell), e.g. --grouping-sets role,tool role "
                         "''. Coarser sets are derived by merging the finest "
                         "states — one scan total, never a rescan. Output "
                         "gains a grouping_id column (SQL bit convention).")
    gs.add_argument("--cube", action="store_true",
                    help="GROUP BY CUBE(--group-by): all 2^k subsets, one scan")
    gs.add_argument("--rollup", action="store_true",
                    help="GROUP BY ROLLUP(--group-by): prefix chain, one scan")
    return p.parse_args(argv)


def _rollup_sets(args, group: list[str]) -> list[list[str]] | None:
    """Resolve --grouping-sets/--cube/--rollup to explicit column sets
    (None when no rollup was requested). Validated against --group-by."""
    if not (args.grouping_sets or args.cube or args.rollup):
        return None
    if not group:
        raise SystemExit("--grouping-sets/--cube/--rollup need --group-by")
    if args.cube:
        return [
            [c for i, c in enumerate(group) if mask & (1 << (len(group) - 1 - i))]
            for mask in range((1 << len(group)) - 1, -1, -1)
        ]
    if args.rollup:
        return [group[:i] for i in range(len(group), -1, -1)]
    sets = []
    for spec in args.grouping_sets:
        s = [c for c in spec.split(",") if c]
        bad = [c for c in s if c not in group]
        if bad:
            raise SystemExit(
                f"--grouping-sets columns {bad} not in --group-by {group}")
        sets.append(s)
    return sets


def _finalize(states, gcols, args, fb, extra_cols=()):
    """The answer table of a grouped state table (one row per ``gcols``
    key), per kernel kind: each is one exchange-free mapInArrow."""
    from puddsketch_spark.spark.agg import quantile_table
    from puddsketch_spark.spark.sketches import distinct_table, moments_table

    if args.sketch in ("hll", "theta"):
        return distinct_table(states, gcols, fb)
    if args.sketch == "moments":
        return moments_table(states, gcols)
    return quantile_table(states, gcols, args.quantiles, fb, extra_cols)


def _finalize_global(spark, sk, args):
    """The answer table of a driver-side sketch, typed like _finalize's."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from puddsketch_spark.spark.agg import _global_quantiles
    from puddsketch_spark.spark.sketches import (
        _DISTINCT_FIELDS, _MOMENT_FIELDS, _distinct_rows, _moment_rows)

    if args.sketch in ("hll", "theta"):
        return spark.createDataFrame(_distinct_rows(sk), StructType(_DISTINCT_FIELDS))
    if args.sketch == "moments":
        return spark.createDataFrame(_moment_rows(sk), StructType(_MOMENT_FIELDS))
    return _global_quantiles(spark, sk, args.quantiles).withColumn(
        "n", F.lit(int(sk.count)).cast("long"))


def _rollup_out(states, sets, group, args, fb):
    """The grouping-set cells of a (persisted) finest state table."""
    from puddsketch_spark.spark.agg import rollup_grouping_sets

    return _finalize(rollup_grouping_sets(states, sets, fb),
                     group + ["grouping_id"], args, fb, ["n"])


def main(argv=None) -> int:
    args = parse_args(argv)
    from puddsketch_spark.datagen import transcripts
    from puddsketch_spark.spark.agg import (
        _global_quantiles,
        merge_grouped,
        rollup_states,
        sketch_global,
        sketch_grouped,
        sketch_grouped_jvm,
        udds_quantiles,
    )
    from puddsketch_spark.spark.features import with_inter_turn_latency, with_text_len
    from puddsketch_spark.spark.session import get_spark
    from puddsketch_spark.spark.skew import salted_repartition

    if args.from_states and (args.save_states or args.checkpoint):
        flag = "--save-states" if args.save_states else "--checkpoint"
        raise SystemExit(f"{flag} has no effect with --from-states: it merges "
                         "a saved state table, with no fill to save or resume")
    if args.checkpoint and not args.group_by:
        raise SystemExit("--checkpoint needs --group-by: resumable state is the "
                         "grouped per-partition state table")
    if args.checkpoint and args.sketch == "dd":
        raise SystemExit("--checkpoint has no effect on --sketch dd: it fills on "
                         "the JVM bucket histogram, with no per-partition state "
                         "table to resume")
    if args.checkpoint and args.feature == "latency_s":
        raise SystemExit("--checkpoint cannot resume --feature latency_s: its "
                         "window runs over a conversation, and a conversation "
                         "can span input files")
    if args.checkpoint:
        from puddsketch_spark.spark.checkpoint import checkpoint_dir

        try:
            checkpoint_dir(args.checkpoint)
        except ValueError as e:
            raise SystemExit(f"--checkpoint: {e}") from None
    group = list(args.group_by)
    sets = _rollup_sets(args, group)  # None unless a rollup flag was given
    fb = _KERNELS[args.sketch].from_bytes
    spark = get_spark(app_name="sketch_job", master=args.master)
    t0 = time.time()

    if args.from_states:
        # incremental rollup: no scan of raw data at all — load a saved
        # state table and merge to the requested (coarser) grouping
        states = spark.read.parquet(args.from_states)
        # fail fast with actionable messages instead of an opaque
        # AnalysisException / deserialization error downstream
        meta_cols = {"state", "n", "buckets", "collapses", "num_partials",
                     "sketch_kernel"}
        stored_groups = [c for c in states.columns if c not in meta_cols]
        missing = [c for c in group if c not in stored_groups]
        if missing:
            raise SystemExit(
                f"--group-by {missing} not in the stored state table's "
                f"grouping columns {stored_groups} ({args.from_states}); "
                "states can only roll up to a SUBSET of the grouping they "
                "were saved with")
        if "sketch_kernel" in states.columns:
            stored_kernel = states.select("sketch_kernel").first()[0]
            if stored_kernel != args.sketch:
                raise SystemExit(
                    f"state table {args.from_states} was saved with "
                    f"--sketch {stored_kernel}, not --sketch {args.sketch}; "
                    "blobs are not interchangeable between kernels")
        if sets is not None:
            # grouping-set rollup WITHOUT any raw-data scan: the saved
            # finest states are merged once per requested set
            states = states.persist()
            try:
                out = _rollup_out(states, sets, group, args, fb)
                rc = _emit(args, spark, out, t0)
            finally:
                states.unpersist()
            spark.stop()
            return rc
        if group:
            out = _finalize(rollup_states(states, group, fb), group, args, fb, ["n"])
        else:
            out = _finalize_global(spark, rollup_states(states, (), fb), args)
        rc = _emit(args, spark, out, t0)
        spark.stop()
        return rc

    def derive(df):
        """The feature column (and salting) over a transcript read."""
        if args.feature == "text_len":
            df = with_text_len(df) if "text" in df.columns else df
        elif args.feature == "latency_s":
            df = with_inter_turn_latency(df).where("latency_s is not null")
        # conv_id: raw column passthrough (distinct-count kernels)
        if args.salt_buckets > 0:
            df = salted_repartition(df, ["conv_id"], ["turn_idx", "ts"],
                                    spark.sparkContext.defaultParallelism * 2,
                                    args.salt_buckets)
        return df

    if args.generate:
        raw = transcripts(spark, n_conv=max(1, args.generate // 8), seed=args.seed,
                          length_dist=args.length_dist)
    else:
        raw = spark.read.parquet(args.input)
    df = derive(raw)

    def rebuild(spark_, files):
        """derive over the input files a resume finds new (the default
        rebuild refuses a column derived after the read, like text_len)."""
        return derive(spark_.read.schema(raw.schema)
                      .option("basePath", args.input).parquet(*files))

    merged = None  # grouped state table, when the chosen path produces one

    def fill_grouped(factory):
        """The grouped Arrow fill, resumable from --checkpoint when given."""
        if args.checkpoint:
            from puddsketch_spark.spark.checkpoint import resume_partials

            return merge_grouped(resume_partials(
                spark, df, args.feature, group, args.checkpoint, factory,
                rebuild_scan=rebuild), group, fb)
        return sketch_grouped(df, args.feature, group, factory, fb)

    if args.sketch == "udds" and args.compat:
        # compat keys come from the reference fast-log — a Python kernel
        # computation, so the fill must run on Arrow partials
        def compat_factory():
            return UDDSketch(initial_alpha=args.alpha, m=args.max_buckets, compat=True)

        if group:
            merged = fill_grouped(compat_factory)
        else:
            sk = sketch_global(df, args.feature, compat_factory, fb)
            out = _global_quantiles(spark, sk, args.quantiles)
    elif args.sketch == "dd":
        from puddsketch_spark.spark.sketches import dd_quantiles

        # dd_quantiles also reports [q0, q1] (the trash-bin accurate window)
        # and alpha_now per group, so operators can see which estimates
        # carry which guarantee
        out = dd_quantiles(df, args.feature, group, args.quantiles,
                           alpha=args.alpha, bound=args.max_buckets,
                           collapse_mode=args.collapse_mode)
    elif args.sketch == "udds":
        if args.checkpoint:
            # resumable per-partition state requires the Arrow fill's
            # materialized partials (the JVM fill has no partition-level
            # state to checkpoint)
            merged = fill_grouped(
                lambda: UDDSketch(initial_alpha=args.alpha, m=args.max_buckets))
        elif group and (args.save_states or sets is not None):
            merged = sketch_grouped_jvm(df, args.feature, group, args.alpha, args.max_buckets)
        else:
            # no state table wanted: one key-run stage assembles each
            # group's sketch and reads its quantiles
            out = udds_quantiles(df, args.feature, group, args.quantiles,
                                 args.alpha, args.max_buckets)
    elif group:
        # kll, tdigest, moments, hll, theta: the grouped Arrow fill at the
        # kernel's default parameters
        merged = fill_grouped(_KERNELS[args.sketch])
    elif args.sketch in ("hll", "theta"):
        sk = sketch_global(df, args.feature, _KERNELS[args.sketch], fb)
        out = _finalize_global(spark, sk, args)
    elif args.sketch == "moments":
        from puddsketch_spark.spark.sketches import moments_stats

        out = moments_stats(df, args.feature, ())
    else:
        from puddsketch_spark.spark.sketches import kll_quantiles, tdigest_quantiles

        quantiles = kll_quantiles if args.sketch == "kll" else tdigest_quantiles
        out = quantiles(df, args.feature, (), args.quantiles)

    if sets is not None:
        if merged is None:
            raise SystemExit(
                "--grouping-sets/--cube/--rollup need a grouped state-table "
                "path (udds/kll/tdigest/moments/hll/theta with --group-by; "
                "--sketch dd emits quantiles directly, no state table)")
        # the finest table feeds one merge per set — persist so the fill
        # runs once across sets (and is shared with --save-states below)
        merged = merged.persist()
        out = _rollup_out(merged, sets, group, args, fb)
    elif merged is not None:
        out = _finalize(merged, group, args, fb)

    if args.save_states:
        if merged is None:
            raise SystemExit("--save-states needs a grouped udds/kll/tdigest/"
                             "moments run (this path produces no state table)")
        # persist so the state write and the quantile finalize share one fill
        merged = merged.persist()
        # tag the table with its kernel (a constant column RLE-compresses
        # to nothing) so --from-states can reject a kernel mismatch
        from pyspark.sql import functions as F

        merged.withColumn("sketch_kernel", F.lit(args.sketch)).write.mode(
            "overwrite"
        ).parquet(args.save_states)
    try:
        rc = _emit(args, spark, out, t0)
    finally:
        # before spark.stop(): unpersisting against a stopped session NPEs
        if (args.save_states or sets is not None) and merged is not None:
            merged.unpersist()
    spark.stop()
    return rc


def _emit(args, spark, out, t0) -> int:
    n = None
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        rows = out.collect()
        n = len(rows)
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    print(json.dumps({"rows": n, "wall_sec": round(time.time() - t0, 2)}), file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
