"""Dump .explain("formatted") for declared queries into plans/<tag>/.

Usage:
    python scripts/dump_plans.py <tag> [suffix] [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix defaults to "after").
For queries whose returned DataFrame is a driver-built local relation
(the gate computes scalars and wraps them), the file also carries the
plans of the dominant INTERNAL fragments, rebuilt here with the same
parameters as the entry, each under a labeled section header — the
returned plan alone would show only a LocalTableScan.

Read-only: runs no actions beyond the tiny first()/count() probes some
query builders themselves perform while constructing the plan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _explain(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _fragments(name: str, spark, sf_dir: str):
    """Internal heavy fragments for queries that return local relations.

    Each entry: (section_label, dataframe). Parameters mirror
    __spark_entry__.py exactly — keep in sync when the entry changes.
    """
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    t = lambda n: entry._t(spark, sf_dir, n)  # noqa: E731
    frags = []
    if name == "minhash_selfdup_recall":
        from puddsketch_spark.ops.dedup import minhash_dedup_pairs

        d = t("documents").select("doc_id", "text")
        doubled = d.union(
            d.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        ).repartition(spark.sparkContext.defaultParallelism)
        pairs = minhash_dedup_pairs(doubled, num_perm=64, bands=8, threshold=0.9)
        frags.append(("pairs (sig -> band join -> est_jaccard)", pairs))
    elif name == "theta_custkey_overlap":
        orders = t("orders").where(F.col("o_totalprice") >= 350000)
        cust = t("customer")
        da = orders.select(F.col("o_custkey").alias("ka")).distinct()
        db = cust.select(F.col("c_custkey").alias("kb")).distinct()
        r = da.join(db, da.ka == db.kb, "full_outer").agg(
            F.count("ka").alias("ea"),
            F.count("kb").alias("eb"),
            F.count(F.when(F.col("ka").isNotNull() & F.col("kb").isNotNull(), 1)).alias("ei"),
        )
        frags.append(("exact full-outer distinct-key agg", r))
    elif name == "heavy_hitters_custkeys":
        counts = t("orders").groupBy("o_custkey").count()
        frags.append(("exact per-key counts (feeds MG fill + verifies)", counts))
    elif name == "incremental_dedup_check":
        from puddsketch_spark.ops.dedup import dedup_against_corpus

        doc = t("documents")
        dups = doc.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        )
        novel = doc.where(F.col("doc_id") % 5 == 1).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.lit("novel "), "text").alias("text"),
        )
        surv = dedup_against_corpus(dups.union(novel), doc)
        frags.append(("survivors (bloom probe -> verify -> anti join)", surv))
    elif name == "udds_grouping_sets":
        from puddsketch_spark.core import UDDSketch
        from puddsketch_spark.spark.agg import (
            quantile_table, rollup_grouping_sets, sketch_grouped_jvm,
        )

        li = t("lineitem")
        finest = sketch_grouped_jvm(
            li, "l_extendedprice", ["l_returnflag", "l_linestatus"],
            entry._A, 0,
        )
        cells = rollup_grouping_sets(
            finest, [("l_returnflag", "l_linestatus"), ("l_returnflag",), ()],
            UDDSketch.from_bytes,
        )
        qt = quantile_table(
            cells, ["l_returnflag", "l_linestatus", "grouping_id"],
            entry._QS, UDDSketch.from_bytes, extra_cols=["n"],
        )
        frags.append(("fill -> set merges -> quantile finalize", qt))
    elif name == "embedding_near_dups_dim768":
        from puddsketch_spark.datagen import embeddings_table
        from puddsketch_spark.ops.dedup import embedding_near_dups

        emb = embeddings_table(spark, n=8_000, dim=768, seed=5, n_dupes=100)
        pairs = embedding_near_dups(
            emb, threshold=0.99, num_bands=4, planes_per_band=16
        )
        frags.append(("pairs (banded sig join -> cosine verify)", pairs))
    return frags


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r07"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from puddsketch_spark.spark.session import get_spark

    import __spark_entry__ as entry

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="dump_plans", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus) if cpus.isdigit() else 32)
    qs = entry.queries()
    for name in names:
        if name in qs:
            df = qs[name](spark, sf_dir)
            parts = [f"== {name}: returned DataFrame ==\n" + _explain(df)]
        else:
            # bench-internal entries (no queries() registration): fragments only
            parts = [f"== {name}: bench-internal; fragment plans only =="]
        for label, frag in _fragments(name, spark, sf_dir):
            parts.append(f"\n== {name}: internal fragment — {label} ==\n"
                         + _explain(frag))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write("\n".join(parts))
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
