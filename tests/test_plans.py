"""Physical-plan audits: the plans we'd want at 100 TB, asserted.

These tests pin the scale-critical plan properties: filter/column pushdown
reaching the parquet scan, broadcast joins for small dims, Tungsten partial
aggregation for the JVM sketch fill, and no raw-row shuffle in the sketch
pipeline.
"""

import __spark_entry__ as entry
from puddsketch_spark.spark.agg import udds_bucket_counts

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(plan) -> list:
    """Every node of a JVM SparkPlan, root first."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        ch = node.children()
        stack += [ch.apply(i) for i in range(ch.size())]
    return out


def _key_types(agg) -> list[str]:
    """Data types of a HashAggregateExec's grouping keys."""
    ks = agg.groupingExpressions()
    return [ks.apply(i).dataType().simpleString() for i in range(ks.size())]


def test_q1_pushes_filter_and_prunes_columns(spark):
    df = entry.queries()["q1_pricing_summary"](spark, SF)
    plan = _plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # only the needed columns reach the scan
    read = plan.split("ReadSchema")[1][:400]
    assert "l_quantity" in read and "l_orderkey" not in read


def test_q3_q5_broadcast_dims_only(spark):
    """The 100x-safe join strategy: with size-based auto-broadcast disabled
    (the situation at 100x scale, where every fact table exceeds the
    threshold), ONLY the explicitly hinted dims are broadcast; fact-fact
    joins fall back to shuffle joins instead of a fact-table broadcast."""
    def tree(plan: str) -> str:
        # the node tree before the per-node details (each node appears twice
        # in "formatted" output: once in the tree, once in the detail list)
        return plan.split("\n\n")[0]

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q3 = tree(_plan(entry.queries()["q3_top_revenue_orders"](spark, SF)))
        # exactly one broadcast: the filtered customer dim
        assert q3.count("BroadcastExchange") == 1
        # lineitem<->orders still SHUFFLES (never a fact broadcast), but as
        # a hinted shuffled-hash join: build side = segment-filtered orders
        # hashed on its unique key, no sort of either fact (2x at sf0.1)
        assert "ShuffledHashJoin" in q3
        assert "SortMergeJoin" not in q3
        # top-k compiles to TakeOrdered, not a global sort
        assert "TakeOrderedAndProject" in q3

        q5 = tree(_plan(entry.queries()["q5_nation_volume"](spark, SF)))
        # exactly one broadcast: nation (25 rows, SF-invariant)
        assert q5.count("BroadcastExchange") == 1
        assert q5.count("SortMergeJoin") == 3  # supp/orders/cust all shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q3_uses_broadcast_joins(spark):
    """At test scale (auto-broadcast on) the small sides still broadcast —
    AQE/stats pick it, not a fact-table hint."""
    df = entry.queries()["q3_top_revenue_orders"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_jvm_fill_is_tungsten_partial_agg(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    b = udds_bucket_counts(li, "l_extendedprice", ["l_returnflag"], 0.01)
    plan = _plan(b)
    # two-phase hash aggregation: map-side partial + final after shuffle
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan  # map-side combine before the exchange
    # the bucket-key expression is a Catalyst CASE/CEIL/ln projection
    assert "CEIL" in plan and "ln(" in plan
    # no Python eval anywhere in the fill
    assert "PythonUDF" not in plan and "ArrowEval" not in plan and "FlatMap" not in plan
    # value column pruned + null filter pushed to the scan
    assert "PushedFilters: [IsNotNull(l_extendedprice)]" in plan


def test_arrow_fill_prunes_scan_columns(spark):
    """The Arrow engine's upstream select must reach the parquet scan: a
    sketch over (group, value) of a 16-column fact reads exactly 2 columns."""
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.agg import partial_sketches

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    p = partial_sketches(li, "l_extendedprice", ["l_returnflag"], UDDSketch)
    plan = _plan(p)
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_returnflag" in read and "l_extendedprice" in read
    assert "l_orderkey" not in read and "l_shipdate" not in read


def test_arrow_pipeline_shuffles_blobs_not_rows(spark):
    """The keyed merge exchanges hash-partitioned partials (blobs), and the
    pre-shuffle stage output schema is the partial-sketch schema, not raw rows."""
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.agg import partial_sketches, merge_grouped

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    partials = partial_sketches(li, "l_extendedprice", ["l_returnflag"], UDDSketch)
    merged = merge_grouped(partials, ["l_returnflag"], UDDSketch.from_bytes)
    plan = _plan(merged)
    assert "hashpartitioning(l_returnflag" in plan
    # the exchange input is the partial-sketch schema (state blobs), not rows:
    # the Exchange node's Input must carry the state column
    exchange_detail = plan.split(") Exchange")[1]
    assert "state" in exchange_detail.split("Arguments")[0]


def test_lsh_band_join_excludes_signatures(spark):
    """The exploded band self-join (the heaviest dedup shuffle) must carry
    only (band, band_hash, id) — duplicating full num_perm x 8 B signatures
    bands-times across the exchange is the scale-killer this pins against."""
    from puddsketch_spark.ops.dedup import minhash_dedup_pairs, release_cached

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    # at test scale the tiny band table would broadcast; force the shuffle
    # join the band join becomes at 100x so the exchange payload is visible
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
        pairs = minhash_dedup_pairs(d, num_perm=32, bands=8, threshold=0.5)
        plan = _plan(pairs)
        # every exchange hash-partitioned on the band key must not carry sig
        found_band_exchange = False
        for seg in plan.split("\n\n"):
            if not seg.startswith("(") or ") Exchange" not in seg.split("\n")[0]:
                continue
            if "hashpartitioning(band" not in seg:
                continue
            found_band_exchange = True
            input_line = seg.split("Input")[1].split("\n")[0]
            assert "sig" not in input_line, f"band exchange carries sigs: {input_line}"
        assert found_band_exchange
        release_cached(pairs)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketing pays the join shuffle once at write time: two tables
    bucketed on the key join with NO Exchange (the 100-TB layout for
    repeatedly-joined facts), while the plain-parquet join shuffles both
    sides."""
    from pyspark.sql import functions as F

    from puddsketch_spark.spark.bucketing import read_bucketed, write_bucketed

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", 8,
                   path=str(tmp_path / "b_orders"))
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem",
                   "o_orderkey", 8, path=str(tmp_path / "b_li"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # join AND aggregate on the bucket key: the whole pipeline reuses the
        # write-time partitioning — zero Exchange anywhere in the plan
        joined = read_bucketed(spark, "b_orders").join(
            read_bucketed(spark, "b_lineitem"), "o_orderkey"
        ).groupBy("o_orderkey").agg(F.sum("l_extendedprice").alias("rev"))
        tree = _plan(joined).split("\n\n")[0]
        assert "SortMergeJoin" in tree
        assert "Exchange" not in tree  # co-located buckets: zero shuffle
        assert joined.count() > 0

        plain = orders.join(
            li, orders.o_orderkey == li.l_orderkey
        ).groupBy(orders.o_orderkey).agg(F.sum("l_extendedprice").alias("rev"))
        plain_tree = _plan(plain).split("\n\n")[0]
        assert "Exchange" in plain_tree  # the shuffle bucketing removes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cosine_topk_is_take_ordered(spark):
    from puddsketch_spark.ops.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.first().embedding
    plan = _plan(cosine_topk(emb, q, k=5))
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no full sort


def test_multi_feature_sketch_scans_once(spark):
    """udds_quantiles_multi: N features must cost ONE scan — the stack is a
    codegen'd expand over the single FileScan, never a per-feature re-read,
    and the fill is still a Tungsten partial aggregation."""
    from puddsketch_spark.spark.agg import udds_quantiles_multi

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = udds_quantiles_multi(li, ["l_extendedprice", "l_quantity"], (),
                              qs=[0.5, 0.99], alpha=0.01, m=0)
    plan = _plan(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "Expand" in tree or "Generate" in tree  # the stack node
    assert "HashAggregate" in tree  # Tungsten fill
    # only the two feature columns reach the scan
    read = plan.split("ReadSchema")[1][:400]
    assert "l_extendedprice" in read and "l_quantity" in read
    assert "l_orderkey" not in read
    # the histogram groups on an int feature index, never a string literal
    # hashed per exploded row
    keys = [_key_types(n) for n in _nodes(df._jdf.queryExecution().sparkPlan())
            if n.nodeName() == "HashAggregate"]
    assert keys and all("string" not in k for k in keys), keys


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The bucketed range join must plan as a hash equi-join — never a
    cartesian product or broadcast-nested-loop (the naive range-predicate
    plan that is O(|P| x |I|))."""
    from pyspark.sql import functions as F

    from puddsketch_spark.ops.joins import range_join

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "value")
    bands = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 25.0, 100.0)],
        "band string, start double, end double",
    )
    out = range_join(ev, bands, "value", bucket_width=25.0)
    plan = _plan(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled hash — both equi-joins


def test_decontam_broadcasts_gram_universe(spark):
    """The exact decontamination path must broadcast the benchmark gram
    side (small by definition) — a sort-merge join on grams would shuffle
    the exploded doc-gram table."""
    from pyspark.sql import functions as F

    from puddsketch_spark.ops.decontam import flag_contaminated

    d = spark.read.parquet(f"{SF}/documents.parquet")
    flags = flag_contaminated(
        d.where(F.col("doc_id") % 10 != 0),
        d.where(F.col("doc_id") % 10 == 0),
        n=4, method="join",
    )
    plan = _plan(flags)
    assert "BroadcastHashJoin" in plan


def test_asof_and_sessionize_no_extra_exchange_on_sf_data(spark):
    """Parquet-backed inputs: the as-of join and sessionization still plan
    exactly their single by-key exchanges (plus the final agg exchange for
    session_stats)."""
    from pyspark.sql import functions as F

    from puddsketch_spark.ops.asof import asof_join
    from puddsketch_spark.ops.sessions import sessionize

    ev = spark.read.parquet(f"{SF}/events.parquet")
    errors = ev.where("event_type = 'error'").select("event_id", "user_id", "ts")
    clicks = ev.where("event_type = 'click'").select(
        "user_id", "ts", F.col("event_id").alias("click_id"))
    def executed(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    plan = executed(asof_join(errors, clicks, on="ts", by=["user_id"]))
    assert plan.count("Exchange hashpartitioning") == 1, plan

    plan = executed(sessionize(ev, ts_col="ts", by=["user_id"],
                               gap="INTERVAL 30 MINUTES"))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_grouped_sketch_apis_run_one_key_run_stage(spark):
    """Every grouped merge and finalize is one mapInArrow key-run stage: no
    executed plan holds a per-group FlatMapGroupsInPandas, and the grouped
    quantile/estimate APIs of the Arrow-filled kernels merge and finalize
    in that stage, with no ArrowEvalPython finalize after it."""
    from puddsketch_spark.core import UDDSketch
    from puddsketch_spark.spark.agg import merge_grouped, partial_sketches, udds_quantiles
    from puddsketch_spark.spark.sketches import (
        dd_quantiles, hll_distinct, kll_quantiles, tdigest_quantiles)

    df = spark.createDataFrame(
        [(f"g{i % 2}", float(i + 1)) for i in range(200)], "g string, v double")
    parts = partial_sketches(df, "v", ["g"], UDDSketch)
    cases = {
        "udds_quantiles": (udds_quantiles(df, "v", ["g"]), False),
        "dd_quantiles": (dd_quantiles(df, "v", ["g"]), False),
        "merge_grouped": (merge_grouped(parts, ["g"], UDDSketch.from_bytes), False),
        "kll_quantiles": (kll_quantiles(df, "v", ["g"]), True),
        "tdigest_quantiles": (tdigest_quantiles(df, "v", ["g"]), True),
        "hll_distinct": (hll_distinct(df, "v", ["g"]), True),
    }
    for name, (out, fused) in cases.items():
        assert len(out.collect()) >= 2, name
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, (name, plan)
        assert "FlatMapGroupsInPandas" not in plan, (name, plan)
        if fused:
            assert "ArrowEvalPython" not in plan, (name, plan)


def test_state_table_finalizers_are_one_exchange_free_stage(spark):
    """quantile_table, moments_table and distinct_table finalize a state
    table that already holds one row per key: each executed plan over a
    localCheckpoint-ed state table is exactly one MapInArrow, with no
    Exchange, Sort, Python UDF eval or Generate. A NULL string key and a
    NaN double key each keep their type and yield one row per quantile."""
    from pyspark.sql import functions as F

    from puddsketch_spark.core import HLLSketch, MomentsSketch, UDDSketch
    from puddsketch_spark.spark.agg import quantile_table, sketch_grouped
    from puddsketch_spark.spark.sketches import distinct_table, moments_table

    rows = [(s, k, float(i % 37) + 0.5)
            for i, (s, k) in enumerate([("a", 1.0), (None, 2.0), ("b", float("nan"))] * 40)]
    df = spark.createDataFrame(rows, "s string, k double, v double")
    keys = ["s", "k"]

    def states(factory):
        return sketch_grouped(df, "v", keys, factory).localCheckpoint()

    qs = [0.25, 0.5, 0.99]
    cases = {
        "quantile_table": quantile_table(states(UDDSketch), keys, qs,
                                         UDDSketch.from_bytes, extra_cols=["n"]),
        "moments_table": moments_table(states(MomentsSketch), keys),
        "distinct_table": distinct_table(states(HLLSketch), keys, HLLSketch.from_bytes),
    }
    for name, out in cases.items():
        nodes = [n.nodeName() for n in _nodes(out._jdf.queryExecution().executedPlan())]
        assert nodes.count("MapInArrow") == 1, (name, nodes)
        for bad in ("Exchange", "Sort", "ArrowEvalPython", "BatchEvalPython", "Generate"):
            assert not any(bad in n for n in nodes), (name, bad, nodes)
        assert out.schema["s"].dataType.simpleString() == "string", name
        assert out.schema["k"].dataType.simpleString() == "double", name

    got = cases["quantile_table"].collect()
    assert cases["quantile_table"].columns == ["s", "k", "q", "est", "n"]
    by_key = {}
    for r in got:
        key = (r.s, "nan" if r.k != r.k else r.k)
        by_key.setdefault(key, []).append(r.q)
    assert by_key == {("a", 1.0): qs, (None, 2.0): qs, ("b", "nan"): qs}
    assert all(r.n == 40 for r in got)
    assert {(r.s, r.n) for r in cases["moments_table"].collect()} == {
        ("a", 40), (None, 40), ("b", 40)}
    assert cases["distinct_table"].where(F.isnan("k")).first().distinct_est > 0
