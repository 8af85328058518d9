"""Distributed-path tests: partial/merge pipeline, grouped + global sketches,
skew salting, checkpoint/resume, datagen determinism. (SURVEY.md §5 plan.)"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from puddsketch_spark.core import UDDSketch
from puddsketch_spark.datagen import transcripts
from puddsketch_spark.spark.agg import (
    merge_grouped,
    partial_sketches,
    quantile_table,
    sketch_global,
    sketch_grouped,
    udds_quantiles,
)
from puddsketch_spark.spark.checkpoint import resume_partials, write_partials
from puddsketch_spark.spark.features import with_inter_turn_latency, with_text_len
from puddsketch_spark.spark.skew import salted_repartition


@pytest.fixture(scope="module")
def tdf(spark):
    return with_text_len(transcripts(spark, n_conv=1500, avg_turns=8, seed=42)).cache()


def _factory():
    return UDDSketch(initial_alpha=0.01, m=200)


def test_datagen_deterministic(spark):
    a = transcripts(spark, n_conv=50, seed=7).orderBy("conv_id", "turn_idx").collect()
    b = transcripts(spark, n_conv=50, seed=7).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    cols = transcripts(spark, n_conv=1, seed=7).columns
    assert cols == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def test_datagen_beta_length_dist(spark):
    """Beta(2,5) text lengths via the reference's two-gamma construction
    (ParallelDDSketch/src/ParallelSketcher.cc:358-366), Catalyst-only:
    deterministic, in [1,1000], and distribution-shaped (a KS check against
    numpy's beta at the mapped quantiles)."""
    import numpy as np

    df = transcripts(spark, n_conv=400, seed=3, length_dist="beta", with_text=False)
    lens = np.array([r.text_len for r in df.select("text_len").collect()])
    again = np.array(
        [r.text_len
         for r in transcripts(spark, n_conv=400, seed=3, length_dist="beta",
                              with_text=False).select("text_len").collect()]
    )
    assert np.array_equal(np.sort(lens), np.sort(again))
    assert lens.min() >= 1 and lens.max() <= 1000
    ref = 1 + np.floor(np.random.default_rng(0).beta(2, 5, lens.size) * 999)
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        got = np.quantile(lens, q)
        want = np.quantile(ref, q)
        assert abs(got - want) <= 0.08 * 999 + 5, (q, got, want)


def test_per_turn_text_equality_under_stable_ordering(spark):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering, regardless of physical partitioning."""
    a = transcripts(spark, n_conv=100, seed=11, partitions=2)
    b = transcripts(spark, n_conv=100, seed=11, partitions=16).repartition(7)
    joined = a.alias("a").join(
        b.alias("b"),
        (F.col("a.conv_id") == F.col("b.conv_id"))
        & (F.col("a.turn_idx") == F.col("b.turn_idx")),
    )
    n = joined.count()
    assert n == a.count() == b.count()
    mismatched = joined.where(F.col("a.text") != F.col("b.text")).count()
    assert mismatched == 0


def test_partials_carry_lineage_metrics(tdf):
    p = partial_sketches(tdf, "text_len", ["role"], _factory)
    rows = p.collect()
    assert {r.partition_id for r in rows} == set(range(tdf.rdd.getNumPartitions()))
    assert all(r.n > 0 and r.buckets > 0 for r in rows)
    total = sum(r.n for r in rows)
    assert total == tdf.count()


def test_grouped_matches_exact_within_alpha(spark, tdf):
    qs = [0.5, 0.9, 0.99]
    est = {
        (r.role, r.q): r.est
        for r in udds_quantiles(tdf, "text_len", ["role"], qs, alpha=0.01, m=1024).collect()
    }
    exact = {
        (r.role, q): r[f"p{i}"]
        for r in tdf.groupBy("role")
        .agg(*[F.expr(f"percentile(text_len, {q})").alias(f"p{i}") for i, q in enumerate(qs)])
        .collect()
        for i, q in enumerate(qs)
    }
    for (role, q), e in est.items():
        x = exact[(role, q)]
        assert abs(e - x) / x <= 0.011, (role, q, e, x)


def _counted_fill(df, value_col, group_cols, factory):
    """The weighted fill of ``df`` counted by (group, value): an explicit
    Tungsten ``groupBy(...).count()`` fed to partial_sketches(weight_col=)
    and merged per group."""
    counts = df.groupBy(*group_cols, value_col).count()
    partials = partial_sketches(counts, value_col, group_cols, factory,
                                weight_col="count")
    return merge_grouped(partials, group_cols, type(factory()).from_bytes)


def test_pre_aggregate_path_bucket_exact(spark, tdf):
    """A counted table's weighted fill (Tungsten distinct-count -> weighted
    kernel fill) must produce the SAME sketch as the row-at-a-time fill:
    with no collapses (m=0 = unbounded) the bucket stores are bit-identical,
    since update and update_weighted increment the same keys by the same
    totals."""
    def fac():
        return UDDSketch(initial_alpha=0.01, m=0)

    plain = {
        r.role: UDDSketch.from_bytes(bytes(r.state))
        for r in sketch_grouped(tdf, "text_len", ["role"], fac).collect()
    }
    pre = {
        r.role: UDDSketch.from_bytes(bytes(r.state))
        for r in _counted_fill(tdf, "text_len", ["role"], fac).collect()
    }
    assert set(plain) == set(pre)
    for role, sk in plain.items():
        assert sk.same_buckets(pre[role]), role
        assert sk.count == pre[role].count


def test_pre_aggregate_hll_and_cms(spark, tdf):
    """HLL and Bloom ignore weights (duplicate-insensitive) -> identical
    registers / bits; CMS takes counts -> identical counters."""
    from puddsketch_spark.core import BloomFilter, CountMinSketch, HLLSketch

    for fac in (lambda: HLLSketch(p=12), lambda: CountMinSketch(),
                lambda: BloomFilter(num_bits=1 << 12, num_hashes=3)):
        a = {r.role: bytes(r.state)
             for r in sketch_grouped(tdf, "turn_idx", ["role"], fac).collect()}
        b = {r.role: bytes(r.state)
             for r in _counted_fill(tdf, "turn_idx", ["role"], fac).collect()}
        assert a == b, type(fac()).__name__  # byte-identical states


def test_pre_aggregate_rejects_rank_kernels(spark, tdf):
    """KLL compaction samples items — no exact weighted form; a weighted
    fill must fail loudly, not silently skew ranks."""
    from puddsketch_spark.core import KLLSketch

    counts = tdf.groupBy("role", "text_len").count()
    with pytest.raises(TypeError, match="does not support weighted update"):
        partial_sketches(counts, "text_len", ["role"], lambda: KLLSketch(k=128),
                         weight_col="count")
    with pytest.raises(TypeError, match="KLLSketch does not support weighted"):
        sketch_global(counts, "text_len", lambda: KLLSketch(k=128),
                      weight_col="count")


def test_rollup_states_parquet_roundtrip(spark, tdf):
    """The incremental-rollup contract: per-group sketch states written to
    parquet, reloaded in a FRESH reader, and rolled up (coarser grouping
    AND global) are bit-identical to sketching the raw table directly —
    no-collapse config, so every path lands on the same buckets."""
    import tempfile

    from puddsketch_spark.spark.agg import rollup_states, sketch_grouped_jvm

    fine = sketch_grouped_jvm(tdf, "text_len", ["role", "tool"], 0.01, 0)
    with tempfile.TemporaryDirectory() as td:
        fine.write.mode("overwrite").parquet(td)
        stored = spark.read.parquet(td)

        # rollup to coarser grouping (drop tool)
        by_role = {
            r.role: UDDSketch.from_bytes(bytes(r.state))
            for r in rollup_states(stored, ["role"], UDDSketch.from_bytes).collect()
        }
        direct = {
            r.role: UDDSketch.from_bytes(bytes(r.state))
            for r in sketch_grouped_jvm(tdf, "text_len", ["role"], 0.01, 0).collect()
        }
        assert set(by_role) == set(direct)
        for role, sk in direct.items():
            assert sk.same_buckets(by_role[role]), role
            assert sk.count == by_role[role].count

        # group keys listed in another order than the table's columns: each
        # key value must stay under its own column
        swapped = rollup_states(stored, ["tool", "role"], UDDSketch.from_bytes)
        assert {(r.role, r.tool) for r in swapped.collect()} == {
            (r.role, r.tool) for r in stored.collect()}

        # rollup to global
        g = rollup_states(stored, (), UDDSketch.from_bytes)
        from puddsketch_spark.spark.agg import sketch_global

        g_direct = sketch_global(
            tdf, "text_len", lambda: UDDSketch(initial_alpha=0.01, m=0),
            UDDSketch.from_bytes,
        )
        assert g.same_buckets(g_direct) and g.count == g_direct.count


def test_global_treereduce_matches_kernel(spark, tdf):
    sk = sketch_global(tdf, "text_len", _factory)
    vals = np.array([r[0] for r in tdf.select("text_len").collect()])
    local = _factory().update(vals)
    assert sk.count == local.count
    # same resolution & buckets regardless of partitioning
    if sk.num_collapses != local.num_collapses:
        c = max(sk.num_collapses, local.num_collapses)
        sk.collapse(c - sk.num_collapses)
        local.collapse(c - local.num_collapses)
    assert sk.same_buckets(local)


def test_partition_count_invariance(spark, tdf):
    """1 vs 8 vs 32 partitions -> same final buckets (merge-order invariance)."""
    results = []
    for n in [1, 8, 32]:
        sk = sketch_global(tdf.repartition(n), "text_len", _factory)
        results.append(sk)
    base = results[0]
    for other in results[1:]:
        a, b = base.copy(), other.copy()
        c = max(a.num_collapses, b.num_collapses)
        a.collapse(c - a.num_collapses)
        b.collapse(c - b.num_collapses)
        assert a.same_buckets(b)


def test_salted_repartition_spreads_hot_key(spark):
    hot = transcripts(spark, n_conv=200, avg_turns=8, seed=1, skew="zipf")
    salted = salted_repartition(hot, ["conv_id"], ["turn_idx"], 16, salt_buckets=8)
    # the hottest conv must occupy >1 partition after salting
    hottest = hot.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    if hottest["count"] >= 16:
        spread = (
            salted.where(F.col("conv_id") == hottest.conv_id)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        assert spread > 1
    # and the sketch result is unchanged by salting
    a = sketch_global(with_text_len(hot), "text_len", _factory)
    b = sketch_global(with_text_len(salted), "text_len", _factory)
    assert a.count == b.count
    aa, bb = a.copy(), b.copy()
    c = max(aa.num_collapses, bb.num_collapses)
    aa.collapse(c - aa.num_collapses)
    bb.collapse(c - bb.num_collapses)
    assert aa.same_buckets(bb)


def test_latency_feature(spark):
    t = transcripts(spark, n_conv=300, avg_turns=8, seed=3)
    lat = with_inter_turn_latency(t)
    rows = lat.where("turn_idx = 0").select("latency_s").distinct().collect()
    assert [r[0] for r in rows] == [None]
    vals = np.array(
        [r[0] for r in lat.where("latency_s is not null").select("latency_s").collect()]
    )
    assert (vals > 0).all()
    # exponential(1): median ~ ln 2
    assert abs(np.median(vals) - np.log(2)) < 0.1


def test_checkpoint_resume_equals_uninterrupted(spark, tdf, tmp_path):
    """Non-file input checkpoints all-or-nothing: the first call fills and
    writes run 0, a second call returns those partials (equal to an
    uninterrupted fill) with no new run, and a changed partition count or
    a switch to file-backed input is refused."""
    import json

    path = str(tmp_path / "ckpt")
    first = resume_partials(spark, tdf, "text_len", ["role"], path, _factory)
    resumed = resume_partials(spark, tdf, "text_len", ["role"], path, _factory)
    with open(f"{path}/_sketch_manifest.json") as f:
        manifest = json.load(f)
    assert manifest["runs"] == [{"scanned": []}] and manifest["files"] == {}
    assert sorted(resumed.collect()) == sorted(first.collect())
    full = partial_sketches(tdf, "text_len", ["role"], _factory)
    a, b = _merge_all(resumed), _merge_all(full)
    c = max(a.num_collapses, b.num_collapses)
    a.collapse(c - a.num_collapses)
    b.collapse(c - b.num_collapses)
    assert a.same_buckets(b)
    n_parts = tdf.rdd.getNumPartitions()
    with pytest.raises(ValueError, match="split planning changed"):
        resume_partials(spark, tdf.repartition(n_parts + 1), "text_len", ["role"],
                        path, _factory)
    src = str(tmp_path / "src")
    tdf.select("role", "text_len").write.parquet(src)
    with pytest.raises(ValueError, match="switch lineage modes"):
        resume_partials(spark, spark.read.parquet(src), "text_len", ["role"],
                        path, _factory)


def test_jvm_engine_bit_parity(spark, tdf):
    """JVM Tungsten fill (udds_quantiles) vs Arrow/numpy fill
    (sketch_grouped + quantile_table): identical estimates (m=0)."""
    qs = [0.5, 0.9, 0.99]
    a = {
        (r.role, r.q): r.est
        for r in udds_quantiles(tdf, "text_len", ["role"], qs,
                                alpha=0.005, m=0).collect()
    }
    merged = sketch_grouped(tdf, "text_len", ["role"],
                            lambda: UDDSketch(initial_alpha=0.005, m=0),
                            UDDSketch.from_bytes)
    b = {
        (r.role, r.q): r.est
        for r in quantile_table(merged, ["role"], qs, UDDSketch.from_bytes).collect()
    }
    assert a == b


def test_jvm_engine_zero_bucket_and_global(spark):
    df = spark.createDataFrame(
        [(0.0,), (-5.0,), (1.0,), (2.0,), (float("nan"),)], "v double"
    )
    out = {r.q: r.est for r in
           udds_quantiles(df, "v", (), [0.0, 0.5, 1.0], alpha=0.01, m=0).collect()}
    # population 4 (NaN dropped): {zero, zero, ~1, ~2}
    assert out[0.0] == 0.0
    assert out[1.0] == pytest.approx(2.0, rel=0.02)


def test_resume_noop_when_complete(spark, tdf, tmp_path):
    path = str(tmp_path / "ckpt2")
    first = resume_partials(spark, tdf, "text_len", [], path, _factory)
    n1 = first.count()
    second = resume_partials(spark, tdf, "text_len", [], path, _factory)
    assert second.count() == n1


def _merge_all(df):
    sk = None
    for r in df.select("state").collect():
        s = UDDSketch.from_bytes(bytes(r[0]))
        sk = s if sk is None else sk.merge(s)
    return sk


def test_checkpoint_file_lineage_scans_only_missing_files(spark, tmp_path):
    """File-backed input: resume must build its scan from ONLY the files
    absent from the manifest (a 99%-done job re-reads ~1%, not 100%)."""
    import json

    src = str(tmp_path / "src")
    t = transcripts(spark, n_conv=400, avg_turns=6, seed=9)
    with_text_len(t).select("role", "text_len").repartition(4).write.parquet(src)
    full_df = spark.read.parquet(src)
    all_files = sorted(full_df.inputFiles())
    assert len(all_files) == 4

    # simulate a crash: checkpoint covers only the first two files
    part_df = spark.read.schema(full_df.schema).parquet(*all_files[:2])
    ckpt = str(tmp_path / "ckpt_files")
    resume_partials(spark, part_df, "text_len", ["role"], ckpt, _factory)

    resumed = resume_partials(spark, full_df, "text_len", ["role"], ckpt, _factory)
    with open(f"{ckpt}/_sketch_manifest.json") as f:
        manifest = json.load(f)
    # the resume run's scan planned exactly the two missing files
    assert sorted(manifest["runs"][-1]["scanned"]) == all_files[2:]
    assert set(manifest["files"]) == set(all_files)
    # per-(run, partition, group) states appear exactly once (no double-count)
    per_pid = resumed.groupBy("sketch_run", "partition_id", "role").count().collect()
    assert all(r["count"] == 1 for r in per_pid)
    # resumed == uninterrupted, bucket-for-bucket
    full = partial_sketches(full_df, "text_len", ["role"], _factory)
    a, b = _merge_all(resumed), _merge_all(full)
    c = max(a.num_collapses, b.num_collapses)
    a.collapse(c - a.num_collapses)
    b.collapse(c - b.num_collapses)
    assert a.same_buckets(b)
    # a second resume is a no-op (no new run appended)
    n_runs = len(manifest["runs"])
    resume_partials(spark, full_df, "text_len", ["role"], ckpt, _factory)
    with open(f"{ckpt}/_sketch_manifest.json") as f:
        assert len(json.load(f)["runs"]) == n_runs


def test_checkpoint_rejects_changed_input_file(spark, tmp_path):
    """A completed file whose fingerprint changed must fail loudly instead of
    silently double-counting or dropping rows (resume-safety invariant)."""
    src = str(tmp_path / "src2")
    t = transcripts(spark, n_conv=100, avg_turns=4, seed=11)
    with_text_len(t).select("role", "text_len").repartition(2).write.parquet(src)
    full_df = spark.read.parquet(src)
    ckpt = str(tmp_path / "ckpt_changed")
    resume_partials(spark, full_df, "text_len", ["role"], ckpt, _factory)
    # perturb one data file's fingerprint (rewritten-in-place scenario)
    import os

    victim = [f for f in sorted(full_df.inputFiles())][0].replace("file:", "")
    st = os.stat(victim)
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    with pytest.raises(ValueError, match="changed since checkpoint"):
        resume_partials(spark, spark.read.parquet(src), "text_len", ["role"], ckpt, _factory)


def test_checkpoint_rebuild_scan_for_derived_columns(spark, tmp_path):
    """Inputs with derived columns resume through rebuild_scan: the caller
    reproduces its transformation over the missing-file subset."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src3")
    t = transcripts(spark, n_conv=120, avg_turns=4, seed=13)
    t.select("conv_id", "role", "text").repartition(3).write.parquet(src)

    def load(spark_, paths):
        raw = (spark_.read.schema("conv_id string, role string, text string")
               .parquet(*paths))
        return raw.withColumn("text_len", F.length("text").cast("double"))

    full_raw = spark.read.parquet(src)
    files = sorted(full_raw.inputFiles())
    ckpt = str(tmp_path / "ckpt_derived")
    # seed from 1 of 3 files, using the derived column
    resume_partials(spark, load(spark, files[:1]), "text_len", ["role"], ckpt,
                    _factory, rebuild_scan=load)
    resumed = resume_partials(spark, load(spark, files), "text_len", ["role"],
                              ckpt, _factory, rebuild_scan=load)
    full = partial_sketches(load(spark, files), "text_len", ["role"], _factory)
    a, b = _merge_all(resumed), _merge_all(full)
    c = max(a.num_collapses, b.num_collapses)
    a.collapse(c - a.num_collapses)
    b.collapse(c - b.num_collapses)
    assert a.same_buckets(b)


def test_binary_doubles_rejects_bad_length(spark, tmp_path):
    from puddsketch_spark.sources import read_binary_doubles

    p = tmp_path / "bad.bin"
    p.write_bytes(b"\x00" * 12)  # not a multiple of 8
    import pytest as _pytest

    with _pytest.raises(Exception, match="multiple of 8"):
        read_binary_doubles(spark, str(p)).count()


def test_checkpoint_rejects_shrunk_input(spark, tmp_path):
    """Resume over an input missing previously-checkpointed files must fail
    loudly: the checkpoint's partials would carry data the table no longer
    has (resume is defined for append-only inputs)."""
    import os

    src = str(tmp_path / "src4")
    t = transcripts(spark, n_conv=100, avg_turns=4, seed=17)
    with_text_len(t).select("role", "text_len").repartition(3).write.parquet(src)
    full = spark.read.parquet(src)
    ckpt = str(tmp_path / "ckpt_shrunk")
    resume_partials(spark, full, "text_len", ["role"], ckpt, _factory)
    victim = sorted(full.inputFiles())[0].replace("file:", "")
    os.remove(victim)
    with pytest.raises(ValueError, match="no longer exist"):
        resume_partials(spark, spark.read.parquet(src), "text_len", ["role"],
                        ckpt, _factory)


def test_checkpoint_survives_crash_between_append_and_manifest(spark, tmp_path):
    """A resume that died AFTER writing its run directory but BEFORE
    rewriting the manifest must not double-count: the orphan run is outside
    the committed runs every read is pruned to, the next resume reuses its
    index and overwrites it, and the merged result equals the uninterrupted
    run."""
    import json
    import os

    src = str(tmp_path / "src5")
    t = transcripts(spark, n_conv=300, avg_turns=5, seed=19)
    with_text_len(t).select("role", "text_len").repartition(3).write.parquet(src)
    full_df = spark.read.parquet(src)
    files = sorted(full_df.inputFiles())
    ckpt = str(tmp_path / "ckpt_crash")
    part_df = spark.read.schema(full_df.schema).parquet(*files[:2])
    committed = resume_partials(spark, part_df, "text_len", ["role"], ckpt, _factory)
    n_committed = committed.count()

    # emulate the crashed resume: write the third file's partials as run 1,
    # leave the manifest untouched
    crashed_df = spark.read.schema(full_df.schema).parquet(files[2])
    partial_sketches(crashed_df, "text_len", ["role"], _factory).write.parquet(
        f"{ckpt}/sketch_run=1")
    orphan_files = _parquet_files(f"{ckpt}/sketch_run=1")
    # the orphan is excluded: a no-op read over the committed files
    again = resume_partials(spark, part_df, "text_len", ["role"], ckpt, _factory)
    assert again.count() == n_committed
    assert {r.sketch_run for r in again.select("sketch_run").collect()} == {0}

    resumed = resume_partials(spark, full_df, "text_len", ["role"], ckpt, _factory)
    full = partial_sketches(full_df, "text_len", ["role"], _factory)
    a, b = _merge_all(resumed), _merge_all(full)
    assert a.count == b.count  # no double count despite the orphan run
    c = max(a.num_collapses, b.num_collapses)
    a.collapse(c - a.num_collapses)
    b.collapse(c - b.num_collapses)
    assert a.same_buckets(b)
    # the recovery run reused index 1 and overwrote the orphan's files
    with open(f"{ckpt}/_sketch_manifest.json") as f:
        m2 = json.load(f)
    assert [r["scanned"] for r in m2["runs"]] == [files[:2], files[2:]]
    assert not orphan_files & _parquet_files(f"{ckpt}/sketch_run=1")
    assert sorted(os.listdir(ckpt)) == [
        "_sketch_manifest.json", "sketch_run=0", "sketch_run=1"]


def test_checkpoint_default_rebuild_rejects_hive_partitions(spark, tmp_path):
    src = str(tmp_path / "src6")
    t = transcripts(spark, n_conv=60, avg_turns=4, seed=23)
    (with_text_len(t).select("role", "text_len")
     .write.partitionBy("role").parquet(src))
    full = spark.read.parquet(src)
    ckpt = str(tmp_path / "ckpt_hive")
    # seed a checkpoint missing some files, then resume without rebuild_scan
    part_files = sorted(full.inputFiles())[:1]
    part = spark.read.schema(
        spark.read.parquet(*part_files).schema
    ).parquet(*part_files)
    # the seeding itself is fine (rebuild only triggers on MISSING files)
    resume_partials(spark, part, "text_len", [], ckpt, _factory)
    with pytest.raises(ValueError, match="hive-partitioned"):
        resume_partials(spark, full, "text_len", [], ckpt, _factory)


def _parquet_files(d):
    import os

    return {f for f in os.listdir(d) if f.endswith(".parquet")}


def _jobs(spark, group, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _hold_back_last_file(spark, src, tmp_path):
    """Move the last data file of ``src`` aside; returns the function that
    appends it again (rename keeps its fingerprint)."""
    import os
    from urllib.parse import urlparse

    last = urlparse(sorted(spark.read.parquet(src).inputFiles())[-1]).path
    aside = str(tmp_path / "held_back.parquet")
    os.rename(last, aside)
    return lambda: os.rename(aside, last)


def test_checkpoint_resume_job_counts(spark, tmp_path):
    """A resume over one appended file runs at most 2 Spark jobs (the
    missing files' schema and the new run's write); a no-op resume over
    file-backed input runs none: every checkpoint read has an explicit
    schema and the manifest, not a job, says which runs are committed."""
    src = str(tmp_path / "src7")
    t = transcripts(spark, n_conv=200, avg_turns=4, seed=29)
    with_text_len(t).select("role", "text_len").repartition(4).write.parquet(src)
    append = _hold_back_last_file(spark, src, tmp_path)
    ckpt = str(tmp_path / "ckpt_jobs")
    resume_partials(spark, spark.read.parquet(src), "text_len", ["role"], ckpt, _factory)
    append()
    full = spark.read.parquet(src)
    resumed, n_append = _jobs(spark, "ckpt-append", lambda: resume_partials(
        spark, full, "text_len", ["role"], ckpt, _factory))
    again, n_noop = _jobs(spark, "ckpt-noop", lambda: resume_partials(
        spark, full, "text_len", ["role"], ckpt, _factory))
    assert n_append <= 2 and n_noop == 0, (n_append, n_noop)
    assert sorted(again.collect()) == sorted(resumed.collect())
    a, b = _merge_all(resumed), sketch_global(full, "text_len", _factory)
    assert a.count == b.count


def test_checkpoint_refuses_v3_manifest(spark, tdf, tmp_path):
    """A manifest of the earlier flat layout (version 3: partition-id
    ranges, no run directories) is refused, asking for a delete."""
    import json

    ckpt = tmp_path / "ckpt_v3"
    ckpt.mkdir()
    (ckpt / "_sketch_manifest.json").write_text(json.dumps({
        "version": 3, "num_input_partitions": 8, "completed": [], "files": {},
        "runs": [{"scanned": []}], "next_pid_base": 8, "committed_ranges": [[0, 8]]}))
    with pytest.raises(ValueError, match="version 3.*delete the checkpoint"):
        resume_partials(spark, tdf, "text_len", ["role"], str(ckpt), _factory)


def test_checkpoint_default_rebuild_refuses_derived_columns(spark, tmp_path):
    """The default rebuild reads the missing files with the input's schema,
    so a column derived after the read (with_text_len's text_len) would be
    NULL for their rows. It is refused, naming the column, before the new
    run is written. A salted input passes: salted_repartition drops its
    _salt column, so its columns are the files' own."""
    import json
    import os

    src = str(tmp_path / "src8")
    t = transcripts(spark, n_conv=200, avg_turns=4, seed=31)
    t.select("role", "text").repartition(4).write.parquet(src)
    append = _hold_back_last_file(spark, src, tmp_path)
    ckpt = str(tmp_path / "ckpt_derived_default")
    resume_partials(spark, with_text_len(spark.read.parquet(src)), "text_len", ["role"],
                    ckpt, _factory)
    append()
    with pytest.raises(ValueError, match=r"\['text_len'\] are not in the missing files"):
        resume_partials(spark, with_text_len(spark.read.parquet(src)), "text_len",
                        ["role"], ckpt, _factory)
    assert sorted(os.listdir(ckpt)) == ["_sketch_manifest.json", "sketch_run=0"]
    with open(f"{ckpt}/_sketch_manifest.json") as f:
        assert len(json.load(f)["runs"]) == 1

    salted_src = str(tmp_path / "src8_salted")
    (with_text_len(t).select("conv_id", "turn_idx", "ts", "role", "text_len")
     .repartition(4).write.parquet(salted_src))
    append = _hold_back_last_file(spark, salted_src, tmp_path)

    def salted():
        return salted_repartition(spark.read.parquet(salted_src), ["conv_id"],
                                  ["turn_idx", "ts"], 4, 4)

    ckpt = str(tmp_path / "ckpt_salted")
    resume_partials(spark, salted(), "text_len", ["role"], ckpt, _factory)
    append()
    resumed = resume_partials(spark, salted(), "text_len", ["role"], ckpt, _factory)
    a = _merge_all(resumed)
    b = sketch_global(spark.read.parquet(salted_src), "text_len", _factory)
    c = max(a.num_collapses, b.num_collapses)
    a.collapse(c - a.num_collapses)
    b.collapse(c - b.num_collapses)
    assert a.count == b.count and a.same_buckets(b)


def test_checkpoint_path_must_be_local(spark, tdf, tmp_path):
    """The manifest is written with local file I/O, so a checkpoint path
    with another scheme is refused before any job runs or any directory is
    made; a file: URI names the local path. A group column named like the
    run directories' partition column is refused before any job too."""
    import os

    ckpt = tmp_path / "ckpt_local"
    for bad in ("s3://bucket/ckpt", f"hdfs://namenode{ckpt}"):
        with pytest.raises(ValueError, match="is not local"):
            _jobs(spark, f"ckpt-bad-{bad[:2]}", lambda: resume_partials(
                spark, tdf, "text_len", ["role"], bad, _factory))
        assert not spark.sparkContext.statusTracker().getJobIdsForGroup(
            f"ckpt-bad-{bad[:2]}")
        with pytest.raises(ValueError, match="is not local"):
            write_partials(partial_sketches(tdf, "text_len", ["role"], _factory), bad, 1)
    assert not ckpt.exists()
    with pytest.raises(ValueError, match="reserved"):
        _jobs(spark, "ckpt-bad-group", lambda: resume_partials(
            spark, tdf.withColumnRenamed("role", "sketch_run"), "text_len",
            ["sketch_run"], str(ckpt), _factory))
    assert not spark.sparkContext.statusTracker().getJobIdsForGroup("ckpt-bad-group")
    assert not ckpt.exists()

    first = resume_partials(spark, tdf, "text_len", ["role"], f"file://{ckpt}", _factory)
    assert os.path.exists(ckpt / "_sketch_manifest.json")
    again = resume_partials(spark, tdf, "text_len", ["role"], str(ckpt), _factory)
    assert sorted(again.collect()) == sorted(first.collect())


def test_salted_join_equals_plain_join(spark):
    """salted_join: identical rows to the plain join under a hot key (99%
    of fact rows on one key), both inner and left, and each fact row
    matched exactly once (no salt-induced duplication)."""
    from puddsketch_spark.spark.skew import salted_join

    rows = [(0 if j % 100 else j % 7 + 1, j, float(j)) for j in range(10_000)]
    fact = spark.createDataFrame(rows, "k long, rid long, v double")
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(6)], "k long, name string"
    )
    for how in ("inner", "left"):
        plain = sorted(fact.join(dim, "k", how).collect())
        salted = sorted(
            salted_join(fact, dim, "k", salt_cols=["rid"], salt_buckets=8,
                        how=how).collect()
        )
        assert salted == plain and len(plain) > 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(fact, dim, "k", salt_cols=["rid"], how="right")


def test_checkpoint_with_theta_and_moments_kernels(spark, tmp_path):
    """Kernel-generic checkpointing: theta and moments states resumable
    from disk produce the same result as an uninterrupted run."""
    from puddsketch_spark.core import MomentsSketch, ThetaSketch
    from puddsketch_spark.spark.checkpoint import checkpointed_sketch_grouped

    src = str(tmp_path / "ckpt_src")
    t = transcripts(spark, n_conv=400, avg_turns=8, seed=23)
    with_text_len(t).select("role", "conv_id", "text_len").coalesce(4).write.mode(
        "overwrite").parquet(src)
    df = spark.read.parquet(src)

    for kernel, col in ((lambda: ThetaSketch(k=256), "conv_id"),
                        (MomentsSketch, "text_len")):
        fb = type(kernel()).from_bytes
        direct = {
            r.role: r.state
            for r in sketch_grouped(df, col, ["role"], kernel, fb).collect()
        }
        ck = str(tmp_path / f"ck_{col}")
        resumed = {
            r.role: r.state
            for r in checkpointed_sketch_grouped(
                spark, df, col, ["role"], ck, kernel, fb).collect()
        }
        # second call resumes purely from the stored partials
        resumed2 = {
            r.role: r.state
            for r in checkpointed_sketch_grouped(
                spark, df, col, ["role"], ck, kernel, fb).collect()
        }
        for role in direct:
            d, r1, r2 = fb(direct[role]), fb(resumed[role]), fb(resumed2[role])
            if col == "conv_id":  # theta: bit-deterministic across paths
                assert d.same_buckets(r1) and r1.same_buckets(r2), role
            else:  # moments: merge order shifts the last ulp (documented)
                for other in (r1, r2):
                    assert d.n == other.n and d.vmin == other.vmin
                    assert abs(d.mean - other.mean) <= 1e-9 * abs(d.mean)
                    assert abs(d.m2 - other.m2) <= 1e-9 * abs(d.m2)


def test_dd_jvm_fill_bit_parity_with_arrow(spark):
    """The JVM (Tungsten histogram) DD-pair fill is bucket-identical to the
    Arrow-engine fill at m=0 over a mixed-sign column with zeros, and the
    one-shot m-bound fold produces a valid bounded uniform-mode sketch."""
    import numpy as np

    from puddsketch_spark.core import DDSketchPair
    from puddsketch_spark.spark.agg import dd_sketch_global_jvm

    rng = np.random.default_rng(29)
    vals = np.concatenate([
        rng.normal(0, 40, 40_000), np.zeros(13), -rng.lognormal(2, 1, 5_000)
    ])
    df = spark.createDataFrame([(float(v),) for v in vals], "v double").repartition(8)

    jvm = dd_sketch_global_jvm(df, "v", alpha=0.01, m=0)
    arrow = sketch_global(df, "v", lambda: DDSketchPair(initial_alpha=0.01, m=0),
                          DDSketchPair.from_bytes)
    assert jvm.zero_count == arrow.zero_count == 13
    assert np.array_equal(jvm.pos_keys, arrow.pos_keys)
    assert np.array_equal(jvm.pos_counts, arrow.pos_counts)
    assert np.array_equal(jvm.neg_keys, arrow.neg_keys)
    assert np.array_equal(jvm.neg_counts, arrow.neg_counts)
    # the value range is read from the bucket rows' per-bucket min/max
    assert (jvm.min_value, jvm.max_value) == (arrow.min_value, arrow.max_value)
    for q in (0.01, 0.1, 0.5, 0.9, 0.99):
        assert jvm.quantile(q) == arrow.quantile(q), q

    bounded = dd_sketch_global_jvm(df, "v", alpha=0.01, m=64)
    assert bounded.num_buckets + 1 <= 64  # B* occupies a slot
    assert bounded.count == jvm.count
    sv = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        exact = sv[int(np.floor(q * (len(sv) - 1)))]
        assert abs(bounded.quantile(q) - exact) <= bounded.alpha * abs(exact) + 1e-9


def test_dd_grouped_jvm_matches_arrow(spark):
    """Grouped JVM DD fill: per-group states bucket-identical to the Arrow
    engine at m=0, min/max carried, and metrics columns populated."""
    import numpy as np

    from puddsketch_spark.core import DDSketchPair
    from puddsketch_spark.spark.agg import dd_states_grouped_jvm

    rng = np.random.default_rng(33)
    rows = [("a", float(v)) for v in rng.normal(0, 30, 20_000)] + [
        ("b", float(v)) for v in -rng.lognormal(1, 1, 10_000)
    ] + [("a", 0.0)] * 3
    df = spark.createDataFrame(rows, "grp string, v double").repartition(8)
    jvm = {
        r.grp: DDSketchPair.from_bytes(r.state)
        for r in dd_states_grouped_jvm(df, "v", ["grp"], alpha=0.01, m=0).collect()
    }
    arrow = {
        r.grp: DDSketchPair.from_bytes(r.state)
        for r in sketch_grouped(
            df, "v", ["grp"], lambda: DDSketchPair(initial_alpha=0.01, m=0),
            DDSketchPair.from_bytes).collect()
    }
    for g in ("a", "b"):
        j, a = jvm[g], arrow[g]
        assert j.zero_count == a.zero_count
        assert np.array_equal(j.pos_keys, a.pos_keys)
        assert np.array_equal(j.pos_counts, a.pos_counts)
        assert np.array_equal(j.neg_keys, a.neg_keys)
        assert np.array_equal(j.neg_counts, a.neg_counts)
        assert (j.min_value, j.max_value) == (a.min_value, a.max_value), g
        for q in (0.1, 0.5, 0.9):
            assert j.quantile(q) == a.quantile(q), (g, q)
    assert jvm["a"].zero_count == 3


def test_dd_grouped_jvm_keeps_null_group(spark):
    """Review regression: a NULL group key keeps its state row, matching
    the Arrow fill's result set."""
    from puddsketch_spark.core import DDSketchPair
    from puddsketch_spark.spark.agg import dd_states_grouped_jvm

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), (None, 5.0), (None, -7.0)], "grp string, v double"
    )
    jvm = {r.grp: DDSketchPair.from_bytes(r.state)
           for r in dd_states_grouped_jvm(df, "v", ["grp"], alpha=0.01, m=0).collect()}
    assert set(jvm) == {"a", None}
    assert jvm[None].count == 2 and jvm[None].min_value == -7.0


# --------------------------------------------------------------------------
# grouping sets / cube / rollup over sketch states
# --------------------------------------------------------------------------
def _gs_fixture(spark):
    """Small 2-key table with a NULL data key in `tool` so rollup NULLs and
    data NULLs collide and only grouping_id can separate them."""
    rows = [
        ("user", "search", 10.0), ("user", "search", 20.0),
        ("user", None, 5.0), ("assistant", "search", 40.0),
        ("assistant", "code", 80.0), ("assistant", "code", 160.0),
        ("user", "code", 320.0),
    ]
    return spark.createDataFrame(rows, "role string, tool string, v double")


def test_grouping_sets_cells_bit_identical_to_direct_fill(spark):
    """Every grouping-set cell merged from the finest states must be
    bucket-for-bucket identical (m=0: no collapses, merge = exact bucket
    sum) to a direct sketch_grouped fill on that slice."""
    from puddsketch_spark.spark.agg import rollup_grouping_sets

    df = _gs_fixture(spark)
    fac = lambda: UDDSketch(initial_alpha=0.01, m=0)  # noqa: E731
    states = sketch_grouped(df, "v", ["role", "tool"], fac,
                            UDDSketch.from_bytes).persist()
    out = rollup_grouping_sets(
        states, [("role", "tool"), ("role",), ("tool",), ()],
        UDDSketch.from_bytes,
    ).collect()
    states.unpersist()
    assert {r.grouping_id for r in out} == {0, 1, 2, 3}

    # direct fills per set
    for gid, cols in ((0, ["role", "tool"]), (1, ["role"]), (2, ["tool"])):
        direct = {
            tuple(r[c] for c in cols): UDDSketch.from_bytes(r.state)
            for r in sketch_grouped(df, "v", cols, fac,
                                    UDDSketch.from_bytes).collect()
        }
        got = {r for r in out if r.grouping_id == gid}
        assert len(got) == len(direct)
        for r in got:
            d = direct[tuple(r[c] for c in cols)]
            m = UDDSketch.from_bytes(r.state)
            assert m.count == d.count == r.n
            assert m.to_bytes() == d.to_bytes()  # bucket-for-bucket
    # global cell
    (g,) = [r for r in out if r.grouping_id == 3]
    direct_g = sketch_global(df, "v", fac, UDDSketch.from_bytes)
    assert g.role is None and g.tool is None
    assert UDDSketch.from_bytes(g.state).to_bytes() == direct_g.to_bytes()
    assert g.n == df.count()


def test_grouping_sets_gid_matches_spark_cube(spark):
    """grouping_id must follow Spark's own grouping_id() bit convention,
    cell-for-cell, on a full cube (counts as the comparable metric)."""
    from puddsketch_spark.spark.agg import rollup_cube

    df = _gs_fixture(spark)
    fac = lambda: UDDSketch(initial_alpha=0.01, m=0)  # noqa: E731
    states = sketch_grouped(df, "v", ["role", "tool"], fac,
                            UDDSketch.from_bytes).persist()
    ours = {
        (r.role, r.tool, r.grouping_id): r.n
        for r in rollup_cube(states, ["role", "tool"],
                             UDDSketch.from_bytes).collect()
    }
    states.unpersist()
    sparks = {
        (r.role, r.tool, r.gid): r.cnt
        for r in df.cube("role", "tool")
        .agg(F.grouping_id().alias("gid"), F.count("*").alias("cnt"))
        .collect()
    }
    assert ours == sparks  # data-NULL vs rollup-NULL separated identically


def test_rollup_hierarchy_prefix_chain(spark):
    from puddsketch_spark.spark.agg import rollup_hierarchy

    df = _gs_fixture(spark)
    fac = lambda: UDDSketch(initial_alpha=0.01, m=0)  # noqa: E731
    states = sketch_grouped(df, "v", ["role", "tool"], fac,
                            UDDSketch.from_bytes).persist()
    out = rollup_hierarchy(states, ["role", "tool"], UDDSketch.from_bytes)
    rows = out.collect()
    states.unpersist()
    # ROLLUP(role, tool) -> gids {0 (role,tool), 1 (role), 3 ()} — never 2
    assert {r.grouping_id for r in rows} == {0, 1, 3}
    spark_rollup = df.rollup("role", "tool").agg(
        F.grouping_id().alias("gid"), F.count("*").alias("cnt")).collect()
    assert len(rows) == len(spark_rollup)


def test_grouping_sets_guards_and_one_scan_plan(spark):
    """Bad inputs raise; and with a persisted finest-state table the result
    plan references the cache (InMemory scan), never a fresh source scan —
    the one-scan contract the operator exists for."""
    from puddsketch_spark.spark.agg import rollup_grouping_sets

    df = _gs_fixture(spark)
    fac = lambda: UDDSketch(initial_alpha=0.01, m=0)  # noqa: E731
    states = sketch_grouped(df, "v", ["role", "tool"], fac,
                            UDDSketch.from_bytes).persist()
    states.count()  # materialize the cache

    with pytest.raises(ValueError, match="no grouping sets"):
        rollup_grouping_sets(states, [], UDDSketch.from_bytes)
    with pytest.raises(ValueError, match="duplicate column"):
        rollup_grouping_sets(states, [("role", "role")], UDDSketch.from_bytes)
    with pytest.raises(ValueError, match="lacks grouping columns"):
        rollup_grouping_sets(states, [("nope",)], UDDSketch.from_bytes)

    out = rollup_grouping_sets(states, [("role",), ()], UDDSketch.from_bytes)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    assert "Scan ExistingRDD" not in plan or "InMemoryTableScan" in plan
    states.unpersist()


def test_grouping_sets_reject_duplicate_sets(spark):
    """A repeated grouping set — in any column order — would share one
    grouping_id and merge every cell twice; it must raise instead."""
    from puddsketch_spark.spark.agg import rollup_grouping_sets

    states = spark.createDataFrame(
        [("user", "code", b"")], "role string, tool string, state binary")
    for sets in ([("role",), ("role",)], [("role", "tool"), ("tool", "role")],
                 [(), ("role",), ()]):
        with pytest.raises(ValueError, match="duplicate grouping set"):
            rollup_grouping_sets(states, sets, UDDSketch.from_bytes)


def test_fused_jvm_quantile_table_bit_parity(spark):
    """udds_quantile_table_jvm (one fused Python stage) must reproduce
    sketch_grouped_jvm + quantile_table(extra_cols=['n']) bit-for-bit —
    the r7 gate queries ride the fused path. Covers m=0 and a collapsing
    m=8 bound, with zero/negative/NaN/NULL values and a NULL group key in
    the mix."""
    from puddsketch_spark.spark.agg import (
        quantile_table,
        sketch_grouped_jvm,
        udds_quantile_table_jvm,
    )

    rows = []
    for i in range(2000):
        rows.append(("g%d" % (i % 3), float(i % 97) * 1.37 - 5.0))
    rows += [("g0", 0.0), ("g1", float("nan")), ("g2", None), (None, 4.2)]
    df = spark.createDataFrame(rows, "grp string, v double")
    qs = [0.5, 0.9, 0.99]
    for m in (0, 8):
        fused = {
            (r.grp, r.q): (r.est, r.n)
            for r in udds_quantile_table_jvm(df, "v", ["grp"], qs, 0.01, m).collect()
        }
        merged = sketch_grouped_jvm(df, "v", ["grp"], 0.01, m)
        two_stage = {
            (r.grp, r.q): (r.est, r.n)
            for r in quantile_table(merged, ["grp"], qs, UDDSketch.from_bytes,
                                    extra_cols=["n"]).collect()
        }
        assert fused == two_stage, m
        assert {g for g, _ in fused} == {"g0", "g1", "g2", None}


def test_multi_feature_equals_per_feature(spark):
    """udds_quantiles_multi stacks its features under an int index and
    names them on the output rows: each feature's rows equal a
    per-feature fill row for row, n included, grouped (NULL group key,
    NULL and NaN values, a feature with no value in one group) and
    global, at m=0 and a collapsing m=8."""
    from puddsketch_spark.spark.agg import (
        udds_quantile_table_jvm,
        udds_quantiles_multi,
        udds_sketch_global_jvm,
    )

    rows = [("g%d" % (i % 3), float(i % 97) * 1.37 - 5.0, i % 41,
             None if i % 3 == 2 else float(i))
            for i in range(1500)]
    rows += [("g0", float("nan"), None, float("nan")), ("g1", None, 0, None),
             (None, 4.2, 7, 2.0), (None, None, None, None)]
    df = spark.createDataFrame(rows, "grp string, x double, k int, y double")
    feats, qs = ["x", "k", "y"], [0.01, 0.5, 0.99]
    for m in (0, 8):
        multi = udds_quantiles_multi(df, feats, ["grp"], qs, 0.01, m)
        assert multi.columns == ["feature", "grp", "q", "est", "n"]
        got = sorted(map(tuple, multi.collect()), key=repr)
        want = sorted(((c, *r) for c in feats for r in udds_quantile_table_jvm(
            df, c, ["grp"], qs, 0.01, m).collect()), key=repr)
        assert got == want, m
        assert ("y", "g2") not in {(r[0], r[1]) for r in got}
        per_q = {(c, r.grp, r.q): r.est for c in feats
                 for r in udds_quantiles(df, c, ["grp"], qs, 0.01, m).collect()}
        assert {(f, g, q): e for f, g, q, e, _ in got} == per_q

        glob = udds_quantiles_multi(df, feats, (), qs, 0.01, m)
        assert glob.columns == ["feature", "q", "est", "n"]
        want = sorted(
            (c, r.q, r.est, udds_sketch_global_jvm(df, c, 0.01, m).count)
            for c in feats for r in udds_quantiles(df, c, (), qs, 0.01, m).collect())
        assert sorted(map(tuple, glob.collect())) == want, m


# ------------------------------------------------------- key-run stage
def _groups(rows, key_cols, val=None):
    """Multiset of (repr(key...), value) — repr keeps NaN, -0.0 and None
    distinct and comparable."""
    return sorted((tuple(repr(r[c]) for c in key_cols), None if val is None else r[val])
                  for r in rows)


def test_float_group_keys_match_groupby(spark):
    """A DOUBLE key holding 0.0, -0.0, NaN and NULL groups as groupBy groups
    it: 0.0 and -0.0 merge, NaN stays a NaN group (not a second NULL
    group), NULL is its own group — for merge_grouped, udds_quantiles and
    dd_quantiles alike."""
    from puddsketch_spark.spark.sketches import dd_quantiles

    rows = [(0.0, 1.0), (-0.0, 2.0), (float("nan"), 3.0), (None, 4.0),
            (float("nan"), 5.0), (1.5, 6.0), (-0.0, 7.0)]
    df = spark.createDataFrame(rows, "g double, v double").repartition(3)
    want = _groups(df.groupBy("g").agg(F.count("v").alias("n")).collect(), ["g"], "n")
    assert len(want) == 4
    merged = sketch_grouped(df, "v", ["g"], lambda: UDDSketch(m=0))
    assert _groups(merged.collect(), ["g"], "n") == want
    keys = [(k, None) for k, _ in want]
    assert _groups(udds_quantiles(df, "v", ["g"], [0.5]).collect(), ["g"]) == keys
    assert _groups(dd_quantiles(df, "v", ["g"], [0.5]).collect(), ["g"]) == keys


@pytest.fixture
def small_batches(spark):
    """Arrow batches of 3 rows, so most groups straddle batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, prev)


def _straddle_results(df):
    from puddsketch_spark.spark.sketches import kll_quantiles

    merged = sketch_grouped(df, "v", ["g"], lambda: UDDSketch(initial_alpha=0.01, m=0))
    return (
        sorted((r.g, bytes(r.state), r.n, r.num_partials) for r in merged.collect()),
        sorted(map(tuple, udds_quantiles(df, "v", ["g"], [0.1, 0.5, 0.9]).collect())),
        sorted(map(tuple, kll_quantiles(df, "v", ["g"], [0.1, 0.5, 0.9]).collect())),
    )


def test_key_runs_straddle_arrow_batches(spark, request):
    """Groups spread over several partials and bucket rows give the same
    states and estimates when every Arrow batch holds 3 rows. KLL sees at
    most k values per group, so it is exact and order-free too."""
    rng = np.random.default_rng(3)
    rows = [(int(g), float(v)) for g in range(40) for v in rng.lognormal(3, 1, 60)]
    df = spark.createDataFrame(rows, "g int, v double").repartition(8)
    want = _straddle_results(df)
    request.getfixturevalue("small_batches")
    got = _straddle_results(df)
    assert all(len(w) >= 40 for w in want)
    assert got == want


def test_key_runs_multi_column_keys_in_any_order(spark):
    """group_cols listed in the reverse of the table's column order: every
    key value comes out under its own column, for the state table and the
    fused quantile finalize."""
    from puddsketch_spark.spark.sketches import kll_quantiles

    rows = [(f"b{i % 3}", i % 5, float(i + 1)) for i in range(90)]
    df = spark.createDataFrame(rows, "b string, a int, v double")
    want = {(r.a, r.b): r["count"] for r in df.groupBy("a", "b").count().collect()}
    merged = sketch_grouped(df, "v", ["a", "b"], lambda: UDDSketch(m=0))
    assert merged.columns[:2] == ["a", "b"]
    assert {(r.a, r.b): r.n for r in merged.collect()} == want
    for api in (udds_quantiles, kll_quantiles):
        got = {(r.a, r.b) for r in api(df, "v", ["a", "b"], [0.5]).collect()}
        assert got == set(want), api.__name__


def test_key_runs_null_keys_and_more_groups_than_partitions(spark):
    """NULL string and bigint keys (ids above 2^53 too) each form one group,
    and 60 groups over spark.sql.shuffle.partitions=8 all come out once."""
    from puddsketch_spark.spark.sketches import hll_distinct, tdigest_quantiles

    big = (1 << 53) + 1
    rows = [(None if i % 7 == 0 else f"s{i % 4}",
             None if i % 11 == 0 else big + i % 15, float(i)) for i in range(600)]
    df = spark.createDataFrame(rows, "s string, k bigint, v double").repartition(5)
    want = {(r.s, r.k): r["count"] for r in df.groupBy("s", "k").count().collect()}
    assert len(want) > int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert (None, None) in want
    merged = sketch_grouped(df, "v", ["s", "k"], lambda: UDDSketch(m=0))
    got = [(r.s, r.k, r.n) for r in merged.collect()]
    assert len(got) == len(want)
    assert {(s, k): n for s, k, n in got} == want
    assert {(r.s, r.k) for r in hll_distinct(df, "v", ["s", "k"]).collect()} == set(want)
    td = tdigest_quantiles(df, "v", ["s", "k"], [0.5, 0.9]).collect()
    assert len(td) == 2 * len(want)


def test_key_runs_empty_input(spark):
    """Empty input: every grouped key-run API gives zero rows and raises
    nothing."""
    from puddsketch_spark.spark.agg import merge_grouped, sketch_grouped_jvm
    from puddsketch_spark.spark.sketches import (
        dd_quantiles, heavy_hitters_grouped, hll_distinct, kll_quantiles,
        tdigest_quantiles)

    df = spark.createDataFrame([("a", 1.0)], "g string, v double").where("v < 0")
    parts = partial_sketches(df, "v", ["g"], UDDSketch)
    outs = [
        merge_grouped(parts, ["g"], UDDSketch.from_bytes),
        sketch_grouped_jvm(df, "v", ["g"], 0.01, 200),
        udds_quantiles(df, "v", ["g"]),
        dd_quantiles(df, "v", ["g"]),
        kll_quantiles(df, "v", ["g"]),
        tdigest_quantiles(df, "v", ["g"]),
        hll_distinct(df, "v", ["g"]),
        heavy_hitters_grouped(df, "v", ["g"]),
    ]
    assert [o.collect() for o in outs] == [[]] * len(outs)
