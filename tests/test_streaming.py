"""Structured Streaming sketch operator: incremental state across micro-batches
equals the batch result, via the rate-free memory-source test pattern."""

import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from puddsketch_spark.core import UDDSketch
from puddsketch_spark.streaming import streaming_udds_quantiles


def test_streaming_matches_batch(spark, tmp_path):
    # two micro-batches of transcript-ish rows into a file stream
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rng = np.random.default_rng(0)
    rows1 = [("user" if i % 2 else "assistant", float(v))
             for i, v in enumerate(rng.uniform(1, 1000, 4000))]
    rows2 = [("user" if i % 3 else "assistant", float(v))
             for i, v in enumerate(rng.uniform(1, 1000, 4000))]
    spark.createDataFrame(rows1, "role string, text_len double").coalesce(1).write.mode(
        "overwrite").parquet(src)

    stream = spark.readStream.schema("role string, text_len double").parquet(src)
    out = streaming_udds_quantiles(stream, "text_len", ["role"], qs=[0.5, 0.99],
                                   alpha=0.01, m=200)
    q = (out.writeStream.format("memory").queryName("sketch_out")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, "role string, text_len double").coalesce(1).write.mode(
            "append").parquet(src)
        q.processAllAvailable()
        res = {r.role: r for r in spark.sql(
            "select * from sketch_out").orderBy(F.desc("n")).dropDuplicates(["role"]).collect()}
    finally:
        q.stop()

    # batch oracle over ALL rows with the same kernel
    all_rows = rows1 + rows2
    for role in ("user", "assistant"):
        vals = np.array([v for r, v in all_rows if r == role])
        sk = UDDSketch(initial_alpha=0.01, m=200).update(vals)
        got = res[role]
        assert got.n == len(vals)
        assert got.p0_5 == pytest.approx(sk.quantile(0.5))
        assert got.p0_99 == pytest.approx(sk.quantile(0.99))


def test_update_fn_standalone_state_roundtrip():
    """The state-update closure is pure enough to unit-test without a stream."""
    from puddsketch_spark.streaming import udds_state_update

    import pandas as pd

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    fn = udds_state_update(["role"], "text_len", [0.5], alpha=0.01, m=200)
    st = FakeState()
    rng = np.random.default_rng(1)
    out1 = list(fn(("user",), iter([pd.DataFrame({"text_len": rng.uniform(1, 100, 1000)})]), st))
    assert out1[0]["n"].iloc[0] == 1000
    out2 = list(fn(("user",), iter([pd.DataFrame({"text_len": rng.uniform(1, 100, 500)})]), st))
    assert out2[0]["n"].iloc[0] == 1500  # state carried across invocations


def test_streaming_generic_hll(spark, tmp_path):
    """HLL distinct-count through the generic streaming operator."""
    from pyspark.sql.types import LongType, StructField, StructType

    from puddsketch_spark.core import HLLSketch
    from puddsketch_spark.streaming import streaming_sketch

    src = str(tmp_path / "hsrc")
    ckpt = str(tmp_path / "hckpt")
    rows1 = [("user", f"conv{i % 300}") for i in range(3000)]
    rows2 = [("user", f"conv{i % 500}") for i in range(3000)]
    spark.createDataFrame(rows1, "role string, conv_id string").coalesce(1).write.mode(
        "overwrite").parquet(src)
    stream = spark.readStream.schema("role string, conv_id string").parquet(src)
    out = streaming_sketch(
        stream, "conv_id", ["role"],
        factory=lambda: HLLSketch(p=12), from_bytes=HLLSketch.from_bytes,
        finalize=lambda sk: (int(round(sk.estimate())),),
        finalize_schema=StructType([StructField("distinct_est", LongType(), False)]),
    )
    q = (out.writeStream.format("memory").queryName("hll_out")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        est1 = spark.sql("select max(distinct_est) from hll_out").first()[0]
        spark.createDataFrame(rows2, "role string, conv_id string").coalesce(1).write.mode(
            "append").parquet(src)
        q.processAllAvailable()
        est2 = spark.sql("select max(distinct_est) from hll_out").first()[0]
    finally:
        q.stop()
    assert abs(est1 - 300) / 300 <= 0.05
    assert abs(est2 - 500) / 500 <= 0.05  # state accumulated across batches


def test_event_time_window_late_data_and_eviction(spark, tmp_path):
    """Late rows (arriving a micro-batch later, still within the watermark)
    must merge into their EVENT-time window's sketch; rows later than the
    watermark are dropped by Spark; once the watermark passes a window's
    lateness horizon its final row is emitted and its state evicted."""
    from datetime import datetime

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from puddsketch_spark.streaming import streaming_sketch_windowed

    src = str(tmp_path / "wsrc")
    ckpt = str(tmp_path / "wckpt")
    t0 = datetime(2026, 1, 1, 12, 0, 0)

    def ts(minute, sec=0):
        return t0.replace(hour=12 + minute // 60, minute=minute % 60, second=sec)

    schema = "role string, text_len double, ts timestamp"
    # batch 1: window A (12:00-12:10) and window B (12:10-12:20); the max
    # event time 12:10:00 puts the watermark at 12:00:00 (delay 600s)
    rows1 = [("user", float(v), ts(0, v % 60)) for v in range(1, 201)] + [
        ("user", float(v), ts(10, 0)) for v in range(1, 101)
    ]
    # batch 2: LATE rows for window A (event time 12:02, after the 12:00
    # watermark -> kept and routed to A) + window C rows (12:20)
    rows2 = [("user", 1000.0 + v, ts(2, v % 60)) for v in range(300)] + [
        ("user", float(v), ts(20, 0)) for v in range(50)
    ]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_sketch_windowed(
        stream, "text_len", ["role"],
        factory=lambda: UDDSketch(initial_alpha=0.01, m=200),
        from_bytes=UDDSketch.from_bytes,
        finalize=lambda sk: (sk.count, float(sk.quantile(0.99))),
        finalize_schema=StructType([
            StructField("n", LongType(), False),
            StructField("p99", DoubleType(), False),
        ]),
        ts_col="ts", window_seconds=600, watermark_seconds=600,
    )
    q = (out.writeStream.format("memory").queryName("win_out")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        latest = {
            (r.window_start.minute, r.role): r
            for r in spark.sql("select * from win_out").orderBy("n").collect()
        }
        # window A absorbed its 300 late rows: 200 + 300
        a = latest[(0, "user")]
        assert a.n == 500
        # late values (1000+) dominate window A's upper tail
        assert a.p99 > 1000
        # batches 3+4: event time far ahead -> the watermark passes every old
        # window's horizon (window_end + 600s) -> final rows + state eviction
        # (timeouts fire while processing the NEXT batch after the watermark
        # advances, hence two pushes)
        for minute in (59, 70):
            spark.createDataFrame([("user", 1.0, ts(minute, 0))], schema).coalesce(
                1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finals = {
            r.window_start.minute: r.n
            for r in spark.sql("select * from win_out where final").collect()
        }
        assert finals.get(0) == 500  # window A finalized WITH the late rows
        assert finals.get(10) == 100
        n_state = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        assert n_state <= 2  # only the newest windows remain in-flight
    finally:
        q.stop()


@pytest.mark.parametrize("mode", ["exact", "bloom"])
def test_streaming_dedup_first_occurrence_and_restart(spark, tmp_path, mode):
    """Streaming exact-content dedup: only first occurrences are emitted,
    across micro-batches AND across a query restart (the digest state lives
    in the checkpointed state store)."""
    from puddsketch_spark.streaming import streaming_dedup

    src = str(tmp_path / f"dsrc_{mode}")
    ckpt = str(tmp_path / f"dckpt_{mode}")
    sink = str(tmp_path / f"dsink_{mode}")
    rows1 = [(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc"), (4, "gamma doc")]
    rows2 = [(5, "beta doc"), (6, "delta doc"), (7, "delta doc")]
    rows3 = [(8, "alpha doc"), (9, "epsilon doc")]  # after restart
    schema = "doc_id long, text string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)

    def start():
        # parquet sink: the memory sink cannot recover from a checkpoint,
        # and restart-safety is exactly what this test proves
        stream = spark.readStream.schema(schema).parquet(src)
        out = streaming_dedup(stream, "text", "doc_id", n_buckets=8, mode=mode)
        return (out.writeStream.format("parquet").option("path", sink)
                .outputMode("append").option("checkpointLocation", ckpt).start())

    q = start()
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    # restart the query from the checkpoint and feed more data
    q = start()
    try:
        spark.createDataFrame(rows3, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        got = {r.doc_id: r.text for r in
               spark.read.parquet(sink).select("doc_id", "text").collect()}
    finally:
        q.stop()
    # first occurrence of each distinct content, nothing else — including
    # across the restart (doc 8 duplicates content first seen in batch 1)
    assert got == {1: "alpha doc", 2: "beta doc", 4: "gamma doc",
                   6: "delta doc", 9: "epsilon doc"}


def test_streaming_states_feed_batch_rollup(spark, tmp_path):
    """Streaming and batch share ONE state format: a streaming_sketch
    finalize that emits the raw kernel blob produces a state table that
    batch rollup_states merges to the global sketch — bucket-identical to
    sketching all the streamed rows in batch (m=0, no collapse). This is
    the lambda-architecture contract: stream per-group states continuously,
    roll them up offline for any coarser figure."""
    from puddsketch_spark.spark.agg import rollup_states
    from puddsketch_spark.streaming.sketch_stream import streaming_sketch
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    rng = np.random.default_rng(5)
    rows = [("user" if i % 2 else "assistant", float(v))
            for i, v in enumerate(rng.uniform(1, 1000, 6000))]
    spark.createDataFrame(rows, "role string, text_len double").coalesce(2).write.mode(
        "overwrite").parquet(src)

    stream = spark.readStream.schema("role string, text_len double").parquet(src)
    out = streaming_sketch(
        stream, "text_len", ["role"],
        factory=lambda: UDDSketch(initial_alpha=0.01, m=0),
        from_bytes=UDDSketch.from_bytes,
        finalize=lambda sk: (sk.to_bytes(), sk.count),
        finalize_schema=StructType([
            StructField("state", BinaryType(), False),
            StructField("n", LongType(), False),
        ]),
    )
    q = (out.writeStream.format("memory").queryName("state_out")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # latest state per group (update mode re-emits per trigger)
        states = (spark.sql("select * from state_out")
                  .orderBy(F.desc("n")).dropDuplicates(["role"]))
        g = rollup_states(states, (), UDDSketch.from_bytes)
    finally:
        q.stop()

    batch = UDDSketch(initial_alpha=0.01, m=0).update(
        np.array([v for _, v in rows]))
    assert g.same_buckets(batch)
    assert g.count == len(rows)


def test_streaming_states_feed_grouping_sets_cube(spark, tmp_path):
    """Lambda architecture, cube edition: the stream maintains only the
    FINEST grouping's states (role, tool); batch derives the full
    CUBE(role, tool) from those streamed states by sketch merges — no
    raw-data rescan — and every cube cell is bucket-identical (m=0) to a
    direct fill on that cell's slice of the streamed rows. A data-NULL
    tool value is planted so the test also proves grouping_id keeps
    rollup NULLs separable from data NULLs across the stream/batch
    boundary."""
    from puddsketch_spark.spark.agg import rollup_cube
    from puddsketch_spark.streaming.sketch_stream import streaming_sketch
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    src = str(tmp_path / "gs_src")
    ckpt = str(tmp_path / "gs_ckpt")
    rng = np.random.default_rng(11)
    roles = ["user", "assistant"]
    tools = ["search", "code", None]  # None = data NULL, not rollup NULL
    rows = [(roles[i % 2], tools[i % 3], float(v))
            for i, v in enumerate(rng.uniform(1, 1000, 6000))]
    schema_str = "role string, tool string, text_len double"
    spark.createDataFrame(rows[:3000], schema_str).coalesce(2).write.mode(
        "overwrite").parquet(src)

    stream = spark.readStream.schema(schema_str).parquet(src)
    out = streaming_sketch(
        stream, "text_len", ["role", "tool"],
        factory=lambda: UDDSketch(initial_alpha=0.01, m=0),
        from_bytes=UDDSketch.from_bytes,
        finalize=lambda sk: (sk.to_bytes(), sk.count),
        finalize_schema=StructType([
            StructField("state", BinaryType(), False),
            StructField("n", LongType(), False),
        ]),
    )
    q = (out.writeStream.format("memory").queryName("gs_state_out")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # second micro-batch: the stream's state must keep accumulating
        spark.createDataFrame(rows[3000:], schema_str).coalesce(2).write.mode(
            "append").parquet(src)
        q.processAllAvailable()
        finest = (spark.sql("select * from gs_state_out")
                  .orderBy(F.desc("n"))
                  .dropDuplicates(["role", "tool"]))
        cube = rollup_cube(finest, ["role", "tool"], UDDSketch.from_bytes)
        got = cube.collect()
    finally:
        q.stop()

    # 2 roles x 3 tools(+NULL) cells, 2 role subtotals, 3 tool subtotals,
    # 1 grand total
    assert len(got) == 6 + 2 + 3 + 1
    for r in got:
        keep_role = not (r.grouping_id & 0b10)
        keep_tool = not (r.grouping_id & 0b01)
        slice_vals = [v for role, tool, v in rows
                      if (not keep_role or role == r.role)
                      and (not keep_tool or tool == r.tool)]
        direct = UDDSketch(initial_alpha=0.01, m=0).update(
            np.array(slice_vals))
        cell = UDDSketch.from_bytes(r.state)
        assert cell.count == len(slice_vals) > 0
        assert cell.same_buckets(direct)
    # the data-NULL tool cell (grouping_id 0) and the tool subtotal for
    # role=NULL-by-rollup (grouping_id 2) coexist and differ in count
    data_null = [r for r in got if r.grouping_id == 0 and r.tool is None]
    rolled = [r for r in got if r.grouping_id == 0b01]
    assert len(data_null) == 2 and len(rolled) == 2
    assert all(dn.n * 3 == ro.n for dn, ro in
               zip(sorted(data_null, key=lambda r: r.role),
                   sorted(rolled, key=lambda r: r.role)))


def test_sliding_windows_overlap_and_finalize(spark, tmp_path):
    """slide < window: each row lands in window/slide overlapping windows;
    every finalized sliding window's count matches a batch recount of its
    [start, start+window) range."""
    from datetime import datetime, timedelta

    from pyspark.sql.types import LongType, StructField, StructType

    from puddsketch_spark.streaming import streaming_sketch_windowed

    src = str(tmp_path / "slsrc")
    ckpt = str(tmp_path / "slckpt")
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    schema = "role string, text_len double, ts timestamp"
    rows = [
        ("user", float(v), t0 + timedelta(minutes=m, seconds=v % 50))
        for m in (0, 4, 7, 12) for v in range(1, 41)
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_sketch_windowed(
        stream, "text_len", ["role"],
        factory=lambda: UDDSketch(initial_alpha=0.01, m=0),
        from_bytes=UDDSketch.from_bytes,
        finalize=lambda sk: (sk.count,),
        finalize_schema=StructType([StructField("n", LongType(), False)]),
        ts_col="ts", window_seconds=600, watermark_seconds=60,
        slide_seconds=300,
    )
    q = (out.writeStream.format("memory").queryName("slide_out")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        for m in (60, 75):  # push the watermark past every real window
            spark.createDataFrame(
                [("user", 1.0, t0 + timedelta(minutes=m))], schema
            ).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        finals = {
            r.window_start: r.n
            for r in spark.sql(
                "select * from slide_out where final"
            ).collect()
            if r.window_start < t0 + timedelta(minutes=30)
        }
    finally:
        q.stop()
    # batch recount per sliding range
    batch = spark.createDataFrame(rows, schema)
    for start, n in finals.items():
        end = start + timedelta(seconds=600)
        expect = batch.where(
            (F.col("ts") >= start) & (F.col("ts") < end)
        ).count()
        assert n == expect, (start, n, expect)
    # minute-0 rows (12:00:00-12:00:50) belong to both the 11:55 and 12:00
    # windows -> those two finals overlap-count them
    assert len(finals) >= 4


def test_windowed_streaming_with_theta_kernel(spark, tmp_path):
    """The windowed streaming surface is kernel-generic: theta distinct
    counts per event-time window, late rows merged into their window."""
    from datetime import datetime, timedelta

    from pyspark.sql.types import LongType, StructField, StructType

    from puddsketch_spark.core import ThetaSketch
    from puddsketch_spark.streaming import streaming_sketch_windowed

    src = str(tmp_path / "thsrc")
    ckpt = str(tmp_path / "thckpt")
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    schema = "role string, uid double, ts timestamp"
    rows1 = [("u", float(v % 50), t0 + timedelta(seconds=v % 300)) for v in range(400)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = streaming_sketch_windowed(
        stream, "uid", ["role"],
        factory=lambda: ThetaSketch(k=256),
        from_bytes=ThetaSketch.from_bytes,
        finalize=lambda sk: (int(round(sk.estimate())),),
        finalize_schema=StructType([StructField("distinct_uids", LongType(), False)]),
        ts_col="ts", window_seconds=600, watermark_seconds=600,
    )
    q = (out.writeStream.format("memory").queryName("theta_win")
         .outputMode("update").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # late batch (within the 600s watermark): 25 NEW uids (50..74)
        rows2 = [("u", float(50 + v % 25), t0 + timedelta(seconds=200)) for v in range(50)]
        spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        latest = (spark.sql("select * from theta_win")
                  .orderBy("distinct_uids", ascending=False).first())
        assert latest.distinct_uids == 75  # 50 original + 25 late, deduped
    finally:
        q.stop()


def test_streaming_bigint_state_equals_python_api(spark, tmp_path):
    """A streamed HLL state over a BIGINT column is byte-equal to
    sketch_grouped's over the same parquet: both hash the column's int64
    bits. One group mixes ids above 2^53 with a NULL in the same
    micro-batch; pandas would have turned that column into float64."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from puddsketch_spark.core import HLLSketch
    from puddsketch_spark.spark.agg import sketch_grouped
    from puddsketch_spark.streaming import streaming_sketch

    src = str(tmp_path / "bsrc")
    big = 2**53
    rows = ([("clean", i) for i in range(1, 300)]
            + [("nulls", big + i) for i in range(1, 40)] + [("nulls", None)])
    spark.createDataFrame(rows, "g string, v long").coalesce(1).write.parquet(src)
    out = streaming_sketch(
        spark.readStream.schema("g string, v long").parquet(src), "v", ["g"],
        factory=lambda: HLLSketch(p=12), from_bytes=HLLSketch.from_bytes,
        finalize=lambda sk: (sk.to_bytes(),),
        finalize_schema=StructType([StructField("state", BinaryType(), False)]),
    )
    q = (out.writeStream.format("memory").queryName("bigint_hll_out")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "bckpt")).start())
    try:
        q.processAllAvailable()
        streamed = {r.g: bytes(r.state)
                    for r in spark.table("bigint_hll_out").collect()}
    finally:
        q.stop()
    api = {r.g: bytes(r.state) for r in sketch_grouped(
        spark.read.parquet(src), "v", ["g"], lambda: HLLSketch(p=12),
        HLLSketch.from_bytes).collect()}
    assert set(streamed) == {"clean", "nulls"}
    assert streamed == api
    # 39 ids that differ only below the float64 mantissa stay distinct
    assert round(HLLSketch.from_bytes(streamed["nulls"]).estimate()) == 39
