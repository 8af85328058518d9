"""One hash domain on every fill surface: the SQL fill
(``register_sql_functions``), the Python-API fill (``sketch_grouped``),
the streaming state (``streaming_sketch``) and the checkpointed fill
(``checkpointed_sketch_grouped``, after its first write and after a
resume over an appended file) give byte-equal states for HLL, theta,
count-min, Bloom and Misra-Gries over {int, bigint, double, string} x
{groups with, without NULLs}, bigint ids above 2^53 included; UDD at m=0
is byte-equal between SQL, Python and the checkpoint."""

import json
import os

import numpy as np
import pytest

from puddsketch_spark.core import (
    BloomFilter,
    CountMinSketch,
    HLLSketch,
    MisraGries,
    ThetaSketch,
    UDDSketch,
)
from puddsketch_spark.spark.agg import sketch_grouped
from puddsketch_spark.spark.checkpoint import checkpointed_sketch_grouped
from puddsketch_spark.spark.sqlfns import register_sql_functions

# SQL name -> kernel class; the SQL registration defaults equal the
# kernels' constructor defaults
HASHERS = {
    "hll": HLLSketch,
    "theta": ThetaSketch,
    "cms": CountMinSketch,
    "bloom": BloomFilter,
    "mg": MisraGries,
}

BIG = 2**53
VALUES = {
    "int": [1, 2, 3, 40, 2**31 - 1],
    "bigint": [1, 2, BIG + 1, BIG + 3, 2**62 + 9],
    "double": [1.0, 2.0, 1e12, 2.5, 3.25],
    "string": ["a", "b", "conv9", "", "é"],
}


def _rows(values):
    """Two NULL-free groups and two NULL-bearing ones, overlapping keys."""
    rows = []
    for g, keys in (("clean_a", values[:3]), ("clean_b", values[1:]),
                    ("null_a", values[:4]), ("null_b", values[2:])):
        rows += [(g, v) for v in keys + keys[:2]]
        if g.startswith("null"):
            rows += [(g, None), (g, None)]
    return rows


@pytest.fixture(scope="module")
def par_sql(spark):
    register_sql_functions(spark, prefix="par_", m=0)


def _streamed_states(spark, path, schema, tmp_path, vtype):
    """All five hash/exact kernels as ONE streaming state per group (one
    streaming query per value type); returns {group: {family: blob}}."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    from puddsketch_spark.streaming import streaming_sketch

    names = list(HASHERS)

    class Bundle:
        value_family = "hash"  # MisraGries's "exact" takes the same input

        def __init__(self, parts=None):
            self.parts = parts or [HASHERS[n]() for n in names]

        def update(self, vals):
            for p in self.parts:
                p.update(vals)
            return self

        def to_bytes(self):
            return b"".join(len(b).to_bytes(8, "little") + b
                            for b in (p.to_bytes() for p in self.parts))

        @classmethod
        def from_bytes(cls, data):
            parts, off = [], 0
            for n in names:
                ln = int.from_bytes(data[off:off + 8], "little")
                parts.append(HASHERS[n].from_bytes(data[off + 8:off + 8 + ln]))
                off += 8 + ln
            return cls(parts)

    out = streaming_sketch(
        spark.readStream.schema(schema).parquet(path), "v", ["g"],
        factory=Bundle, from_bytes=Bundle.from_bytes,
        finalize=lambda sk: tuple(p.to_bytes() for p in sk.parts),
        finalize_schema=StructType(
            [StructField(n, BinaryType(), False) for n in names]),
    )
    qname = f"par_stream_{vtype}"
    q = (out.writeStream.format("memory").queryName(qname)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / f"ckpt_{vtype}"))
         .start())
    try:
        q.processAllAvailable()
        got = spark.table(qname).collect()
    finally:
        q.stop()
    assert len(got) == 4  # one micro-batch: one row per group
    return {r.g: {n: bytes(r[n]) for n in names} for r in got}


@pytest.mark.parametrize("vtype", list(VALUES))
def test_fill_surfaces_byte_equal(spark, par_sql, tmp_path, vtype):
    schema = f"g string, v {vtype}"
    path = str(tmp_path / vtype)
    spark.createDataFrame(_rows(VALUES[vtype]), schema).coalesce(1)\
        .write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    df.createOrReplaceTempView(f"par_{vtype}")

    udds = vtype != "string"
    sql_cols = ", ".join(f"par_{n}_sketch(v) AS {n}" for n in HASHERS)
    if udds:
        sql_cols += ", par_udds_sketch(v) AS udds"
    sql = {r.g: r for r in spark.sql(
        f"SELECT g, {sql_cols} FROM par_{vtype} GROUP BY g").collect()}
    streamed = _streamed_states(spark, path, schema, tmp_path, vtype)
    assert set(sql) == set(streamed) == {"clean_a", "clean_b", "null_a", "null_b"}

    for n, kernel in HASHERS.items():
        api = {r.g: bytes(r.state) for r in sketch_grouped(
            df, "v", ["g"], kernel, kernel.from_bytes).collect()}
        for g in sql:
            assert bytes(sql[g][n]) == api[g] == streamed[g][n], (n, g)
    if udds:
        api = {r.g: bytes(r.state) for r in sketch_grouped(
            df, "v", ["g"], lambda: UDDSketch(initial_alpha=0.01, m=0),
            UDDSketch.from_bytes).collect()}
        for g in sql:
            assert bytes(sql[g].udds) == api[g], ("udds", g)

    # the states count what the rows hold: NULLs dropped, keys exact
    mg = MisraGries.from_bytes(bytes(sql["null_a"].mg))
    assert mg.counters == {
        v: (2 if i < 2 else 1) for i, v in enumerate(VALUES[vtype][:4])}
    assert all(type(k) is type(VALUES[vtype][0]) for k in mg.counters)


@pytest.mark.parametrize("vtype", list(VALUES))
def test_checkpoint_state_byte_equal(spark, tmp_path, vtype):
    """The checkpointed fill's states equal sketch_grouped's over the same
    files: after the write over one file, and after the resume that
    fills only a second, appended file and merges two partials per
    group."""
    schema = f"g string, v {vtype}"
    src = str(tmp_path / "src")
    kernels = dict(HASHERS)
    if vtype != "string":
        kernels["udds"] = lambda: UDDSketch(initial_alpha=0.01, m=0)

    for values in (VALUES[vtype], VALUES[vtype][::-1]):
        spark.createDataFrame(_rows(values), schema).coalesce(1)\
            .write.mode("append").parquet(src)
        df = spark.read.parquet(src)
        for n, factory in kernels.items():
            fb = (UDDSketch if n == "udds" else HASHERS[n]).from_bytes
            ckpt = {r.g: bytes(r.state) for r in checkpointed_sketch_grouped(
                spark, df, "v", ["g"], str(tmp_path / n), factory, fb).collect()}
            api = {r.g: bytes(r.state)
                   for r in sketch_grouped(df, "v", ["g"], factory, fb).collect()}
            assert set(ckpt) == {"clean_a", "clean_b", "null_a", "null_b"}
            assert ckpt == api, n
    for n in kernels:
        with open(os.path.join(tmp_path, n, "_sketch_manifest.json")) as f:
            manifest = json.load(f)
        # a write over the first file, then a resume over the second alone
        assert [len(r["scanned"]) for r in manifest["runs"]] == [1, 1], n
