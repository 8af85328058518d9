"""get_spark's sizing: scan splits by Spark's own rule, not a cap tuned for
one core count; Arrow batches bounded by rows, with no per-row byte check."""

import pyarrow as pa
import pyspark.sql.functions as F


def test_get_spark_sets_no_max_partition_bytes(spark):
    key = "spark.sql.files.maxPartitionBytes"
    assert not spark.sparkContext.getConf().contains(key)
    # Spark's default, 128 MiB, so splits size to input bytes / parallelism
    assert spark.conf.get(key) == str(128 << 20) + "b"


def test_get_spark_arrow_batches_have_no_byte_cap(spark):
    # Int.MaxValue is the one value at which Spark skips sizing every row
    assert spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch") == "2147483647"
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "65536"


def test_row_cap_bounds_every_arrow_batch(spark):
    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})

    df = spark.range(0, 70_000, 1, 1).select((F.col("id") * 2).alias("v"))
    got = [r.n for r in df.mapInArrow(sizes, "n long").collect()]
    assert sum(got) == 70_000
    assert max(got) <= 65_536 and len(got) >= 2
