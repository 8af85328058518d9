"""get_spark's scan split sizing: Spark's own, not a cap tuned for one core
count."""


def test_get_spark_sets_no_max_partition_bytes(spark):
    key = "spark.sql.files.maxPartitionBytes"
    assert not spark.sparkContext.getConf().contains(key)
    # Spark's default, 128 MiB, so splits size to input bytes / parallelism
    assert spark.conf.get(key) == str(128 << 20) + "b"
