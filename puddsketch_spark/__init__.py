"""puddsketch_spark — PySpark-native distributed sketch / approximate-aggregation engine.

Mergeable, Arrow-vectorized sketch UDAFs (UDDSketch quantiles + HLL, count-min,
t-digest, KLL, REQ, Bloom, Misra-Gries) over transcript-shaped tables, plus
training-data pipeline operators (dedup, similarity search, text analysis).

Convenience re-exports: the kernels and the flagship aggregation APIs, all
resolved on first use. Importing the package loads neither numpy/pandas nor
Spark, so the local Python worker daemon (``spark.pydaemon``) stays light.
"""

__version__ = "0.1.0"

_CORE = {"BloomFilter", "CountMinSketch", "DDSketchPair", "HLLSketch",
         "KLLSketch", "MisraGries", "REQSketch", "TDigest", "UDDSketch"}


def __getattr__(name):
    # lazy: importing the package must not require a SparkSession/JVM
    if name in _CORE:
        from . import core

        return getattr(core, name)
    if name in {"udds_quantiles", "sketch_grouped", "sketch_global",
                "sketch_grouped_jvm", "quantile_table"}:
        from .spark import agg

        return getattr(agg, name)
    if name in {"hll_distinct", "tdigest_quantiles", "kll_quantiles",
                "cms_global", "bloom_global", "heavy_hitters_global",
                "heavy_hitters_grouped"}:
        from .spark import sketches

        return getattr(sketches, name)
    if name == "register_sql_functions":
        from .spark import sqlfns

        return sqlfns.register_sql_functions
    raise AttributeError(name)
