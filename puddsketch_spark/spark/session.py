"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

_PKG = "puddsketch_spark"


def _imports_pkg_from(search_path, pkg_root: str) -> bool:
    """True when the first entry of search_path that holds a puddsketch_spark
    is pkg_root: ``python -m`` there imports this package, not another
    checkout."""
    for d in search_path:
        if d and os.path.exists(os.path.join(d, _PKG)):
            return os.path.samefile(d, pkg_root)
    return False


def get_spark(
    app_name: str = "puddsketch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session. On a real cluster these come from spark-submit conf;
    locally we default to local[$SPARK_GRAFT_CPUS or *].

    Local sessions start their Python worker daemon as
    ``puddsketch_spark.spark.pydaemon``: stock ``pyspark.daemon`` plus a
    stat-checked ``zipimporter.invalidate_caches``. PySpark invalidates the
    import caches at the start of every Python task, and on CPython 3.11 that
    re-reads the whole directory of pyspark.zip and of the spark-core jar,
    55-100 ms per task on a 4-vCPU host; with the check an unchanged archive
    is not re-read, and after a worker's first task that set-up takes about
    0.1 ms. A grouped sketch call runs one or two Python stages, so this was
    about a fifth of a ``fill_unique_many`` op (perfbench). Non-local
    masters keep the stock daemon, since only a local master's workers get
    this package on their PYTHONPATH from here; so does a session whose
    working directory holds another checkout of the package, which
    ``python -m`` would import first.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    # Executor Python workers do NOT inherit driver-side sys.path edits, so
    # a package imported via sys.path.insert (not pip-installed) raises
    # ModuleNotFoundError inside every pandas UDF. Local-mode workers DO
    # inherit the env the JVM was launched with — exporting PYTHONPATH
    # before the session starts closes the gap. On a real cluster this is
    # spark-submit --py-files puddsketch_spark.zip (README); the env var is
    # set unconditionally because it is driver-local and harmless there.
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if pkg_root not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [pkg_root] + [p for p in parts if p])
    # the export above is captured when the FIRST JVM in this process
    # launches; with an already-active SparkContext (getOrCreate reuse)
    # workers keep their old env, so warn instead of failing later inside
    # a pandas UDF with ModuleNotFoundError (ADVICE r6). executorEnv
    # covers cluster-mode executors launched after this point.
    active = SparkSession.getActiveSession()
    if active is not None and pkg_root not in (
        active.sparkContext.environment.get("PYTHONPATH", "")
    ):
        import warnings

        warnings.warn(
            "get_spark: a SparkContext is already active; PYTHONPATH "
            f"({pkg_root}) cannot reach its existing Python workers — "
            "pandas UDFs may raise ModuleNotFoundError. Start the session "
            "via get_spark first, or ship the package with --py-files.",
            RuntimeWarning,
            stacklevel=2,
        )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The row cap is the only bound on an Arrow batch, so it is the
        # memory bound: bigger batches amortize the JVM<->Python hop
        # (measured on the 50M-turn fill: 256k ~9% faster than 64k), but the
        # setting is session-global and 256k quadruples per-batch worker
        # memory for WIDE rows (a dim-768 embedding batch would be ~800 MB),
        # so the default stays 64k; narrow-row fill jobs opt into 256k via
        # extra_conf (scripts/scaling.py does).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # No byte cap, as in Spark 3.5. Under any other value Spark 4.1's
        # BatchedPythonArrowInput calls ArrowWriter.sizeInBytes() once per
        # input row, and mapInArrow/mapInPandas wrap their input in a
        # struct, so every row walks the struct's children. 2^31 - 1
        # (Int.MaxValue) is the one value at which that check is skipped.
        # A pass-through mapInArrow task over one 341k-row, 4-column parquet
        # split (4-vCPU host, median of 6) took 111 ms of executor CPU with
        # the 64 MB default and 54 ms without the check; a Tungsten groupBy
        # scan task over the same split takes 14 ms.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(2**31 - 1))
        # let FINAL aggregations use the generated fast hash map too (Spark
        # defaults it to partial-only); the sketch fill's final agg keys are
        # bounded (groups x buckets), and the fast map falls back gracefully
        # when they aren't — measured ~7% on the 50M-turn JVM fill (median
        # of 3 alternating A/B pairs, pinned 8 cores)
        .config("spark.sql.codegen.aggregate.map.twolevel.partialOnly", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # Scan splits keep Spark's own sizing: min(maxPartitionBytes = 128m,
        # max(openCostInBytes, input bytes / default parallelism)), so a
        # scan yields about one split per core and runs in one wave. A fixed
        # cap tuned for one core count does not: 16m (set for 32 cores)
        # packed 8 x 4.7 MB parquet files into 4 splits, two waves on a
        # local[3] session. A job that needs a fixed split size sets
        # spark.sql.files.maxPartitionBytes through extra_conf.
        .config("spark.ui.enabled", "false")
        # belt-and-braces with the PYTHONPATH export above: executorEnv is
        # honored for executors launched on a real cluster, where the
        # driver-process env export has no effect (ADVICE r6)
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if (master == "local" or master.startswith("local[")) and _imports_pkg_from(
        [os.getcwd(), *os.environ["PYTHONPATH"].split(os.pathsep)], pkg_root
    ):
        # ours: skips the per-task re-read of pyspark.zip and the spark-core
        # jar (55-100 ms per Python task; see the docstring and pydaemon)
        b = b.config("spark.python.daemon.module", f"{_PKG}.spark.pydaemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
