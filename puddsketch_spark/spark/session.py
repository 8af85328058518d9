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
        # bigger Arrow batches amortize the JVM<->Python hop for the UDAFs;
        # measured on the 50M-turn fill: 256k ~9% faster than 64k. But the
        # setting is session-global and 256k quadruples per-batch worker
        # memory for WIDE rows (a dim-768 embedding batch would be ~800 MB),
        # so the default stays 64k; narrow-row fill jobs opt into 256k via
        # extra_conf (scripts/scaling.py does)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # let FINAL aggregations use the generated fast hash map too (Spark
        # defaults it to partial-only); the sketch fill's final agg keys are
        # bounded (groups x buckets), and the fast map falls back gracefully
        # when they aren't — measured ~7% on the 50M-turn JVM fill (median
        # of 3 alternating A/B pairs, pinned 8 cores)
        .config("spark.sql.codegen.aggregate.map.twolevel.partialOnly", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        # Scan split sizing is layout-dependent, so it is parameterised
        # (guide §6.1). The local default (16m) matches the benchmark
        # fixtures: single parquet files with ~20 MB row groups, where the
        # stock 128m packs a whole 130 MB table into 1-2 splits and
        # serializes every downstream map stage on a 32-core machine. On a
        # production cluster reading TB-scale tables of 128 MB+ row groups,
        # set SPARK_GRAFT_MAX_PARTITION_BYTES=512m-1g instead: there the
        # bottleneck is per-task overhead, not split granularity (§2.2).
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
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
