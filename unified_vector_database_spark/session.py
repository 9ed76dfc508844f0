"""Tuned SparkSession builder.

Local-mode defaults sized for the test container (local[N], one JVM);
the same config keys are the ones you would set on a real cluster —
AQE handles runtime re-planning (skew joins, partition coalescing) at
any scale.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Module-level functions referenced by mapInPandas kernels pickle BY
    REFERENCE (cloudpickle only inlines closures), so workers must be
    able to `import unified_vector_database_spark` — true under pytest
    (cwd on the path) but NOT when an external driver runs from an
    arbitrary cwd. addPyFile ships a zip of the package to every
    executor; on a real cluster this is exactly how the package would
    deploy (--py-files)."""
    if getattr(spark, "_uvdb_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(),
                         f"uvdb_pkg_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    arc = os.path.join(pkg_name,
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, arc)
    spark.sparkContext.addPyFile(zpath)
    spark._uvdb_pkg_shipped = True


def _half_host_memory() -> str:
    """Half of physical memory, capped at 90g: a bigger heap lets the
    driver JVM grow past what the host can give one process."""
    half = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2
    return f"{min(half >> 20, 90 << 10)}m"


def get_spark(app: str = "unified_vector_database_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Preloading worker daemon: forked workers inherit pandas/
        # numpy/pyarrow + the package modules copy-on-write instead of
        # each fresh worker paying ~2-4 s of imports (32 simultaneous
        # cold imports measured as 9-24 s stalls on the first Arrow
        # kernel stage after a pool flush — see daemon.py). The daemon
        # needs the package importable at daemon START (before
        # pyFiles are registered), hence executorEnv.PYTHONPATH; on a
        # real cluster the package is pip-installed on executors and
        # only the daemon.module conf is needed.
        .config("spark.python.daemon.module",
                "unified_vector_database_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", pkg_parent)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _half_host_memory()))
        .config("spark.ui.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS) which vanilla Spark
        # rejects; read as long and convert (tables.load_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tunings to an externally provided session
    (the correctness driver passes its own SparkSession)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # removed in newer Sparks (4.1 reads nanos as NTZ natively)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # AQE coalesces batch shuffles at runtime, but STREAMING state
    # partitioning is pinned at the first micro-batch from this conf —
    # the vanilla default (200) would give the stateful operators 200
    # near-empty state tasks per batch on local[32]
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(spark.sparkContext.defaultParallelism))
    _ship_package(spark)
    return spark
