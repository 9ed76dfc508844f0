"""Tuned SparkSession builder.

Local-mode defaults sized for the test container (local[N], one JVM);
the same config keys are the ones you would set on a real cluster —
AQE handles runtime re-planning (skew joins, partition coalescing) at
any scale.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

from . import artifacts


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
    spark.sparkContext.addPyFile(package_zip())
    spark._uvdb_pkg_shipped = True


def package_zip() -> str:
    """A zip of this package's .py files, named by md5 of their sorted
    (relpath, size, mtime_ns): processes on one source tree share it,
    and an edited tree never ships an older zip. Workers put pyFiles
    ahead of PYTHONPATH, so a stale zip would shadow the source. The
    zip is written under a pid-suffixed name and published by
    os.replace, so a reader never sees a partial file."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    srcs = [f for f in artifacts.fingerprint(pkg_dir)
            if f[0].endswith(".py")]
    key = hashlib.md5(repr(srcs).encode()).hexdigest()
    zpath = os.path.join(tempfile.gettempdir(), f"uvdb_pkg_{key}.zip")
    if not os.path.exists(zpath):
        part = f"{zpath}.{os.getpid()}"
        with zipfile.ZipFile(part, "w") as zf:
            for rel, _size, _mtime in srcs:
                zf.write(os.path.join(pkg_dir, rel),
                         os.path.join(pkg_name, rel))
        os.replace(part, zpath)
    return zpath


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
