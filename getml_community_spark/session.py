"""SparkSession factory tuned for the rollup engine.

Scale posture (100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- Arrow on: every pandas UDF (Gorilla kernels, gap-fill fallback) moves
  data in vectorized Arrow batches, never per-row Python.
- ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a
  real cluster AQE coalesces from a deliberately-high initial number.
- Iceberg: when the runtime jar is on the classpath (real cluster via
  ``spark-submit --packages org.apache.iceberg:iceberg-spark-runtime``)
  we register a hadoop catalog so rollup outputs are Iceberg tables
  with hidden partitioning (days(event_time), bucket(source)).  The
  sandbox has no Iceberg jar, so the engine falls back to the
  snapshot-manifest parquet layer in :mod:`checkpoint` which gives the
  same snapshot/resume semantics.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "stop_spark", "barrier"]


def _iceberg_available() -> bool:
    import glob

    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return bool(glob.glob(os.path.join(jars, "iceberg-spark-runtime*.jar")))


def get_spark(
    app_name: str = "getml_community_spark",
    master: str | None = None,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    warehouse: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``cores`` only matters for ``local[n]`` masters; on a real cluster
    pass ``master=None`` and let spark-submit decide.
    """
    if master is None:
        cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        master = f"local[{cores}]"

    # Make this package importable on executor workers. Local mode: put
    # the repo root on PYTHONPATH before the JVM forks workers. On a
    # real cluster use scripts/submit.sh (spark-submit --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )
    if shuffle_partitions is None:
        n = cores or os.cpu_count() or 8
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # reference semantics are non-ANSI: x/0 → NULL (engine: NaN),
        # never a runtime error (Aggregations.hpp NaN conventions)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # ContextCleaner frees dropped localCheckpoint/persist blocks
        # only after a FULL JVM GC notices the dead RDD references; the
        # default 30min forced-GC interval lets a long query session
        # (e.g. the 47-query bench loop, 3 plans per query, several
        # checkpoint barriers each) accumulate gigabytes of orphaned
        # storage blocks — measured as monotonic per-rep slowdown.
        # 3min bounds the leak to a couple of plans' worth. barrier()
        # below is the package's only producer of localCheckpoint blocks.
        .config("spark.cleaner.periodicGC.interval", "3min")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if _iceberg_available():
        wh = warehouse or os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/getml_spark_warehouse"
        )
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.rollup", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.rollup.type", "hadoop")
            .config("spark.sql.catalog.rollup.warehouse", wh)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def barrier(df: DataFrame, *, eager: bool) -> DataFrame:
    """Cut ``df``'s lineage: the package's one barrier policy. A
    persisted frame is returned unchanged (its cache is the barrier).
    With a session checkpoint dir (``sparkContext.setCheckpointDir``)
    the cut is a reliable ``checkpoint()`` that survives executor loss
    (its files stay until the store is cleaned); otherwise it is an
    executor-local ``localCheckpoint()``, freed by the ContextCleaner."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
