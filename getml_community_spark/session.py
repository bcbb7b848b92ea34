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

Two frame-shaping rules live here and nowhere else: :func:`barrier`,
the one lineage cut, and :func:`spread`, the one narrow-input spread (a
round-robin repartition to ``defaultParallelism``, decided from the
physical plan without running a Spark job).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

__all__ = ["get_spark", "stop_spark", "barrier", "spread"]


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
    executor-local ``localCheckpoint()``, freed by the ContextCleaner.
    A checkpoint is a plan leaf, so :func:`spread` counts its
    partitions instead of respreading it."""
    if df.storageLevel != StorageLevel.NONE:
        return df
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _current_plan(plan):
    """An adaptive plan's current plan (its inputPlan has no exchanges)."""
    return plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan


def _has_exchange(plan) -> bool:
    """Whether a physical plan holds an exchange. A persisted frame
    whose cache is not filled yet counts the plan that will fill it."""
    name = plan.nodeName()
    if "Exchange" in name or "QueryStage" in name:
        return True
    cache = plan.relation().cacheBuilder() if name == "InMemoryTableScan" else None
    if cache is not None and not cache.isCachedColumnBuffersLoaded():
        return _has_exchange(_current_plan(cache.cachedPlan()))
    kids = plan.children()
    return any(_has_exchange(kids.apply(i)) for i in range(kids.size()))


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the default parallelism unless
    it is spread already: the package's one narrow-input spread, for the
    interpreted and Python UDF stages that only run in parallel across
    partitions (decontamination at sf0.1: 23 s on one core, ~2 s
    spread). Decided from the physical plan (under AQE, its current
    ``executedPlan``) without starting a Spark job:
    - no exchange (a file scan, ``spark.range``, a checkpoint): spread
      when it has fewer partitions than the target;
    - rows out of a round-robin exchange of at least the target through
      one-child nodes only (``spread(scan).select(udf)``): kept;
    - any other exchange (a groupBy, a join): spread, as its partition
      count is only known once it has run (AQE coalesces a small
      shuffle to one partition).
    Row order is not kept."""
    target = df.sparkSession.sparkContext.defaultParallelism
    root = df._jdf.queryExecution().executedPlan()
    plan = _current_plan(root)
    if not _has_exchange(plan):
        # a plan without an exchange builds its RDD without running a job
        wide = root.execute().getNumPartitions() >= target
    else:
        # Python UDF nodes report UnknownPartitioning(0) but keep their input's
        while plan.outputPartitioning().numPartitions() == 0 and plan.children().size() == 1:
            plan = plan.children().apply(0)
        part = plan.outputPartitioning()
        round_robin = part.getClass().getSimpleName() == "RoundRobinPartitioning"
        wide = round_robin and part.numPartitions() >= target
    return df if wide else df.repartition(target)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
