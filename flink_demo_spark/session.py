"""SparkSession factory tuned for this engine.

The reference bootstraps a ``StreamExecutionEnvironment`` /
``StreamTableEnvironment`` per app (e.g. reference
``official-tutorial/src/test/scala/.../TableSQLFunc.scala:59-113``).
Spark's equivalent is one ``SparkSession`` shared by the batch and
streaming APIs; everything else (planner choice, retraction planning,
chaining) is Catalyst's job.

Scale notes (100 TB design intent, tested on local[32]):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting
  replaces hand-tuned parallelism (Flink's ``setParallelism``).
- ``spark.sql.shuffle.partitions`` is a *ceiling* under AQE, so a
  large default is safe; for local runs we keep it near core count.
- Arrow enabled for the pandas-UDF paths (the only Python hot paths
  we allow are Arrow-batched).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Config every query function can rely on even when the caller (the
# verification driver) built the session: these are runtime-settable.
RUNTIME_CONFS: dict[str, str] = {
    # the synthetic events table stores TIMESTAMP(NANOS) parquet, which
    # Spark only reads as int64 nanos behind this flag (catalog.load_table
    # converts ns -> µs explicitly)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # AQE coalesce floor: round 5 lowered minPartitionSize to 64k to
    # keep CPU-heavy post-shuffle stages parallel at test scale, but a
    # round-6 controlled A/B (3-4 reps, warmed, alternating order, at
    # sf0.1) showed the 64k floor is a small consistent LOSS now
    # (dedup_minhash -4%, interval_join -6%, streaming replay -5%):
    # the truly CPU-bound pandas exchanges pin an explicit partition
    # count (REPARTITION_BY_NUM, plan-asserted — operators/cep.py::
    # _grouped_map), which makes the floor redundant where it helped
    # and pure small-partition overhead everywhere else. Default (1m)
    # restored; the r5 bench regression beyond this delta was VM
    # variance.
}


# the directory holding this package. Pandas stages pickle the
# package's functions by reference, so their Python workers must
# import it whatever the driver's cwd or PYTHONPATH.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally built session and
    put ``PACKAGE_ROOT`` on its Python workers' path: PySpark builds
    each Python function's worker environment from
    ``SparkContext.environment`` when the function is planned."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build; builder path sets it instead
    env = spark.sparkContext.environment
    paths = env.get("PYTHONPATH", "")
    if PACKAGE_ROOT not in paths.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(p for p in (PACKAGE_ROOT, paths) if p)
    return spark


def get_spark(
    app_name: str = "flink_demo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # local test data is a single small parquet per table: the 128m
        # default makes every scan a single task. 8m splits scans across
        # cores (measured ~25% on scan-bound queries at sf0.1). On a real
        # cluster with many files, keep the default (set env to 128m).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/flink_demo_spark_warehouse"),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
