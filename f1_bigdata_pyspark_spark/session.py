"""SparkSession factory.

The reference builds its session ad-hoc per script with a Mongo connector
(reference: ``src/processing/tyre_degradation_by_stint.py:20-28``). Here the
session is a single tuned factory: parquet-native, Arrow-enabled, AQE on.

Scale notes (100 TB target):
- ``spark.sql.adaptive.enabled`` + coalesce/skew-join handle runtime re-plan,
  so the static ``spark.sql.shuffle.partitions`` only needs to be an upper
  bound; on a real cluster you'd set it ~2-3x total cores and let AQE coalesce.
- ``spark.sql.files.maxPartitionBytes`` left at default 128 MiB — correct for
  both local runs and large scans (1000 executors x 128 MiB splits).
- Arrow is on for any toPandas/Pandas-UDF boundary (vectorized transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "f1-bigdata-pyspark-spark"

# the directory holding the package: what a Python worker needs on its
# path to import it
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def env_cpus() -> int:
    """CPU count for local mode, from the driver's env contract."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def env_sf_dir() -> str:
    """Default scale-factor data dir, from the driver's env contract."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned SparkSession on ``local[cpus]``.

    In local mode there is one JVM; ``spark.driver.memory`` is the only
    memory knob. On a cluster the same confs apply unchanged — only
    ``master`` and memory sizing differ.
    """
    cpus = cpus or env_cpus()
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; AQE coalesces further.
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    put_package_on_worker_path(spark)
    return spark


def put_package_on_worker_path(spark: SparkSession) -> None:
    """Let the Python workers Spark starts (UDFs, Python data sources)
    import this package whatever the driver's working directory and
    ``PYTHONPATH``: a driver-side ``sys.path`` entry does not reach them.
    Spark merges the ``PYTHONPATH`` of ``SparkContext.environment`` into
    a worker's path, and a function captures that environment when it is
    wrapped, so this must run before the functions are built."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
