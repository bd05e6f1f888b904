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

import functools
import os
import re
import subprocess
import sys
import zipfile

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "f1-bigdata-pyspark-spark"

# the directory holding the package: what a Python worker needs on its
# path to import it
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# what Python workers start through when they can import the installed
# pyspark (``use_installed_pyspark``)
_WORKER_LAUNCHER = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "worker_python.sh"
)


def env_cpus() -> int:
    """CPU count for local mode, from the driver's env contract."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def env_sf_dir() -> str:
    """Default scale-factor data dir, from the driver's env contract."""
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half of
    physical memory, at most 48g, so the one local-mode JVM cannot grow
    past what the host has."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(total // 2 // 2**20, 48 * 1024)}m"


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
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    set_up_workers(spark)
    return spark


def set_up_workers(spark: SparkSession) -> None:
    """Set up the Python workers Spark starts (UDFs, Python data sources)
    for this package. A function captures the context's worker command
    and environment when it is wrapped, so this must run before the
    functions are built; it is cheap to call again.

    - Path: the workers import this package whatever the driver's working
      directory and ``PYTHONPATH``: a driver-side ``sys.path`` entry does
      not reach them, but Spark merges the ``PYTHONPATH`` of
      ``SparkContext.environment`` into a worker's path.
    - Interpreter: see ``use_installed_pyspark``."""
    sc = spark.sparkContext
    env = sc.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_ROOT, *paths])
    if not getattr(sc, "_worker_python_chosen", False):
        use_installed_pyspark(sc)
        sc._worker_python_chosen = True


def use_installed_pyspark(
    sc, spark_path: str | None = None, launcher: str = _WORKER_LAUNCHER
) -> bool:
    """Start Python workers through ``launcher``: the driver's own
    interpreter with Spark's zipped pyspark and py4j taken off their
    ``PYTHONPATH`` (every other entry keeps its place), so they import the
    installed, byte-compiled copy. Spark puts ``$SPARK_HOME/python/lib``'s
    zips first on every worker's path, and the pyspark zip holds no
    ``.pyc``: each new worker process compiles pyspark again (~1.5 s to
    import the streaming source runner from the zip, ~0.5 s installed,
    on a 4-core host).

    Switches only when the zips hold the installed pyspark and py4j
    releases, ``PYSPARK_PYTHON`` is unset or starts this same interpreter,
    and the launcher is executable; otherwise Spark's worker command stays
    as it is. ``spark_path`` is Spark's worker path prefix
    (``PythonUtils.sparkPythonPath``, asked of the JVM when None). Returns
    whether the workers use the launcher."""
    if spark_path is None:
        spark_path = sc._jvm.org.apache.spark.api.python.PythonUtils.sparkPythonPath()
    zips = _installed_release_zips(spark_path)
    if (
        zips is None
        or not _starts_driver_python(os.environ.get("PYSPARK_PYTHON"))
        or not os.access(launcher, os.X_OK)
    ):
        return False
    sc.environment["_SPARK_GRAFT_PYTHON"] = sys.executable
    sc.environment["_SPARK_GRAFT_DROP"] = os.pathsep.join(zips)
    sc.pythonExec = launcher
    return True


def _installed_release_zips(spark_path: str) -> list[str] | None:
    """Spark's pyspark and py4j zips on ``spark_path``, or None unless both
    are there and hold exactly the releases this interpreter has
    installed."""
    import py4j.version
    import pyspark

    zips = {}
    for entry in spark_path.split(os.pathsep):
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            zips[entry] = ("pyspark/version.py", pyspark.__version__)
        elif name.startswith("py4j-") and name.endswith("-src.zip"):
            zips[entry] = ("py4j/version.py", py4j.version.__version__)
    members = sorted(member for member, _ in zips.values())
    if members != ["py4j/version.py", "pyspark/version.py"] or any(
        _zip_version(path, member) != version
        for path, (member, version) in zips.items()
    ):
        return None
    return list(zips)


def _zip_version(path: str, member: str) -> str | None:
    """The ``__version__`` a ``version.py`` inside a zip declares."""
    try:
        with zipfile.ZipFile(path) as z:
            text = z.read(member).decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"^__version__(?:\s*:\s*str)?\s*=\s*['\"]([^'\"]+)", text, re.M)
    return m.group(1) if m else None


def _starts_driver_python(cmd: str | None) -> bool:
    """Whether Spark's worker command ``cmd`` (``PYSPARK_PYTHON``; None
    when unset) starts this process's interpreter: same binary and same
    ``sys.prefix``, so the same installed packages."""
    return cmd is None or _interpreter_of(cmd) == (
        os.path.realpath(sys.executable),
        sys.prefix,
    )


@functools.lru_cache(maxsize=None)
def _interpreter_of(cmd: str) -> tuple[str, str] | None:
    """Ask ``cmd`` itself which interpreter it is: a name on ``PATH`` may be
    a shim (pyenv) that picks the interpreter when it runs."""
    probe = "import sys; print(sys.executable); print(sys.prefix)"
    try:
        out = subprocess.run(
            [cmd, "-I", "-S", "-c", probe],
            capture_output=True, text=True, timeout=60, check=True,
        ).stdout.split("\n")
    except (OSError, subprocess.SubprocessError):
        return None
    if len(out) < 2 or not out[0]:
        return None
    return os.path.realpath(out[0]), out[1]
