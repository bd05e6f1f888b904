"""The fixed engine environment every benchmark run uses.

- One Spark JVM per run, on ``local[nproc]`` (the package default of 32
  task threads oversubscribes small hosts), with a driver memory sized to
  the host and console progress off.
- A run refuses to start while another ``SparkSubmit`` JVM is alive: a
  second JVM (an orphan of a killed run, a test suite) skews every timing.
- The checkout root goes on ``PYTHONPATH`` before the JVM starts, so the
  Python workers Spark launches (``format("snapshot")`` data-source
  callbacks) can import the package whatever the working directory.
- Temporary files (Python ``tempfile``, Spark local dirs, the JVM's
  ``java.io.tmpdir``) live under the run's work directory in the checkout.
"""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


class HostNotReady(RuntimeError):
    """The host is not fit for a measurement (e.g. a second Spark JVM)."""


def _proc_cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def spark_jvms() -> list[int]:
    """Pids of live ``SparkSubmit`` JVMs visible to this process."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit() and "org.apache.spark.deploy.SparkSubmit" in _proc_cmdline(pid):
            out.append(int(pid))
    return out


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, between 1 and 2 GiB: the inputs need
    far less."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(2048, max(1024, total // 4 // 2**20)))


def prepare_work_dir(name: str) -> str:
    """A fresh per-run directory under the checkout; temp files go there."""
    run_dir = os.path.join(WORK, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    return run_dir


def start_session(run_dir: str):
    """Start the run's single Spark session through the package factory."""
    others = spark_jvms()
    if others:
        raise HostNotReady(
            f"another Spark JVM is alive (pids {others}); stop it before measuring"
        )
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    local_dir = os.path.join(run_dir, "spark-local")
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    from f1_bigdata_pyspark_spark.session import get_spark

    cpus = host_cpus()
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local_dir,
            # no hsperfdata file under the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def warm_up(spark) -> None:
    """Compile the engine's common paths (range scan, broadcast join, hash
    aggregate, window, sort) on synthetic rows, as ``bench.py`` does, so the
    first timed round measures the workload's own first-call costs rather
    than generic JVM warm-up. Touches no input and no package code."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for _ in range(3):
        rows = spark.range(200_000).select(
            (F.col("id") % 97).alias("k"), F.col("id").cast("double").alias("v")
        )
        dim = spark.range(97).select(F.col("id").alias("k"), F.lit("x").alias("name"))
        (
            rows.join(F.broadcast(dim), "k")
            .groupBy("k")
            .agg(F.avg("v").alias("a"), F.count(F.lit(1)).alias("n"))
            .withColumn("rk", F.row_number().over(Window.partitionBy("k").orderBy("a")))
            .orderBy("k")
            .collect()
        )


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = spark.sparkContext._gateway.proc  # spark-submit execs the JVM
    return (py_kb + _vm_hwm_kb(proc.pid)) / 1024.0


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while spark_jvms() and time.monotonic() < deadline:
        time.sleep(0.2)
    if spark_jvms():
        print(f"perfbench: JVM still alive after stop: {spark_jvms()}", file=sys.stderr)
