"""Python worker set-up (``session.set_up_workers``): which interpreter and
which pyspark copy the workers Spark starts use. The decision is pinned on
fabricated zips; the effect on the workers of a ``get_spark`` session."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types
import zipfile

import pytest

from f1_bigdata_pyspark_spark import session
from f1_bigdata_pyspark_spark.session import use_installed_pyspark


def _spark_path(tmp_path, pyspark_version: str | None = None, py4j_version: str | None = None) -> str:
    """A Spark worker path prefix whose zips declare the given releases
    (default: the installed ones), as ``PythonUtils.sparkPythonPath`` lists
    them."""
    import py4j.version
    import pyspark

    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    pyspark_zip = lib / "pyspark.zip"
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        version = pyspark_version or pyspark.__version__
        z.writestr("pyspark/version.py", f"# licence\n__version__: str = '{version}'\n")
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/version.py", f"__version__ = '{py4j_version or py4j.version.__version__}'\n")
    return os.pathsep.join([str(pyspark_zip), str(py4j_zip), str(tmp_path / "spark-core.jar")])


def _launcher(tmp_path, mode: int = 0o755) -> str:
    path = tmp_path / "worker_python.sh"
    shutil.copy(session._WORKER_LAUNCHER, path)
    os.chmod(path, mode)
    return str(path)


def _context():
    return types.SimpleNamespace(pythonExec="python3", environment={"PYTHONPATH": "/pkg"})


def _interpreter(tmp_path, executable: str, prefix: str) -> str:
    """A stand-in ``PYSPARK_PYTHON`` that reports another interpreter."""
    path = tmp_path / "other-python"
    path.write_text(f"#!/bin/sh\necho {executable}\necho {prefix}\n")
    os.chmod(path, 0o755)
    return str(path)


def test_matching_releases_switch_to_the_launcher(tmp_path, monkeypatch):
    monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
    sc = _context()
    spark_path = _spark_path(tmp_path)
    launcher = _launcher(tmp_path)
    assert use_installed_pyspark(sc, spark_path, launcher)
    assert sc.pythonExec == launcher
    assert sc.environment["_SPARK_GRAFT_PYTHON"] == sys.executable
    assert sc.environment["_SPARK_GRAFT_DROP"].split(os.pathsep) == spark_path.split(os.pathsep)[:2]
    assert sc.environment["PYTHONPATH"] == "/pkg"


@pytest.mark.parametrize(
    "versions", [{"pyspark_version": "3.5.0"}, {"py4j_version": "0.10.9.7"}], ids=["pyspark", "py4j"]
)
def test_release_mismatch_keeps_the_worker_command(tmp_path, monkeypatch, versions):
    monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
    sc = _context()
    assert not use_installed_pyspark(sc, _spark_path(tmp_path, **versions), _launcher(tmp_path))
    assert sc.pythonExec == "python3"
    assert sc.environment == {"PYTHONPATH": "/pkg"}


def test_missing_zip_keeps_the_worker_command(tmp_path, monkeypatch):
    monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
    sc = _context()
    spark_path = _spark_path(tmp_path).split(os.pathsep)
    assert not use_installed_pyspark(sc, os.pathsep.join(spark_path[1:]), _launcher(tmp_path))
    assert sc.pythonExec == "python3"


def test_pyspark_python_of_another_interpreter_keeps_the_worker_command(tmp_path, monkeypatch):
    monkeypatch.setenv("PYSPARK_PYTHON", _interpreter(tmp_path, "/elsewhere/bin/python3", "/elsewhere"))
    sc = _context()
    assert not use_installed_pyspark(sc, _spark_path(tmp_path), _launcher(tmp_path))
    assert sc.pythonExec == "python3"


def test_pyspark_python_naming_the_driver_interpreter_switches(tmp_path, monkeypatch):
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    sc = _context()
    launcher = _launcher(tmp_path)
    assert use_installed_pyspark(sc, _spark_path(tmp_path), launcher)
    assert sc.pythonExec == launcher


def test_launcher_not_executable_keeps_the_worker_command(tmp_path, monkeypatch):
    monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
    sc = _context()
    assert not use_installed_pyspark(sc, _spark_path(tmp_path), _launcher(tmp_path, 0o644))
    assert sc.pythonExec == "python3"


def test_launcher_drops_only_the_spark_zips():
    env = dict(
        os.environ,
        PYTHONPATH=":".join(["/a", "/spark/pyspark.zip", "/b b", "/spark/py4j-src.zip", "/c*"]),
        _SPARK_GRAFT_DROP="/spark/pyspark.zip:/spark/py4j-src.zip",
        _SPARK_GRAFT_PYTHON=sys.executable,
    )
    out = subprocess.run(
        [session._WORKER_LAUNCHER, "-c", "import os, sys; print(os.environ['PYTHONPATH']); print(sys.executable)"],
        env=env, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert out == ["/a:/b b:/c*", sys.executable]


def test_udf_worker_imports_installed_pyspark(spark):
    from pyspark.sql import functions as F

    @F.udf("string")
    def pyspark_file(_):
        import pyspark

        return pyspark.__file__

    files = {r[0] for r in spark.range(2).select(pyspark_file("id")).collect()}
    assert files and not any(".zip" in f for f in files), files


def test_stream_read_workers_import_installed_pyspark(spark, tmp_path):
    """Both the streaming source runner (offsets, partition planning) and
    the worker that reads a partition of a ``fastf1_laps`` stream import
    the installed pyspark: each row carries the runner's ``pyspark`` file
    in ``Team`` and the reader's in ``Session``."""
    from f1_bigdata_pyspark_spark.sources.fastf1_source import (
        FastF1LapsDataSource,
        FastF1LapsStreamReader,
    )

    class Reader(FastF1LapsStreamReader):
        def partitions(self, start, end):
            import pyspark

            parts = super().partitions(start, end)
            for p in parts:
                p.runner_pyspark = pyspark.__file__
            return parts

        def read(self, partition):
            import pyspark

            team = self._fields.index("Team")
            sess = self._fields.index("Session")
            for row in super().read(partition):
                row = list(row)
                row[team], row[sess] = partition.runner_pyspark, pyspark.__file__
                yield tuple(row)

    class Source(FastF1LapsDataSource):
        @classmethod
        def name(cls) -> str:
            return "fastf1_laps_where_from"

        def streamReader(self, schema):
            return Reader(self.options, schema)

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "bahrain.jsonl").write_text(json.dumps({"Driver": "VER", "LapNumber": 1.0}) + "\n")
    spark.dataSource.register(Source)
    seen: list = []
    q = (
        spark.readStream.format("fastf1_laps_where_from").option("path", str(landing)).load()
        .writeStream.foreachBatch(lambda df, _id: seen.extend(df.select("Team", "Session").collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    files = {f for row in seen for f in row}
    assert seen and not any(".zip" in f for f in files), files


_JVM_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}


def test_default_driver_heap_fits_physical_memory(spark):
    """Without ``SPARK_DRIVER_MEMORY`` the session's heap is sized to the
    host: a heap larger than physical memory lets the JVM grow until the
    host runs short."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        pytest.skip("SPARK_DRIVER_MEMORY sets the heap")
    heap = spark.sparkContext.getConf().get("spark.driver.memory").lower()
    heap_bytes = int(heap[:-1]) * _JVM_UNITS[heap[-1]]
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap_bytes <= physical, (heap, physical)
