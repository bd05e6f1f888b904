"""Small shared utilities."""

from __future__ import annotations

import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame


def fs_path_exists(spark, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — resolves the
    path against whatever scheme the session can reach (``hdfs://``,
    ``s3a://``, ``file:``), unlike ``os.path`` probes which only see the
    driver's local filesystem. Streaming sinks use this to distinguish
    "target table does not exist yet" (first micro-batch) from "target
    exists" — an os.path probe on a remote target is always False, which
    would make an overwrite-mode sink silently truncate the accumulated
    table to one batch."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


@contextmanager
def scratch_dir(prefix: str):
    """A temporary directory named ``<prefix>…``, removed on exit. A query
    that builds tables in it must ``materialize`` its result inside the
    block: the driver collects later, when the files are gone."""
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def materialize(df: DataFrame) -> DataFrame:
    """Materialize a small intermediate that downstream operators reference
    multiple times (signature tables, band tables), cutting lineage so the
    self-joins don't recompute the producing stages.

    ``localCheckpoint(eager=True)`` rather than ``cache()``: measured on this
    Spark build, materializing a window-containing plan through the columnar
    cache path took ~15x longer than computing it (74 s vs 4.4 s for a 16k-row
    signature table) and even cached reads stayed slow; localCheckpoint
    materializes the computed partitions as-is (5 s build, 0.4 s reuse).

    Scale note: on a multi-executor cluster localCheckpoint is vulnerable to
    executor loss; a production deployment would persist these tables to
    parquet/Delta instead (same semantics — the operators only need a stable,
    re-scannable intermediate).
    """
    return df.localCheckpoint(eager=True)


def multisets_equal(a: DataFrame, b: DataFrame) -> bool:
    """Row-multiset equality of two same-schema frames as ONE Spark job
    (r12, guide §1.2): rows tagged +1/−1 and summed per distinct row —
    every per-row sum is zero iff the multisets are equal, the identical
    A∖B=∅ ∧ B∖A=∅ test the previous two-exceptAll-count pattern ran as
    FOUR side evaluations (each except leg re-evaluates both inputs).
    One evaluation of each side, one exchange on the row value.

    Raises ValueError when the two frames' column sets differ (aligning
    them would silently drop columns of ``b``) or when either frame has a
    column named like the probe's own ``__sgn`` / ``__d``."""
    from pyspark.sql import functions as F

    cols = a.columns
    if sorted(cols) != sorted(b.columns):
        raise ValueError(
            "multisets_equal: column sets differ: "
            f"{sorted(cols)} vs {sorted(b.columns)}"
        )
    clash = {"__sgn", "__d"} & set(cols)
    if clash:
        raise ValueError(f"multisets_equal: reserved column names {sorted(clash)}")
    d = (
        a.withColumn("__sgn", F.lit(1))
        .unionAll(b.select(*cols).withColumn("__sgn", F.lit(-1)))
        .groupBy(*cols)
        .agg(F.sum("__sgn").alias("__d"))
        .agg(F.coalesce(F.max(F.abs(F.col("__d"))), F.lit(0)))
        .head()[0]
    )
    return d == 0
