"""The snapshot table's commit protocol: which manifest keys a new
version carries from its base.

Three key classes:

- version-local (``op``, ``txn``, ``change_data``, plus ``version``,
  ``mode``, ``committed_at``): describe ONE commit and never carry;
- table properties (``txns``, ``constraints``, ``schema``): carry on every
  successor, overwrite included;
- file-scoped state: the per-file maps (``stats``, ``partitions``,
  ``file_seq``) and deletion vectors are restricted to the carried files,
  and ``tombstones``/``tombstone_keys``, ``column_mapping``/
  ``retired_columns``, ``evolved``, ``bloom``, ``partition_by`` carry —
  all of it reset by an overwrite.

One base table holds every carried key. Each row of the matrix runs one
write path on a private copy of that table's log and checks the
successor manifest against the classes.
"""

from __future__ import annotations

import os
import shutil

import pytest

# keys a successor takes whole from its base unless the write path sets
# them itself; an overwrite resets the file-scoped ones
_TABLE_PROPS = ("txns", "constraints", "schema")
_FILE_SCOPED = (
    "tombstones",
    "tombstone_keys",
    "column_mapping",
    "retired_columns",
    "evolved",
    "bloom",
    "partition_by",
)
_PER_FILE = ("stats", "partitions", "file_seq")
_VERSION_LOCAL = ("op", "txn", "change_data")


def _write_external(root: str, name: str, g: int, rows: list[tuple]) -> str:
    """A parquet file written outside Spark (the two-phase writer's
    shape) under a ``g=<g>`` directory of its own commit dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(root, "data", f"commit-{name}", f"g={g}")
    os.makedirs(d, exist_ok=True)
    cols = list(zip(*rows))
    path = os.path.join(d, "part-0.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array(cols[0], pa.int64()),
                "v": pa.array(cols[1], pa.string()),
                "w": pa.array(cols[2], pa.float64()),
                "d": pa.array(cols[3], pa.string()),
            }
        ),
        path,
    )
    return path


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A table whose head holds every carried key, built through the
    public write paths. Its head is a ``refresh_stats`` version, so it
    also carries the version-local ``op``. Returns (root, head version)."""
    from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable

    root = str(tmp_path_factory.mktemp("protocol") / "base")
    t = SnapshotTable(root)
    df = spark.createDataFrame(
        [(k, k % 2, f"v{k}", float(k), "x") for k in range(40)],
        "k long, g long, v string, w double, d string",
    )
    t.commit(
        df.repartition(2),
        mode="overwrite",
        partition_by=["g"],
        bloom_cols=["k"],
        txn=("app", 0),
    )
    # two files registered with footer-less stats: refresh_stats has
    # something to refresh here and again in the matrix row
    ext = [
        _write_external(root, "ext1", 0, [(100, "a", 1.0, "x")]),
        _write_external(root, "ext2", 1, [(201, "b", 2.0, "x")]),
    ]
    t.publish_files(
        ext,
        {p: {} for p in ext},
        partitions={ext[0]: {"g": ["num", 0]}, ext[1]: {"g": ["num", 1]}},
        partition_by=["g"],
    )
    t.add_constraint(spark, "k_nonneg", "k >= 0")
    t.delete_keys(spark, spark.createDataFrame([(1,)], "k long"), ["k"])
    t.delete_where_mor(spark, [("k", "=", 2)])
    t.rename_column("v", "v2")
    t.drop_column("d")
    t.refresh_stats(spark, files=[ext[0]])
    head = t._read_manifest(t.latest_version())
    for k in _TABLE_PROPS + _FILE_SCOPED + ("op", "dvs", "partitions"):
        assert head.get(k), f"base head lacks {k!r}"
    return root, head["version"]


def _copy_of(base, tmp_path, upto: int | None = None):
    """A private table over the base's data: its manifests up to ``upto``
    (default: the head) copied under a fresh root."""
    from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable

    root, head_v = base
    upto = head_v if upto is None else upto
    dst = str(tmp_path / "t")
    os.makedirs(os.path.join(dst, "_manifests"))
    for v in range(upto + 1):
        shutil.copy(
            os.path.join(root, "_manifests", f"v{v}.json"),
            os.path.join(dst, "_manifests", f"v{v}.json"),
        )
    return SnapshotTable(dst)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k long, g long, v2 string, w double")


def _commit_append(spark, t, tmp_path):
    t.commit(_frame(spark, [(500, 0, "n", 5.0)]), partition_by=["g"], txn=("app", 1))


def _commit_overwrite(spark, t, tmp_path):
    t.commit(_frame(spark, [(600, 0, "n", 6.0)]), mode="overwrite")


def _publish_files(spark, t, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(t.data_dir, "commit-ext3", "g=1")
    os.makedirs(d)
    p = os.path.join(d, "part-0.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([301], pa.int64()),
                "v2": pa.array(["c"], pa.string()),
                "w": pa.array([3.0], pa.float64()),
            }
        ),
        p,
    )
    t.publish_files([p], {p: {}}, partitions={p: {"g": ["num", 1]}}, partition_by=["g"])


def _merge(spark, t, tmp_path):
    from pyspark.sql import functions as F

    src = spark.createDataFrame([(3, "m")], "k long, nv string")
    t.merge(spark, src, ["k"], matched_update={"v2": F.col("nv")})


def _replace_where(spark, t, tmp_path):
    t.replace_where(spark, _frame(spark, [(700, 1, "r", 7.0)]), [("g", "=", 1)])


def _optimize_incremental(spark, t, tmp_path):
    from f1_bigdata_pyspark_spark.sources.snapshots import FILE_META_KEY

    m = t._read_manifest(t.latest_version())
    sizes = [
        (m["stats"].get(f, {}).get(FILE_META_KEY) or {}).get("bytes")
        or os.path.getsize(f)
        for f in m["files"]
    ]
    # every file but the largest is small: some compact, one carries
    rep = t.optimize_incremental(spark, small_file_max_bytes=max(sizes))
    assert rep["files_compacted"] >= 2 and rep["files_carried"] >= 1


def _rollback(spark, t, tmp_path):
    t.rollback(5)


def _clone_from(spark, t, tmp_path):
    from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable

    SnapshotTable(str(tmp_path / "clone")).clone_from(t)


# (row id, write path, mode of the new version, keys the path sets itself)
_MATRIX = [
    ("commit-append", _commit_append, "append", {"txn", "txns", "schema"}),
    ("commit-overwrite", _commit_overwrite, "overwrite", {"schema"}),
    ("publish_files", _publish_files, "append", set()),
    ("merge", _merge, "merge", {"change_data"}),
    ("replace_where", _replace_where, "replace-where", {"change_data"}),
    (
        "optimize_deletions",
        lambda s, t, p: t.optimize_deletions(s, min_masked_fraction=0.0),
        "optimize-deletions",
        set(),
    ),
    (
        "consolidate_deletion_vectors",
        lambda s, t, p: t.consolidate_deletion_vectors(s, max_records=0),
        "dv-consolidate",
        {"dvs"},
    ),
    ("optimize_incremental", _optimize_incremental, "optimize-incremental", set()),
    ("refresh_stats", lambda s, t, p: t.refresh_stats(s), "append", {"op", "stats"}),
    ("rollback", _rollback, "rollback-to-v5", set()),
    ("clone_from", _clone_from, None, {"txns"}),
    (
        "delete_keys",
        lambda s, t, p: t.delete_keys(
            s, s.createDataFrame([(5,)], "k long"), ["k"]
        ),
        "delete",
        {"tombstones"},
    ),
    (
        "delete_where",
        lambda s, t, p: t.delete_where(s, [("k", "=", 8)]),
        "delete-where",
        {"change_data"},
    ),
    (
        "update_where",
        lambda s, t, p: t.update_where(s, {"w": "w + 1"}, [("k", "=", 4)]),
        "update-where",
        {"change_data"},
    ),
    (
        "delete_where_mor",
        lambda s, t, p: t.delete_where_mor(s, [("k", "=", 10)]),
        "delete-dv",
        {"dvs"},
    ),
    (
        "update_where_mor",
        lambda s, t, p: t.update_where_mor(s, {"w": "w + 1"}, [("k", "=", 6)]),
        "update-dv",
        {"dvs"},
    ),
    (
        "add_constraint",
        lambda s, t, p: t.add_constraint(s, "w_ok", "w >= 0"),
        "append",
        {"constraints"},
    ),
    (
        "drop_constraint",
        lambda s, t, p: t.drop_constraint("k_nonneg"),
        "append",
        {"constraints"},
    ),
    (
        "rename_column",
        lambda s, t, p: t.rename_column("w", "w2"),
        "append",
        {"schema", "column_mapping"},
    ),
    (
        "drop_column",
        lambda s, t, p: t.drop_column("v2"),
        "append",
        {"schema", "retired_columns", "column_mapping"},
    ),
]


@pytest.mark.parametrize(
    "path,mode,own", [r[1:] for r in _MATRIX], ids=[r[0] for r in _MATRIX]
)
def test_successor_carry_rules(
    spark, base, tmp_path, monkeypatch, path, mode, own
):
    from f1_bigdata_pyspark_spark.sources import snapshots
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        SnapshotTable,
        _carry_dvs,
    )

    t = _copy_of(base, tmp_path)
    head_v = t.latest_version()
    # the base a write path hands _publish must be version N-1 exactly as
    # the log holds it: the delta encoder is a pure function, so the
    # record is then byte for byte the one a fresh read of N-1 gives
    encode = snapshots._encode_manifest_delta
    bases = []

    def spy(full, b):
        bases.append(b == t._read_manifest(b["version"]))
        return encode(full, b)

    monkeypatch.setattr(snapshots, "_encode_manifest_delta", spy)
    path(spark, t, tmp_path)
    assert bases or path is _clone_from, "no delta record was encoded"
    assert all(bases), "a write path published against a changed base"
    if path is _clone_from:
        # the clone's v0 is the successor of the source's head
        head = t._read_manifest(head_v)
        succ = SnapshotTable(str(tmp_path / "clone"))._read_manifest(0)
        assert succ["version"] == 0
        assert succ["mode"].startswith("clone-of-")
    else:
        assert t.latest_version() == head_v + 1, "the path published nothing"
        succ = t._read_manifest(head_v + 1)
        assert succ["version"] == head_v + 1 and succ["mode"] == mode
        # a rollback is the successor of its TARGET
        head = t._read_manifest(5 if path is _rollback else head_v)
    assert "committed_at" in succ
    reset = mode == "overwrite"

    # version-local: present only when this commit stamps it
    for k in _VERSION_LOCAL:
        assert (k in succ) == (k in own), k
    # table properties carry, overwrite included
    for k in _TABLE_PROPS:
        if k not in own:
            assert succ.get(k) == head.get(k), k
    assert "txns" not in succ or path is not _clone_from
    # whole file-scoped keys carry unless an overwrite resets them
    for k in _FILE_SCOPED:
        if k not in own:
            assert succ.get(k) == (None if reset else head.get(k)), k
    # per-file state: restricted to the new file set, carried entries
    # unchanged, new files stamped with the new version's sequence
    files = set(succ["files"])
    carried = [f for f in succ["files"] if f in set(head["files"])]
    if reset:
        assert carried == []
    for k in _PER_FILE:
        got = succ.get(k, {})
        assert set(got) <= files, k
        if k not in own:
            for f in carried:
                assert got.get(f) == head.get(k, {}).get(f), (k, f)
    for f in files - set(head["files"]):
        assert succ["file_seq"][f] == succ["version"]
    if "dvs" not in own:
        assert (succ.get("dvs") or []) == _carry_dvs(head, set(carried))


def test_refresh_stats_op_does_not_leak(spark, base, tmp_path):
    """``op`` marks the one metadata-only version ``refresh_stats``
    publishes; the versions after it — and a clone of it — are not
    refresh-stats versions."""
    from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable

    t = _copy_of(base, tmp_path)
    head_v = t.latest_version()
    t.add_constraint(spark, "w_ok", "w >= 0")
    t.delete_where_mor(spark, [("k", "=", 12)])
    hist = t.describe_history()
    assert hist[head_v].get("op") == "refresh-stats"
    assert [r["version"] for r in hist if r.get("op")] == [head_v]
    clone = SnapshotTable(str(tmp_path / "clone"))
    clone.clone_from(t)
    assert "op" not in clone.describe_history()[0]


def test_txn_and_change_data_stay_with_their_version(spark, tmp_path):
    """A streaming batch stamp and a commit's change images describe that
    one version: a metadata-only successor carries neither (the ``txns``
    map keeps the exactly-once evidence)."""
    from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        txn=("app", 7),
    )
    t.rename_column("v", "v1")
    m = t._read_manifest(1)
    assert "txn" not in m and m["txns"] == {"app": 7}
    t.delete_where(spark, [("k", "=", 1)])
    assert "change_data" in t._read_manifest(2)
    t.rename_column("v1", "v2")
    assert "change_data" not in t._read_manifest(3)
    assert t.last_committed_batch("app") == 7


class _CountingFS:
    """The local metadata filesystem, counting manifest reads."""

    def __init__(self):
        from f1_bigdata_pyspark_spark.sources.metadata_fs import LocalMetadataFS

        self._fs = LocalMetadataFS()
        self.reads = 0

    def read_text(self, path: str) -> str:
        self.reads += 1
        return self._fs.read_text(path)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_commit_resolves_its_base_once(tmp_path):
    """A commit nine versions past a checkpoint resolves its base, v8, once
    (nine manifest reads down the delta chain) and the delta encoder
    reuses it, where it used to resolve v8 a second time (18 reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable

    fs = _CountingFS()
    t = SnapshotTable(str(tmp_path / "t"), fs=fs)
    schema = '{"type":"struct","fields":[{"name":"k","type":"long",' \
        '"nullable":true,"metadata":{}}]}'
    for v in range(10):
        d = os.path.join(t.data_dir, f"commit-ext{v}")
        os.makedirs(d)
        path = os.path.join(d, "part-0.parquet")
        pq.write_table(pa.table({"k": pa.array([v], pa.int64())}), path)
        fs.reads = 0
        assert t.publish_files([path], {path: {}}, schema_json=schema) == v
    assert "delta_of" in fs._fs.read_text(t._manifest_path(9))
    assert fs.reads == 9
