"""The snapshot table as a first-class Spark Python DataSource with
Catalyst FILTER PUSHDOWN driving the manifest pruning.

``SnapshotTable.read(where=)`` proves the skipping mechanism but carries
the predicate through a side channel; this source closes the loop with
the engine: a plain

    spark.read.format("snapshot").option("root", path).load()
         .filter("k >= 10")

hands the filter to ``pushFilters`` (the Spark 4.1 Python DataSource
pushdown API), which prunes the FILE LIST through the exact same
``prune_files`` planner (footer min/max stats + Hive partition point
stats + IN-lists), and ``partitions()`` then plans input partitions over
the surviving files — the scan never opens a skipped file, and a LARGE
file (many row groups, per the manifest's commit-time file meta) splits
into several row-group-range partitions so it parallelizes instead of
serializing through one task. Pruning is file-coarse, so every filter is
also returned to Spark for row-level evaluation (skipping stays an I/O
optimization that cannot change the answer, the same soundness contract
as ``read(where=)``). A ``columns`` option narrows both the served
schema and the executor byte reads (no pruneColumns hook exists in the
4.1 Python DataSource API).

Executor-side reads go through pyarrow straight to Arrow record batches
(the DataSource fast path — no per-row Python), with Hive partition
values re-attached as constant columns and absent (pre-evolution)
columns null-filled, mirroring ``_plan_scan``.

MERGE-ON-READ (round 8): tables with live TOMBSTONES serve correctly —
each input partition carries the tombstone key files that postdate its
data file (seq-scoped, like ``_scan_with_tombstones``), and the executor
anti-joins every Arrow batch against their key union before yielding.
The serving face therefore never goes dark between a ``delete_keys``
and the next OPTIMIZE — the exact window a GDPR pipeline lives in.

Engine caveat (traced on Spark 4.1): ``CREATE TABLE t USING snapshot
OPTIONS (root '...')`` parses, but a later ``SELECT`` constructs the
reader-phase DataSource instance with EMPTY options (probed: the
schema-phase instance sees the stored options incl. ``root``; the
reader-phase instance sees ``{}``), so SQL-catalog tables over Python
DataSources cannot resolve their storage — use the DataFrame API
(``spark.read.format("snapshot")``) or register the relational read as
a temp view for SQL access.

Engine caveat (pinned in tests/test_snapshot_source.py, observed on
Spark 4.1's experimental ``spark.sql.python.filterPushdown.enabled``
path): after executing a FILTERED action on a ``load()`` DataFrame,
Spark reuses that pushed-down scan for a later UNFILTERED action on the
SAME DataFrame object without re-consulting the reader (traced: no
``reader()``/``partitions()`` call on the second action) — so issue a
fresh ``load()`` per logical query, which is how sources are normally
used (``spark.read...load().filter(...)`` in one chain). The reader
itself is defensive: it consumes its pushed filters per ``partitions()``
call, so repeated filtered plannings never accumulate stale predicates.

Reference analog: none (the reference reads its store through pymongo);
this is the Spark-native serving face of sources/snapshots.py.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    SimpleDataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from f1_bigdata_pyspark_spark.sources.snapshots import prune_files

_OP_BY_FILTER = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
    # value-less null tests (round 7): prune via the manifest's per-file
    # null counts — IS NULL skips no-null files, IS NOT NULL all-null ones
    IsNull: "is_null",
    IsNotNull: "is_not_null",
}


class SnapshotFilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        partition_values: dict,
        where=None,
        row_groups=None,
        tombstones=None,
        tombstone_keys=None,
        mapping=None,
        nan_free=None,
    ):
        self.path = path
        self.partition_values = partition_values  # col -> python value
        # column mapping (rename): logical -> physical name the bytes of
        # PRE-RENAME files were written under; the executor read resolves
        # through it (new files carry the logical name directly)
        self.mapping = mapping or {}
        # the pushed conjunction rides INTO the partition so the executor
        # can skip ROW GROUPS the manifest's file granularity cannot
        self.where = where or []
        # row-group RANGE (round 8): a large file is split into several
        # input partitions, each reading only these footer row-group
        # indexes — one 10-group file parallelizes across 10 tasks
        # instead of serializing through one. None = the whole file.
        self.row_groups = row_groups
        # MERGE-ON-READ (round 8): the tombstone key files that POSTDATE
        # this data file (seq-scoped by the planner — a file rewritten
        # after a delete is already clean and ships none); the executor
        # anti-joins each Arrow batch against their key union, matching
        # SnapshotTable.read's _scan_with_tombstones semantics.
        self.tombstones = tombstones or []
        self.tombstone_keys = tombstone_keys or []
        # columns whose FILE-level write-time NaN count is 0: a NaN-free
        # file has NaN-free row groups, so the executor's row-group
        # skipper may trust the NaN-blind footer bounds for ">"-class
        # predicates on these columns (round 9)
        self.nan_free = nan_free or []
        # POSITIONAL DELETION VECTORS (round 9): the __b=<bucket> subdirs
        # of every dv that names this file — the bucket is the portable
        # md5 of the file path, so each task reads only its own slice of
        # each vector (O(DV/buckets), not O(DV))
        self.dv_dirs = []


def _read_partition_batches(schema: StructType, partition):
    """Executor-side read of one snapshot file partition to Arrow
    batches: project to the committed schema, re-attach Hive partition
    values as constants, NULL-fill pre-evolution columns. Shared by the
    batch reader and the stream reader.

    ROW-GROUP SKIPPING (round 7): when the partition carries a pushed
    conjunction, each row group's own footer stats are tested through
    the SAME ``_file_may_match`` planner before any data is read — the
    reader-granularity tier below manifest file pruning (a 1 GB file
    with 8 sorted row groups serves a point probe from ~1/8 of its
    bytes). Sound by the same argument: skipping only removes row
    groups PROVEN empty for the conjunction; Spark re-applies every
    filter row-level.

    ROW-GROUP RANGES (round 8): ``partition.row_groups`` restricts this
    task to its slice of a split file — skipping then applies WITHIN the
    slice. COLUMN PRUNING (round 8): only the columns ``schema`` actually
    names are read from the file (``read_row_groups(columns=...)`` —
    parquet is columnar, so unread columns cost zero I/O); absent and
    partition columns are synthesized, so a narrowed schema reads a
    narrow byte range instead of the full width."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    from f1_bigdata_pyspark_spark.sources.snapshots import (
        _file_may_match,
        row_group_stats,
    )

    target = to_arrow_schema(schema)
    pf = pq.ParquetFile(partition.path)
    file_cols = set(pf.schema_arrow.names)
    mapping = getattr(partition, "mapping", None) or {}
    groups = (
        list(partition.row_groups)
        if partition.row_groups is not None
        else list(range(pf.metadata.num_row_groups))
    )
    if partition.where and pf.metadata.num_row_groups > 1:

        def _rg_name(col: str) -> str:
            # row-group stats key the IN-FILE name; a pre-rename file
            # stores the physical one
            if col not in file_cols and mapping.get(col) in file_cols:
                return mapping[col]
            return col

        nan_free = set(getattr(partition, "nan_free", None) or [])

        def _rg_evidence(rg: int) -> dict:
            ev = row_group_stats(pf.metadata, rg)
            # thread the file-level NaN-freedom proof down: a NaN-free
            # FILE has NaN-free row groups, so ">"-class pruning keeps
            # its precision at row-group granularity too
            for name in nan_free:
                e = ev.get(name)
                if e is not None:
                    e["nanc"] = 0
            return ev

        groups = [
            rg
            for rg in groups
            if all(
                _file_may_match(_rg_evidence(rg), _rg_name(col), op, lit)
                for col, op, lit in partition.where
            )
        ]
    if not groups:
        return
    tomb_keys = list(getattr(partition, "tombstone_keys", []) or [])
    # logical -> in-file physical name (rename support: a pre-rename
    # file carries the bytes under the OLD name)
    phys_of = {
        f.name: (
            f.name
            if f.name in file_cols
            else (
                mapping.get(f.name)
                if mapping.get(f.name) in file_cols
                else None
            )
        )
        for f in target
    }
    need = [p for p in phys_of.values() if p]
    # tombstone key columns ride along even when the projection drops
    # them — the anti-join needs them, then they are discarded; keys
    # resolve through the mapping too (a delete AFTER a rename names
    # the logical key, pre-rename files store the physical)
    tomb_phys = {
        k: (
            k
            if k in file_cols
            else (
                mapping.get(k) if mapping.get(k) in file_cols else None
            )
        )
        for k in tomb_keys
    }
    need += [p for p in tomb_phys.values() if p and p not in need]
    if need:
        tbl = pf.read_row_groups(groups, columns=need)
        n = tbl.num_rows
    else:
        # every requested column is synthesized (partition values /
        # pre-evolution NULLs): no data read at all, row count from the
        # footer — an arrow table with zero columns reports num_rows 0,
        # so the count must come from metadata
        tbl = None
        n = sum(pf.metadata.row_group(g).num_rows for g in groups)
    cols = []
    for field in target:
        phys = phys_of.get(field.name)
        if tbl is not None and phys and phys in tbl.column_names:
            cols.append(tbl[phys].cast(field.type))
        elif field.name in partition.partition_values:
            v = partition.partition_values[field.name]
            cols.append(
                pa.nulls(n, field.type)
                if v is None
                else pa.array([v] * n).cast(field.type)
            )
        else:  # pre-evolution file: the committed column reads NULL
            cols.append(pa.nulls(n, field.type))
    out = pa.Table.from_arrays(cols, schema=target)
    keep = None
    tombs = getattr(partition, "tombstones", None) or []
    if tombs:
        keep = _tombstone_keep_mask(partition, tbl, n)
    if getattr(partition, "dv_dirs", None):
        dvk = _dv_keep_mask(partition, pf, groups, n)
        if dvk is not None:
            import pyarrow.compute as pc

            keep = dvk if keep is None else pc.and_(keep, dvk)
    # POSITIVE selections (round 10, streaming CDF): keep ONLY the rows
    # a new deletion vector / tombstone names — the inverse of the
    # liveness masks above, composed AFTER them so a key-delete emits
    # only rows that were LIVE when it landed
    if getattr(partition, "dv_select", None) is not None:
        import numpy as np
        import pyarrow.compute as pc

        m_ = _dv_keep_mask(partition, pf, groups, n, dirs=partition.dv_select)
        sel = (
            pc.invert(m_)
            if m_ is not None
            else pa.array(np.zeros(n, dtype=bool))
        )
        keep = sel if keep is None else pc.and_(keep, sel)
    if getattr(partition, "tombstone_select", None) is not None:
        import numpy as np
        import pyarrow.compute as pc

        m_ = _tombstone_keep_mask(
            partition, tbl, n, paths=partition.tombstone_select
        )
        sel = (
            pc.invert(m_)
            if m_ is not None
            else pa.array(np.zeros(n, dtype=bool))
        )
        keep = sel if keep is None else pc.and_(keep, sel)
    if keep is not None:
        out = out.filter(keep)
    yield from out.to_batches()


# executor-process cache of parsed deletion-vector bucket slices: dv
# dirs are IMMUTABLE once published (a new delete writes a new dir), so
# the parsed slice is shared by every task of a scan that routes to the
# same bucket — row-group-range splits of one file stop re-reading the
# slice per split, and files hashing to the same bucket share one read.
# Bounded like _DEAD_KEY_CACHE: cleared wholesale at 64 entries.
_DV_SLICE_CACHE: dict = {}


def _load_dv_slice(d: str):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if d not in _DV_SLICE_CACHE:
        if len(_DV_SLICE_CACHE) >= 64:
            _DV_SLICE_CACHE.clear()
        tabs = []
        if os.path.isdir(d):
            for name in sorted(os.listdir(d)):
                if name.endswith(".parquet"):
                    tabs.append(
                        pq.read_table(
                            os.path.join(d, name),
                            columns=["__file", "__pos"],
                        )
                    )
        _DV_SLICE_CACHE[d] = pa.concat_tables(tabs) if tabs else None
    return _DV_SLICE_CACHE[d]


def _dv_keep_mask(partition, pf, groups, n: int, dirs=None):
    """Boolean keep-mask applying this file's POSITIONAL deletion
    vectors (round 9) — the executor-side form of the relational
    (``__dv_file``, ``__dv_pos``) anti-join. Each task reads only its
    file's md5-bucket slice of each vector (cached per executor — round
    10); a row survives unless its ABSOLUTE in-file ordinal (row-group
    start offset + within-group index, which row-group skipping and
    range splitting both preserve) is named. None = nothing deleted
    here. ``dirs`` overrides the partition's own dv dirs (the streaming
    CDF planner inverts this mask to SELECT a delete's rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    dead: set[int] = set()
    for d in (dirs if dirs is not None else partition.dv_dirs):
        t = _load_dv_slice(d)
        if t is None:
            continue
        sel = pc.equal(t["__file"], partition.path)
        dead.update(t.filter(sel)["__pos"].to_pylist())
    if not dead:
        return None
    md = pf.metadata
    counts = [md.row_group(g).num_rows for g in range(md.num_row_groups)]
    starts = np.cumsum([0] + counts[:-1]) if counts else []
    pos = (
        np.concatenate(
            [starts[g] + np.arange(counts[g]) for g in groups]
        )
        if groups
        else np.array([], dtype=np.int64)
    )
    assert len(pos) == n
    keep = ~np.isin(pos, np.fromiter(dead, dtype=np.int64))
    return pa.array(keep)


# executor-process cache of loaded tombstone key sets: tasks of one scan
# (and successive scans of the same version) share the read. Bounded —
# tombstone sets are tiny (deleted keys), and the map is cleared at 16
# entries rather than LRU-tracked.
_DEAD_KEY_CACHE: dict = {}


def _load_dead_keys(paths: tuple, keys: tuple):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ck = (paths, keys)
    if ck not in _DEAD_KEY_CACHE:
        if len(_DEAD_KEY_CACHE) >= 16:
            _DEAD_KEY_CACHE.clear()
        tabs = [pq.read_table(p, columns=list(keys)) for p in paths]
        dead = pa.concat_tables(tabs)
        # a NULL in any key column matches nothing under equality
        # (Spark left_anti semantics): drop such rows from the dead set
        mask = None
        for k in keys:
            v = dead[k].is_valid()
            mask = v if mask is None else pc.and_(mask, v)
        if mask is not None:
            dead = dead.filter(mask)
        _DEAD_KEY_CACHE[ck] = dead
    return _DEAD_KEY_CACHE[ck]


def _tombstone_keep_mask(partition, tbl, n: int, paths=None):
    """Boolean keep-mask for one projected batch table against the
    partition's applicable tombstone union — the executor-side Arrow
    form of ``_scan_with_tombstones``'s left-anti join. Returns None when
    every row survives trivially (a key column reads all-NULL here:
    NULL = x is never true). Single-key sets match via vectorized
    ``is_in``; composite keys via a pandas indicator merge (both C-side,
    no per-row Python). ``paths`` overrides the partition's tombstone
    files (the streaming CDF planner inverts this mask to SELECT a key
    delete's rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = list(partition.tombstone_keys)
    dead = _load_dead_keys(
        tuple(paths if paths is not None else partition.tombstones),
        tuple(keys),
    )
    if dead.num_rows == 0:
        return None
    mapping = getattr(partition, "mapping", None) or {}
    key_arrs = {}
    for k in keys:
        phys = (
            k
            if tbl is not None and k in tbl.column_names
            else (
                mapping.get(k)
                if tbl is not None and mapping.get(k) in tbl.column_names
                else None
            )
        )
        if phys is not None:
            key_arrs[k] = tbl[phys]
        elif k in partition.partition_values:
            v = partition.partition_values[k]
            if v is None:
                return None  # NULL partition value: no row matches
            key_arrs[k] = pa.array([v] * n).cast(dead.schema.field(k).type)
        else:
            return None  # pre-evolution: key column all-NULL, all survive
    if len(keys) == 1:
        k = keys[0]
        vals = dead[k].combine_chunks()
        arr = key_arrs[k]
        if arr.type != vals.type:
            arr = arr.cast(vals.type)
        hit = pc.fill_null(pc.is_in(arr, value_set=vals), False)
        return pc.invert(hit)
    # composite key: indicator merge (dead set deduped so the left row
    # count is preserved; left order is preserved by how='left')
    left = pa.table({k: key_arrs[k] for k in keys}).to_pandas()
    dd = dead.to_pandas().drop_duplicates()
    merged = left.merge(dd, on=keys, how="left", indicator=True)
    return pa.array((merged["_merge"] == "left_only").to_numpy())


# default split target: one input partition per ~128 MiB of parquet
# (Spark's own maxPartitionBytes default) — files smaller than this stay
# one task; a 1 GiB 8-group file plans ~8.
_TARGET_SPLIT_BYTES = 128 * 1024 * 1024


class SnapshotReader(DataSourceReader):
    def __init__(
        self, manifest: dict, schema: StructType, options: dict | None = None
    ):
        self.manifest = manifest
        self.schema = schema
        self.options = options or {}
        self.where: list[tuple] = []

    def pushFilters(self, filters):
        for f in filters:
            op = _OP_BY_FILTER.get(type(f))
            # only simple single-column comparisons prune; everything
            # else is left entirely to Spark
            if op is not None and len(f.attribute) == 1:
                if op in ("is_null", "is_not_null"):
                    val = None  # value-less ops
                elif op == "in":
                    val = list(f.value)
                else:
                    val = f.value
                self.where.append((f.attribute[0], op, val))
            # coarse file-level pruning can never fully satisfy a
            # row-level predicate: return EVERY filter for Spark to
            # re-apply (sound by construction)
            yield f

    def partitions(self):
        # CONSUME the pushed filters: Spark can reuse one reader instance
        # across plannings of the same DataFrame, and an unfiltered query
        # planned after a filtered one skips the pushFilters phase — a
        # reader that kept yesterday's filters would then silently prune
        # files the new query needs (observed: df.filter(...).collect()
        # then df.collect() returned 10 of 30 rows). Filters apply to
        # exactly ONE partitions() call.
        where, self.where = self.where, []
        files = (
            prune_files(self.manifest, where)
            if where
            else self.manifest["files"]
        )
        from f1_bigdata_pyspark_spark.sources.snapshots import (
            FILE_META_KEY,
            _file_masks,
            _stat_to_py,
        )

        split = self.options.get("split_row_groups", "true") != "false"
        gpp_opt = self.options.get("groups_per_partition")
        parts = self.manifest.get("partitions", {})
        stats = self.manifest.get("stats", {})
        # MERGE-ON-READ: each file ships the seq-scoped tombstones and
        # the deletion-vector bucket slices that apply to it — the same
        # masks _scan_with_tombstones applies
        t_keys = self.manifest.get("tombstone_keys") or []
        masks = _file_masks(self.manifest, files)
        out = []
        for f in files:
            pv = {
                col: (None if tv is None else _stat_to_py(tv))
                for col, tv in parts.get(f, {}).items()
            }
            tombs, dv_dirs = masks[f]
            # ROW-GROUP-RANGE SPLITTING (round 8): the manifest's file
            # meta (recorded at commit, no driver footer read here) says
            # how many row groups the file has; large files plan SEVERAL
            # input partitions, each a contiguous group range sized to
            # ~_TARGET_SPLIT_BYTES, so one huge file no longer serializes
            # through one task. Files committed before the meta existed
            # (no FILE_META_KEY) fall back to one partition, unchanged.
            meta = stats.get(f, {}).get(FILE_META_KEY) or {}
            nan_free = [
                c
                for c, e in stats.get(f, {}).items()
                if c != FILE_META_KEY
                and isinstance(e, dict)
                and e.get("nanc") == 0
            ]
            ng = int(meta.get("ng") or 1)
            if split and ng > 1:
                if gpp_opt is not None:
                    gpp = max(1, int(gpp_opt))
                else:
                    per_group = max(1, int(meta.get("bytes") or 0) // ng)
                    gpp = max(1, _TARGET_SPLIT_BYTES // per_group)
                for i in range(0, ng, gpp):
                    part = SnapshotFilePartition(
                        f,
                        pv,
                        where,
                        list(range(i, min(i + gpp, ng))),
                        tombs,
                        t_keys,
                        self.manifest.get("column_mapping"),
                        nan_free,
                    )
                    part.dv_dirs = dv_dirs
                    out.append(part)
            else:
                part = SnapshotFilePartition(
                    f,
                    pv,
                    where,
                    None,
                    tombs,
                    t_keys,
                    self.manifest.get("column_mapping"),
                    nan_free,
                )
                part.dv_dirs = dv_dirs
                out.append(part)
        return out

    def read(self, partition):
        yield from _read_partition_batches(self.schema, partition)


def _log_versions(root: str) -> list[int]:
    """Junk-tolerant manifest version listing (same rule as
    SnapshotTable.versions)."""
    mdir = os.path.join(root, "_manifests")
    out = []
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _log_manifest(root: str, v: int) -> dict:
    # resolves round-9 incremental (delta) manifest records to the
    # complete checkpoint form every consumer here expects
    from f1_bigdata_pyspark_spark.sources.snapshots import load_manifest

    return load_manifest(root, v)


def _log_manifest_from(root: str, v: int, base: dict | None) -> dict:
    """Resolve ``v`` reusing an already-resolved ``base`` manifest when the
    on-disk record is a delta against exactly ``base['version']`` (r11:
    sequential per-version planners walk O(versions) instead of
    O(versions × delta-chain); falls back to the full resolution
    otherwise — content-identical, same merge step)."""
    import json as _json

    from f1_bigdata_pyspark_spark.sources.snapshots import _apply_delta

    if base is not None:
        path = os.path.join(root, "_manifests", f"v{v}.json")
        try:
            raw = _json.loads(open(path).read())
        except FileNotFoundError:
            return _log_manifest(root, v)
        if "delta_of" not in raw:
            return raw
        if raw["delta_of"] == base.get("version"):
            return _apply_delta(raw, base)
    return _log_manifest(root, v)


def _plan_added_partitions(
    root: str,
    lo: int,
    hi: int,
    ignore_deletes: bool = False,
    ignore_changes: bool = False,
) -> list:
    """One SnapshotFilePartition per file ADDED in (lo, hi] — the shared
    micro-batch planner of both stream readers. Walks RETAINED versions
    only (compact_log leaves a sparse log; manifests are cumulative, so
    files added by dropped intermediates surface in the next retained
    one and the set difference still delivers exactly once). Raises the
    re-sync error on non-append versions AND on files that VANISHED
    between retained manifests (a non-append hidden inside a
    compacted-away intermediate).

    DELTA-PARITY RELAXATIONS (round 9, opt-in like Delta's):
    - ``ignore_deletes`` (option ``ignoreDeletes``): versions whose mode
      is ``delete`` (key tombstones) or ``delete-dv`` (positional
      vectors) pass — they remove ZERO data files, so the append-only
      set difference stays exactly-once on the file level; the consumer
      accepts that rows it already received may since have been deleted
      upstream (Delta's documented ignoreDeletes contract).
    - ``ignore_changes`` (option ``ignoreChanges``, implies the above):
      ANY mode passes and the vanished-file guard is off; each
      version's ADDED files are emitted, so a rewrite (CoW DML, merge,
      optimize, update-dv images) RE-EMITS its surviving rows — the
      consumer must tolerate duplicates, Delta's documented
      ignoreChanges contract.

    MASKED EMISSION (round 10): every emitted file carries the
    seq-scoped tombstones and deletion-vector bucket dirs its OWN
    manifest holds for it — exactly like ``SnapshotReader.partitions``.
    Matters for the BASELINE of a fresh stream on a compacted/vacuumed
    log: the earliest retained manifest may carry live tombstones/dvs
    over its cumulative file set, and emitting those files unmasked
    would deliver deleted rows as live. For incremental appends the
    masks are empty by construction (a new file's seq equals its
    version, so no tombstone postdates it, and a vector names only
    pre-existing paths) — zero cost on the hot path."""
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        _file_masks,
        _stat_to_py,
    )

    if hi <= lo:
        return []
    available = set(_log_versions(root))
    seen: set[str] = set()
    ref_names: list | None = None
    ref_mapping: dict | None = None
    if lo >= 0:
        if lo not in available:
            # vacuum/compaction removed the manifest that proves what
            # this checkpoint already delivered — continuing would
            # either duplicate or drop rows
            raise ValueError(
                f"checkpointed version v{lo} has been vacuumed away — "
                "the stream cannot prove which rows it already "
                "delivered; re-sync from a fresh checkpoint"
            )
        m_lo = _log_manifest(root, lo)
        seen = set(m_lo["files"])
        ref_names = [f["name"] for f in json.loads(m_lo["schema"])["fields"]]
        ref_mapping = m_lo.get("column_mapping") or {}
        first = lo + 1
        baseline = None
        prev_m = m_lo
    else:
        # FRESH stream on a possibly-vacuumed table: the earliest
        # RETAINED manifest is the baseline snapshot — its CUMULATIVE
        # file set carries all surviving history, whatever the mode
        # that produced it (Delta's initial-snapshot semantics)
        first = min(available)
        baseline = first
        prev_m = None
    out = []
    for v in sorted(x for x in available if first <= x <= hi):
        m = _log_manifest_from(root, v, prev_m)
        names = [f["name"] for f in json.loads(m["schema"])["fields"]]
        if ref_names is None:
            ref_names = names
            ref_mapping = m.get("column_mapping") or {}
        elif (
            names[: len(ref_names)] != ref_names
            or (m.get("column_mapping") or {}) != ref_mapping
        ):
            # a RENAME or DROP landed mid-stream: the checkpointed
            # schema's names no longer describe the newer files, and
            # silently NULL-filling a renamed column would be row loss
            # in disguise (additive evolution — a pure suffix of new
            # columns — stays fine: old readers just don't see them)
            raise ValueError(
                f"schema names changed at v{v} (rename/drop) — the "
                "stream cannot keep reading under its start-time "
                "schema; re-sync from a fresh snapshot read"
            )
        mode_ok = (
            m["mode"] == "append"
            # dv-consolidate is logically row-preserving AND adds/removes
            # no data files: the set difference emits nothing, so it is
            # exactly as safe as an append for every delivery contract
            or m["mode"] == "dv-consolidate"
            or ignore_changes
            or (
                ignore_deletes
                and m["mode"] in ("delete", "delete-dv")
            )
        )
        if (
            v != baseline
            and prev_m is not None
            and not ignore_changes
            and not ignore_deletes
        ):
            # HIDDEN row-level DML inside a compacted gap (round 10): a
            # delete-dv/delete dropped by compact_log leaves a retained
            # "append"/"dv-consolidate" manifest whose MASKS changed —
            # the mode check alone cannot see it, but delivering under
            # the strict contract would silently serve stale rows. A
            # NON-gap dv-consolidate changes masks truthfully (row-
            # preserving vs its direct predecessor) and stays allowed.
            mask_delta = {
                t["path"] for t in prev_m.get("tombstones") or []
            } != {t["path"] for t in m.get("tombstones") or []} or {
                d["dir"] for d in prev_m.get("dvs") or []
            } != {d["dir"] for d in (m.get("dvs") or [])}
            explained = m["mode"] in ("delete", "delete-dv") or (
                m["mode"] == "dv-consolidate"
                and v == prev_m["version"] + 1
            )
            if mask_delta and not explained:
                raise ValueError(
                    f"row-level deletes changed between v{prev_m['version']} "
                    f"and v{v} (a delete was compacted away) — the strict "
                    "append-only contract cannot deliver this history; "
                    "re-sync from a snapshot read, or pass "
                    "ignoreDeletes/ignoreChanges to accept the relaxed "
                    "delivery contract"
                )
        if v != baseline and not mode_ok:
            raise ValueError(
                f"v{v} is {m['mode']!r}, not append — the change "
                "feed is broken; re-sync from a snapshot read, or pass "
                "ignoreDeletes/ignoreChanges to accept the relaxed "
                "delivery contract"
            )
        if v != baseline and not ignore_changes and seen - set(m["files"]):
            # a file DISAPPEARED between retained manifests: a
            # non-append (overwrite/delete/rollback) hid inside a
            # compacted-away intermediate — the mode check alone cannot
            # see it, but silent row loss must not pass
            raise ValueError(
                f"files vanished before v{v} (a non-append version "
                "was compacted away) — the change feed is broken; "
                "re-sync from a snapshot read"
            )
        parts = m.get("partitions", {})
        t_keys = m.get("tombstone_keys") or []
        fresh = [f for f in m["files"] if f not in seen]
        seen.update(fresh)
        masks = _file_masks(m, fresh)
        for f in fresh:
            pv = {
                col: (None if tv is None else _stat_to_py(tv))
                for col, tv in parts.get(f, {}).items()
            }
            tombs, dv_dirs = masks[f]
            part = SnapshotFilePartition(
                f,
                pv,
                tombstones=tombs,
                tombstone_keys=t_keys,
                mapping=m.get("column_mapping"),
            )
            part.dv_dirs = dv_dirs
            out.append(part)
        prev_m = m
    return out


_CDF_TYPE_COL = "_change_type"
_CDF_VERSION_COL = "_commit_version"


def _plan_cdf_partitions(
    root: str, lo: int, hi: int, where: list | None = None
) -> list:
    """Partition plan of the STREAMING change data feed for versions in
    (lo, hi] — the executor-parallel twin of ``read_row_changes_since``
    for the merge-on-read DML family. Each partition emits rows of one
    file tagged with a constant ``_change_type``/``_commit_version``
    (ridden in through ``partition_values``, so the ordinary projection
    machinery attaches them):

    - ``append`` (and metadata-only versions): the added files, as
      ``insert``.
    - ``delete-dv``: one partition per touched file with the new
      vector's bucket dir as a POSITIVE selection (``dv_select``) —
      the vector names only live-at-prev rows by construction, so the
      selected rows ARE the delete's images, no prev masks needed.
    - ``update-dv``: the same selection as ``update_preimage`` plus the
      version's added files as ``update_postimage``.
    - ``delete`` (key tombstones): one partition per PREDATING file
      carrying the prev version's liveness masks AND the new tombstone
      paths as a positive key selection — emits rows that were live and
      are now dead, as ``delete``.
    - row-preserving maintenance (``dv-consolidate``,
      ``optimize-incremental``, ``optimize-deletions``): nothing.
    - any version whose manifest carries ``change_data`` (round 11:
      CoW delete/update, merge, replace_where — always; overwrite /
      rollback — opt-in): one partition per recorded image file, its
      ``_change_type`` riding in from the per-type record. The images
      were computed at COMMIT time by the writer that already held the
      pre/post rows (Delta's ``_change_data`` mechanism), so the
      streaming feed is now TOTAL over the DML matrix this codebase's
      writers produce.
    - anything else (plain optimize's overwrite, a pre-round-11 CoW
      version, opt-out overwrite/rollback): RAISES — without recorded
      images a rewrite's row changes need the two-sided multiset diff,
      which is the batch feed's job (``read_row_changes_since``).

    A fresh stream (lo = -1) emits the earliest RETAINED version's
    files as ``insert`` THROUGH that manifest's own masks (initial
    snapshot semantics).

    ``where`` (round 11, batch CDF only — the streaming protocol has no
    pushdown hook): a pushed conjunction of simple predicates. Files
    the owning manifest's evidence (min/max, nulls, blooms, partition
    points) PROVES empty for the conjunction plan no partition at all,
    and the conjunction rides into every surviving partition for
    row-group skipping — sound because a pruned file contributes no
    row the re-applied filter would keep (pruning a DELETE's images by
    a data predicate is the same argument: no matching row ⇒ no
    matching change row)."""
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        _ROW_PRESERVING_MODES,
        _bucket_of,
        _file_masks,
        _stat_to_py,
        prune_files,
    )

    if hi <= lo:
        return []
    available = set(_log_versions(root))
    if lo >= 0 and lo not in available:
        raise ValueError(
            f"checkpointed version v{lo} has been vacuumed away — the "
            "change feed cannot prove which rows it already delivered; "
            "re-sync from a fresh checkpoint"
        )
    out: list = []
    ref_names: list | None = None
    where = [tuple(w) for w in (where or [])]

    def _mk_part(m, f, ctype, version, **extra):
        if where:
            sub = dict(m)
            sub["files"] = [f]
            if not prune_files(sub, where):
                return None  # evidence proves no matching row here
        parts_map = m.get("partitions", {})
        pv = {
            col: (None if tv is None else _stat_to_py(tv))
            for col, tv in parts_map.get(f, {}).items()
        }
        pv[_CDF_TYPE_COL] = ctype
        pv[_CDF_VERSION_COL] = version
        p = SnapshotFilePartition(
            f,
            pv,
            where=list(where),  # rides in for row-group skipping
            tombstones=extra.get("tombstones"),
            tombstone_keys=extra.get("tombstone_keys"),
            mapping=m.get("column_mapping"),
        )
        p.dv_dirs = extra.get("dv_dirs", [])
        if "dv_select" in extra:
            p.dv_select = extra["dv_select"]
        if "tombstone_select" in extra:
            p.tombstone_select = extra["tombstone_select"]
        return p

    def _add(p) -> None:
        if p is not None:
            out.append(p)

    if lo >= 0:
        pm = _log_manifest(root, lo)
        first = lo + 1
        ref_names = [f["name"] for f in json.loads(pm["schema"])["fields"]]
    else:
        baseline = min(available)
        pm = _log_manifest(root, baseline)
        ref_names = [f["name"] for f in json.loads(pm["schema"])["fields"]]
        first = baseline + 1
        # initial snapshot: live rows of the baseline, as inserts —
        # THROUGH the baseline's own masks (same fix as the plain
        # stream's baseline, round 10)
        masks = _file_masks(pm, pm["files"])
        for f in pm["files"]:
            _add(
                _mk_part(
                    pm,
                    f,
                    "insert",
                    baseline,
                    tombstones=masks[f][0],
                    tombstone_keys=pm.get("tombstone_keys") or [],
                    dv_dirs=masks[f][1],
                )
            )
    for v in sorted(x for x in available if first <= x <= hi):
        m = _log_manifest_from(root, v, pm)
        names = [f["name"] for f in json.loads(m["schema"])["fields"]]
        if names[: len(ref_names)] != ref_names:
            raise ValueError(
                f"schema names changed at v{v} (rename/drop) — the "
                "change feed cannot keep reporting under its start-time "
                "schema; re-sync from a fresh snapshot read"
            )
        mode = m.get("mode")
        pf = set(pm["files"])
        added = [f for f in m["files"] if f not in pf]
        vanished = pf - set(m["files"])
        if v != pm["version"] + 1:
            # a COMPACTED GAP: the dropped intermediates' modes are
            # gone, so the per-mode fast paths below cannot be trusted —
            # the surviving manifests must PROVE the gap was append-only
            # (identical masks, no vanished files) or the feed refuses.
            # Without this check a delete-dv hidden inside the gap would
            # deliver its rows as still-live (mode says "append", the
            # new vector never surfaces).
            prev_tomb = {t["path"] for t in pm.get("tombstones") or []}
            cur_tomb = {t["path"] for t in (m.get("tombstones") or [])}
            prev_dvd = {d["dir"] for d in pm.get("dvs") or []}
            cur_dvd = {d["dir"] for d in (m.get("dvs") or [])}
            if vanished or prev_tomb != cur_tomb or prev_dvd != cur_dvd:
                raise ValueError(
                    f"versions between v{pm['version']} and v{v} were "
                    "compacted away and the surviving manifests show "
                    "row-level changes the streaming feed cannot "
                    "attribute — consume the batch feed "
                    "(read_row_changes_since, which diffs states) or "
                    "re-sync from a snapshot read"
                )
            for f in added:
                _add(_mk_part(m, f, "insert", v))
            pm = m
            continue
        if mode in _ROW_PRESERVING_MODES:
            pm = m
            continue
        cd = m.get("change_data")
        if cd is not None:
            # round 11: the commit WROTE its change-data files (CoW
            # delete/update, merge, replace_where, opt-in overwrite /
            # rollback) — one partition per image file, the type riding
            # in from the manifest's per-type record (the files are
            # plain full-width parquet, no masks apply). EMPTY types =
            # positive proof of a no-row-change commit, emit nothing.
            # The entry's own footer stats stand in for manifest stats
            # so a pushed predicate prunes image files too.
            mm = {**m, "stats": cd.get("stats") or {}}
            for ctype in sorted(cd.get("types") or {}):
                for f in cd["types"][ctype]:
                    _add(_mk_part(mm, f, ctype, v))
            pm = m
            continue
        if mode == "append" and not vanished:
            for f in added:
                _add(_mk_part(m, f, "insert", v))
        elif mode in ("delete-dv", "update-dv") and not vanished:
            prev_dirs = {d["dir"] for d in pm.get("dvs") or []}
            new_recs = [
                d
                for d in (m.get("dvs") or [])
                if d["dir"] not in prev_dirs
            ]
            if len(new_recs) != 1:
                raise ValueError(
                    f"v{v} ({mode}) carries {len(new_recs)} new deletion "
                    "vectors — not a single-commit shape; re-sync"
                )
            rec = new_recs[0]
            del_t = "delete" if mode == "delete-dv" else "update_preimage"
            for f in rec["files"]:
                _add(
                    _mk_part(
                        m,
                        f,
                        del_t,
                        v,
                        dv_select=[
                            os.path.join(
                                rec["dir"],
                                f"__b={_bucket_of(f, int(rec['n_buckets']))}",
                            )
                        ],
                    )
                )
            if mode == "update-dv":
                for f in added:
                    _add(_mk_part(m, f, "update_postimage", v))
        elif mode == "delete" and not added and not vanished:
            prev_paths = {t["path"] for t in pm.get("tombstones") or []}
            new_paths = [
                t["path"]
                for t in (m.get("tombstones") or [])
                if t["path"] not in prev_paths
            ]
            masks = _file_masks(pm, m["files"])
            for f in m["files"]:
                _add(
                    _mk_part(
                        m,
                        f,
                        "delete",
                        v,
                        # liveness at PREV (earlier deletes must not
                        # re-emit) composed with the new-key selection
                        tombstones=masks[f][0],
                        tombstone_keys=m.get("tombstone_keys") or [],
                        dv_dirs=masks[f][1],
                        tombstone_select=new_paths,
                    )
                )
        else:
            raise ValueError(
                f"v{v} is {mode!r} and carries no change-data files — "
                "the STREAMING change feed covers the merge-on-read DML "
                "family, the commits that wrote change data (CoW "
                "delete/update, merge, replace_where, overwrite with "
                "change_data=True, rollback with spark=), and "
                "maintenance; this rewrite's row changes need the batch "
                "feed (read_row_changes_since) after a re-sync"
            )
        pm = m
    return out


class SnapshotCDFStreamReader(DataSourceStreamReader):
    """STREAMING CHANGE DATA FEED (round 10 — Delta's
    ``readChangeFeed`` parity): ``spark.readStream.format("snapshot")
    .option("root", …).option("readChangeFeed", "true")`` delivers the
    table's ROW-LEVEL changes — schema = table columns +
    ``_change_type`` + ``_commit_version`` — with version-number
    offsets (checkpointable, deterministic replay: a (start, end]
    names immutable manifests and vectors). Executor-parallel: each
    micro-batch plans one partition per changed FILE; a delete's rows
    come from the deletion vector's bucket slice (a positive position
    selection — O(changed rows) read), never from rescanning the
    table. This is what lets a downstream maintained view or ANN index
    tail a 100 TB table THROUGH GDPR deletes with O(changes) work."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        starting_version: int | None = None,
    ):
        self.root = root
        self.schema = schema
        # Delta's startingVersion: begin the feed AT this version's
        # changes instead of the initial full snapshot — the consumer
        # that already holds a materialization of version N-1 tails
        # from N without re-receiving the table
        self.starting_version = starting_version

    def initialOffset(self) -> dict:
        if self.starting_version is None:
            return {"version": -1}
        sv = int(self.starting_version)
        vs = _log_versions(self.root)
        if sv - 1 >= 0 and sv - 1 not in vs:
            raise ValueError(
                f"startingVersion={sv} needs retained version v{sv - 1} "
                "as its delivery baseline, which has been vacuumed away "
                "— start from an available version or drop the option "
                "for the initial-snapshot feed"
            )
        return {"version": sv - 1}

    def latestOffset(self) -> dict:
        vs = _log_versions(self.root)
        return {"version": vs[-1] if vs else -1}

    def partitions(self, start: dict, end: dict):
        return _plan_cdf_partitions(
            self.root, start["version"], end["version"]
        )

    def read(self, partition):
        yield from _read_partition_batches(self.schema, partition)

    def commit(self, end: dict) -> None:
        pass


def _parse_ts(v) -> float:
    """Unix seconds or an ISO timestamp — the same dual spelling as the
    batch reader's ``timestampAsOf``."""
    try:
        return float(v)
    except ValueError:
        import datetime

        return datetime.datetime.fromisoformat(str(v)).timestamp()


def _first_version_at_or_after(root: str, ts: float) -> int:
    """Smallest retained version committed at or after ``ts`` (Delta's
    ``startingTimestamp`` resolution). A timestamp past the last commit
    raises — Delta's 'provided timestamp is after the latest version'
    contract, made explicit."""
    for v in _log_versions(root):
        at = _log_manifest(root, v).get("committed_at", float("-inf"))
        if at >= ts:
            return v
    raise ValueError(
        f"startingTimestamp {ts} is after the latest commit — nothing "
        "to read; drop the option or pass an earlier timestamp"
    )


class SnapshotCDFSimpleStreamReader(SimpleDataSourceStreamReader):
    """ADMISSION-CONTROLLED streaming change data feed (round 11):
    ``readChangeFeed`` + ``maxVersionsPerTrigger`` caps how many
    VERSIONS one micro-batch drains, so a CDF consumer recovering from
    a long outage replays history in bounded epochs instead of one
    giant batch. Version granularity is the honest unit for a change
    feed: offsets are version numbers, a version's changes land
    atomically in one batch (a consumer folding a maintained view never
    observes half a commit), and ≥1 version per batch is the progress
    guarantee. Built on the Simple protocol for the same reason as
    ``SnapshotSimpleStreamReader``: its ``read(start)`` RECEIVES the
    checkpointed start, so restart capping is exact. Batches
    materialize driver-side — bounded by the versions admitted; cap
    the budget accordingly (file/byte budgets are refused for the CDF
    because image files carry no commit-time byte meta)."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        max_versions: int,
        starting_version: int | None = None,
    ):
        if max_versions < 1:
            raise ValueError("maxVersionsPerTrigger must be >= 1")
        self.root = root
        self.schema = schema
        self.max_versions = int(max_versions)
        self.starting_version = starting_version

    def initialOffset(self) -> dict:
        if self.starting_version is None:
            return {"version": -1}
        sv = int(self.starting_version)
        vs = _log_versions(self.root)
        if sv - 1 >= 0 and sv - 1 not in vs:
            raise ValueError(
                f"startingVersion={sv} needs retained version v{sv - 1} "
                "as its delivery baseline, which has been vacuumed away "
                "— start from an available version or drop the option "
                "for the initial-snapshot feed"
            )
        return {"version": sv - 1}

    def _rows_between(self, lo: int, hi: int):
        for p in _plan_cdf_partitions(self.root, lo, hi):
            for batch in _read_partition_batches(self.schema, p):
                cols = [c.to_pylist() for c in batch.columns]
                yield from zip(*cols)

    def read(self, start: dict):
        lo = start["version"]
        vs = _log_versions(self.root)
        latest = vs[-1] if vs else -1
        if latest <= lo:
            return iter(()), start
        # a fresh feed's initial snapshot (the baseline version) counts
        # as one admitted version — it is usually the bulk of the rows
        pending = [v for v in vs if v > lo]
        end = pending[: self.max_versions][-1]
        return (
            iter(list(self._rows_between(lo, end))),
            {"version": end},
        )


class SnapshotCDFBatchReader(DataSourceReader):
    """BATCH change data feed (round 11 — Delta's ``table_changes``):
    ``spark.read.format("snapshot").option("root", …)
    .option("readChangeFeed", "true")`` with optional
    ``startingVersion`` (default: initial snapshot — the earliest
    retained version's live rows as ``insert``, then every change) and
    ``endingVersion`` (default: the head). Plans the SAME executor-
    parallel partitions as the streaming feed — change-data image files
    for CoW commits, DV bucket-slice positive selections for MoR
    deletes — so a bounded "what changed between v10 and v20" audit
    reads O(changed files + changed rows), never the table. Combine
    with ``columns`` to narrow the feed to the columns a consumer folds
    (projection pushdown: the executor fetches only those byte ranges).

    Versions must be provable: a vacuumed ``startingVersion-1`` raises
    (the delivery baseline is gone), and ``endingVersion`` must name a
    RETAINED version — a compacted-away intermediate would silently
    truncate the range's changes at the previous retained manifest."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        starting_version: int | None,
        ending_version: int | None,
    ):
        self.root = root
        self.schema = schema
        vs = _log_versions(root)
        if not vs:
            raise FileNotFoundError(f"no commits at {root}")
        if ending_version is None:
            ending_version = vs[-1]
        elif ending_version not in vs:
            raise ValueError(
                f"endingVersion={ending_version} is not a retained "
                "version — a compacted-away bound would silently drop "
                f"its changes; retained: v{vs[0]}..v{vs[-1]}"
            )
        if starting_version is None:
            self.lo = -1
        else:
            sv = int(starting_version)
            if sv - 1 >= 0 and sv - 1 not in vs:
                raise ValueError(
                    f"startingVersion={sv} needs retained version "
                    f"v{sv - 1} as its delivery baseline, which has been "
                    "vacuumed away — start from an available version or "
                    "drop the option for the initial-snapshot feed"
                )
            self.lo = sv - 1
        self.hi = int(ending_version)
        self.where: list = []

    def pushFilters(self, filters):
        # same contract as SnapshotReader: simple single-column
        # comparisons prune change partitions / skip row groups; every
        # filter is returned for Spark to re-apply (sound — coarse
        # pruning never fully satisfies a row-level predicate)
        for f in filters:
            op = _OP_BY_FILTER.get(type(f))
            if op is not None and len(f.attribute) == 1:
                if op in ("is_null", "is_not_null"):
                    val = None
                elif op == "in":
                    val = list(f.value)
                else:
                    val = f.value
                self.where.append((f.attribute[0], op, val))
            yield f

    def partitions(self):
        # consume-once, like SnapshotReader.partitions (engine may reuse
        # the reader for a later unfiltered planning)
        where, self.where = self.where, []
        return _plan_cdf_partitions(self.root, self.lo, self.hi, where)

    def read(self, partition):
        yield from _read_partition_batches(self.schema, partition)


def _admit_until(
    root: str,
    base: int,
    latest: int,
    max_files: int | None,
    max_bytes: int | None,
) -> tuple[int, int]:
    """(largest version in (base, latest] whose cumulative ADDED files
    and bytes fit the trigger budget, admitted bytes) — at least one
    version is always admitted (progress guarantee even when a single
    commit exceeds the budget; the caller's driver-memory ceiling then
    decides whether that oversized batch may actually materialize).
    Appends are cumulative manifests, so a version's additions are its
    files minus everything already seen; byte sizes come from the
    manifest's commit-time file meta (pre-meta files count 0 bytes —
    use the files cap for pre-meta tables)."""
    from f1_bigdata_pyspark_spark.sources.snapshots import FILE_META_KEY

    available = set(_log_versions(root))
    if base >= 0 and base in available:
        seen = set(_log_manifest(root, base)["files"])
        first = base + 1
    else:
        # same baseline rule as the partition planner: fresh/vacuumed
        # history starts at the earliest retained manifest
        seen = set()
        first = min(v for v in available if v > base)
    end = base
    n_files = 0
    n_bytes = 0
    m = None  # r11: sequential resolve — O(versions), not O(v × chain)
    for v in sorted(v for v in available if first <= v <= latest):
        m = _log_manifest_from(root, v, m)
        added = [f for f in m["files"] if f not in seen]
        stats = m.get("stats", {})
        b = sum(
            int((stats.get(f, {}).get(FILE_META_KEY) or {}).get("bytes") or 0)
            for f in added
        )
        if end > base and (
            (max_files is not None and n_files + len(added) > max_files)
            or (max_bytes is not None and n_bytes + b > max_bytes)
        ):
            break
        seen.update(added)
        n_files += len(added)
        n_bytes += b
        end = v
    return end, n_bytes


class SnapshotStreamReader(DataSourceStreamReader):
    """The snapshot table as a STREAMING source —
    ``spark.readStream.format("snapshot").option("root", …)`` tails the
    commit log exactly like Delta's streaming source: offsets are
    VERSION NUMBERS (checkpointable primitives), each micro-batch plans
    one input partition per file ADDED in (start, end] (set difference
    of consecutive manifests — appends never rewrite, so file-level
    deltas are row-level appends), and executors read those files
    straight to Arrow. Non-append versions (overwrite, delete, merge,
    rollback…) break the append contract and raise — the consumer must
    re-sync from a snapshot read, the same explicit contract as
    ``read_changes_since``. Replays are deterministic: a checkpointed
    (start, end] names immutable manifests, so failure recovery re-reads
    the identical file set.

    This is the UNCAPPED, partition-parallel reader. With
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` set, the source
    routes to ``SnapshotSimpleStreamReader`` instead — the plain
    ``DataSourceStreamReader`` protocol calls ``latestOffset()`` with no
    start argument (no SupportsAdmissionControl hook in the 4.1 Python
    API, and the engine calls it BEFORE ``initialOffset`` — traced), so
    correct capping is impossible here without risking offset
    regression."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        ignore_deletes: bool = False,
        ignore_changes: bool = False,
    ):
        self.root = root
        self.schema = schema
        self.ignore_deletes = ignore_deletes
        self.ignore_changes = ignore_changes

    def initialOffset(self) -> dict:
        return {"version": -1}  # fresh stream: nothing consumed yet

    def latestOffset(self) -> dict:
        vs = _log_versions(self.root)
        return {"version": vs[-1] if vs else -1}

    def partitions(self, start: dict, end: dict):
        return _plan_added_partitions(
            self.root,
            start["version"],
            end["version"],
            self.ignore_deletes,
            self.ignore_changes,
        )

    def read(self, partition):
        yield from _read_partition_batches(self.schema, partition)

    def commit(self, end: dict) -> None:
        pass  # manifests are immutable; nothing to clean up per epoch


class SnapshotSimpleStreamReader(SimpleDataSourceStreamReader):
    """ADMISSION-CONTROLLED stream reader (round 8):
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` cap how much backlog
    one micro-batch admits, so recovery-from-outage drains over several
    bounded epochs instead of planning everything into one giant batch.

    Built on ``SimpleDataSourceStreamReader`` because its ``read(start)``
    RECEIVES the start offset — the engine's prefetch wrapper hands the
    checkpointed position on restart (and ``readBetweenOffsets``
    replays in-flight batches deterministically), which makes capping
    exact in every lifecycle state; the plain stream-reader protocol
    never learns the start (``latestOffset()`` takes no argument and is
    called before ``initialOffset`` — traced), so it cannot cap a
    restarted query without risking offset regression. The trade-off is
    documented by Spark itself: Simple readers materialize each batch
    driver-side — exactly right here, because an admission-controlled
    batch is SMALL BY CONSTRUCTION (bounded by the budget).

    DRIVER-MEMORY CEILING (round 9): "bounded by the budget" is only a
    safety property if the budget itself is bounded — a
    ``maxBytesPerTrigger`` of tens of GB would funnel that much through
    one Python driver process. The reader therefore REFUSES budgets
    above ``driverBatchBytesCeiling`` (default 256 MB) at construction,
    and refuses AT ADMISSION TIME any single batch whose admitted bytes
    exceed the ceiling (a files-only budget over huge files, or one
    oversized commit that the progress guarantee would otherwise admit
    whole). The error names the remedies: raise the ceiling explicitly
    if the driver really has the memory, shrink the budget, or drop
    admission control entirely to get the partition-parallel reader
    (executor-side reads, no driver materialization) for full-table
    throughput."""

    DEFAULT_BYTES_CEILING = 256 << 20

    def __init__(
        self,
        root: str,
        schema: StructType,
        max_files: int | None,
        max_bytes: int | None,
        bytes_ceiling: int | None = None,
        ignore_deletes: bool = False,
        ignore_changes: bool = False,
    ):
        self.ignore_deletes = ignore_deletes
        self.ignore_changes = ignore_changes
        if max_files is not None and max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        if max_bytes is not None and max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        self.bytes_ceiling = (
            int(bytes_ceiling)
            if bytes_ceiling is not None
            else self.DEFAULT_BYTES_CEILING
        )
        if max_bytes is not None and max_bytes > self.bytes_ceiling:
            raise ValueError(
                f"maxBytesPerTrigger={max_bytes} exceeds the driver-side "
                f"batch ceiling ({self.bytes_ceiling} bytes): admission-"
                "controlled batches materialize in the DRIVER python "
                "process (SimpleDataSourceStreamReader protocol). Lower "
                "the budget, raise option 'driverBatchBytesCeiling' if "
                "the driver really has the memory, or unset the budget "
                "to stream through the partition-parallel reader."
            )
        self.root = root
        self.schema = schema
        self.max_files = max_files
        self.max_bytes = max_bytes

    def initialOffset(self) -> dict:
        return {"version": -1}

    def _rows_between(self, lo: int, hi: int):
        for p in _plan_added_partitions(
            self.root,
            lo,
            hi,
            self.ignore_deletes,
            self.ignore_changes,
        ):
            for batch in _read_partition_batches(self.schema, p):
                cols = [c.to_pylist() for c in batch.columns]
                yield from zip(*cols)

    def read(self, start: dict):
        lo = start["version"]
        vs = _log_versions(self.root)
        latest = vs[-1] if vs else -1
        if latest <= lo:
            return iter(()), start  # nothing new: offset unchanged
        end, admitted = _admit_until(
            self.root, lo, latest, self.max_files, self.max_bytes
        )
        if admitted > self.bytes_ceiling:
            # a files-only budget over huge files, or one oversized
            # commit the progress guarantee admitted whole — refuse
            # BEFORE materializing it in the driver
            raise RuntimeError(
                f"admitted micro-batch ({admitted} bytes across versions "
                f"({lo}, {end}]) exceeds the driver-side batch ceiling "
                f"({self.bytes_ceiling} bytes). Raise option "
                "'driverBatchBytesCeiling' if the driver really has the "
                "memory, lower maxFilesPerTrigger, or unset the trigger "
                "budget to stream through the partition-parallel reader."
            )
        # materialized, not a generator: the engine's prefetch wrapper
        # copy.copy()s the cached iterator per planning (generators are
        # not copyable), and the batch is budget-bounded anyway
        return iter(list(self._rows_between(lo, end))), {"version": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        # failure-recovery replay: (start, end] names immutable
        # manifests, so the re-read is byte-identical
        return iter(list(self._rows_between(start["version"], end["version"])))

    def commit(self, end: dict) -> None:
        pass


_TIME_STRFTIME = {
    "year": "%Y",
    "month": "%Y-%m",
    "day": "%Y-%m-%d",
    "hour": "%Y-%m-%d-%H",
}


def _executor_transform_values(t: dict, col) -> list:
    """Python value per row of transform ``t`` over one Arrow column —
    the executor-side twin of ``_transform_expr`` (which runs in Spark
    on the engine commit path). The renderings must agree EXACTLY, or
    the same table would prune differently depending on which writer
    produced a file: time transforms format in the column's own Arrow
    timezone (Spark stamps its session zone on the batches it sends, so
    this matches date_format's session-zone rendering), bucket replays
    the portable md5, truncate is floor/prefix arithmetic."""
    kind = t["kind"]
    if kind in _TIME_STRFTIME:
        import pandas as pd

        s = col.to_pandas()
        if s.dtype == object:
            # date32 columns arrive as objects (datetime.date) — the
            # .dt accessor needs datetime64
            s = pd.to_datetime(s)
        s = s.dt.strftime(_TIME_STRFTIME[kind])
        return [None if v != v else v for v in s]  # NaT -> NaN -> None
    vals = col.to_pylist()
    if kind == "bucket":
        import hashlib

        n = t["param"]
        return [
            None
            if v is None
            else int(
                hashlib.md5(str(v).encode("utf-8")).hexdigest()[:15], 16
            )
            % n
            for v in vals
        ]
    w = t["param"]  # truncate
    return [
        None
        if v is None
        else (v[:w] if isinstance(v, str) else (v // w) * w)
        for v in vals
    ]


def _resolve_write_layout(schema: StructType, specs: list[str]) -> list[dict]:
    """Driver-side validation of a write layout against the frame schema:
    returns one dict per spec — parsed transforms plus identity columns
    normalized to {"kind": "identity", ...}. Identity partition columns
    are restricted to integer/string types on this path (their value IS
    the manifest point stat; exotic renderings would diverge from the
    engine commit path's directory parse)."""
    from f1_bigdata_pyspark_spark.sources.snapshots import (
        _INTISH_TYPES,
        _parse_transform_spec,
    )

    type_of = {f.name: f.dataType.simpleString() for f in schema.fields}
    out = []
    for s in specs:
        t = _parse_transform_spec(s)
        if t is None:
            dt = type_of.get(s)
            if dt is None:
                raise ValueError(f"partition column {s!r} not in schema")
            if dt not in _INTISH_TYPES + ("string",):
                raise ValueError(
                    f"identity partition column {s!r} must be integer or "
                    f"string on the DataSource write path (is {dt}); use "
                    "a transform (day()/month()/...) for temporal layout"
                )
            out.append(
                {"kind": "identity", "param": None, "col": s, "name": s}
            )
            continue
        dt = type_of.get(t["col"])
        if dt is None:
            raise ValueError(
                f"transform {s!r} names a missing column {t['col']!r}"
            )
        if t["kind"] in ("year", "month", "day", "hour"):
            if dt not in ("timestamp", "timestamp_ntz", "date"):
                raise ValueError(
                    f"{t['kind']}() needs a timestamp/date column; "
                    f"{t['col']} is {dt}"
                )
        elif dt not in _INTISH_TYPES + ("string",):
            raise ValueError(
                f"{t['kind']}() needs an integer or string column; "
                f"{t['col']} is {dt}"
            )
        out.append(t)
    return out


def _split_specs(opt: str) -> list[str]:
    """Split a comma-joined partition-spec option at depth-0 commas only
    ("day(ts),bucket(4,k)" -> ["day(ts)", "bucket(4,k)"])."""
    out, buf, depth = [], [], 0
    for ch in opt:
        if ch == "," and depth == 0:
            if "".join(buf).strip():
                out.append("".join(buf).strip())
            buf = []
            continue
        depth += ch == "("
        depth -= ch == ")"
        buf.append(ch)
    if "".join(buf).strip():
        out.append("".join(buf).strip())
    return out


def _tagged_point(v):
    """A partition value in the manifest's tagged stat form."""
    if v is None:
        return None
    if isinstance(v, str):
        return ["str", v]
    return ["num", int(v)]


class SnapshotPartitionedWriteMessage(WriterCommitMessage):
    """One task's partitioned output: (path, footer stats, tagged
    partition point values) per file — one file per partition-value
    tuple the task held."""

    def __init__(self, entries: list):
        self.entries = entries


class SnapshotWriteMessage(WriterCommitMessage):
    def __init__(self, path: str | None, stats: dict, n_rows: int):
        self.path = path
        self.stats = stats
        self.n_rows = n_rows


class SnapshotWriter(DataSourceArrowWriter):
    """Two-phase snapshot write through Spark's own writer protocol —
    the executor/driver split the rest of sources/snapshots.py only
    simulates: each task streams its Arrow batches into ONE immutable
    parquet file under a shared commit dir and collects that file's
    footer stats LOCALLY (the driver never reads a footer); the driver's
    ``commit()`` then publishes the manifest atomically via
    ``publish_files`` (rebase-on-conflict, so concurrent jobs writing
    the same table all land). A failed job reaches ``abort()`` — the
    written files are unlinked, and even without that they are invisible
    orphans (no manifest references them) that vacuum reclaims: exactly
    the Delta commit protocol, driven by Spark's DataSource V2 write
    lifecycle instead of a bespoke sink.

    PARTITIONED WRITES (round 8): with a layout — inherited from the
    table head on append, or given via ``.option("partitionBy",
    "day(ts),bucket(8,k)")`` — each task splits its rows by the
    partition-value tuple (transforms computed executor-side, renderings
    pinned against the engine commit path) and writes ONE FILE PER
    GROUP, so every file's manifest point stats are valid. Files stay
    FLAT on disk with all columns in-file — Iceberg's model: partition
    values live in the manifest, not in directory names — which is why
    no Hive directory round-trip (quoting, type re-inference, duplicate
    column recovery) can corrupt them; hidden-transform pruning reads
    the same point stats either way."""

    def __init__(
        self,
        root: str,
        schema: StructType,
        overwrite: bool,
        layout: list[dict] | None = None,
        partition_specs: list[str] | None = None,
    ):
        self.root = root
        self.schema_json = schema.json()
        self.overwrite = overwrite
        self.layout = layout or None
        self.partition_specs = partition_specs or None
        import uuid as _uuid

        self.commit_id = _uuid.uuid4().hex[:12]  # one dir for all tasks

    def _out_dir(self) -> str:
        import os

        return os.path.join(self.root, "data", f"commit-{self.commit_id}")

    def write(self, iterator):
        import os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        from f1_bigdata_pyspark_spark.sources.snapshots import (
            _exact_stats_overlay,
            _file_column_stats,
        )

        batches = [b for b in iterator if b.num_rows > 0]
        if not batches:
            return SnapshotWriteMessage(None, {}, 0)
        out_dir = self._out_dir()
        os.makedirs(out_dir, exist_ok=True)
        pid = TaskContext.get().partitionId()
        tbl = pa.Table.from_batches(batches)
        if self.layout is None:
            path = os.path.join(
                out_dir, f"part-{pid:05d}-{_uuid.uuid4().hex[:8]}.parquet"
            )
            pq.write_table(tbl, path)
            # executor-side stats collection (min/max + null counts) —
            # the scale-correct half of the manifest, shipped in the
            # commit message. The exact overlay (NaN counts, long-string
            # bounds the footer truncates) folds the Arrow batches
            # ALREADY in this task's memory — zero extra I/O.
            st = _file_column_stats(path)
            _exact_stats_overlay(st, tbl)
            return SnapshotWriteMessage(path, st, tbl.num_rows)
        # partitioned: one output file per partition-value tuple held by
        # this task, so per-file point stats hold by construction
        names = [t["name"] for t in self.layout]
        value_cols = [
            tbl[t["col"]].to_pylist()
            if t["kind"] == "identity"
            else _executor_transform_values(t, tbl[t["col"]])
            for t in self.layout
        ]
        groups: dict[tuple, list[int]] = {}
        for i, key in enumerate(zip(*value_cols)):
            groups.setdefault(key, []).append(i)
        entries = []
        for j, (key, idxs) in enumerate(sorted(groups.items(), key=str)):
            path = os.path.join(
                out_dir,
                f"part-{pid:05d}-{_uuid.uuid4().hex[:8]}-g{j}.parquet",
            )
            sub = tbl.take(idxs)
            pq.write_table(sub, path)
            pv = {n: _tagged_point(v) for n, v in zip(names, key)}
            st = _file_column_stats(path)
            _exact_stats_overlay(st, sub)
            entries.append((path, st, pv))
        return SnapshotPartitionedWriteMessage(entries)

    def commit(self, messages):
        from f1_bigdata_pyspark_spark.sources.snapshots import SnapshotTable

        table = SnapshotTable(self.root)
        files, stats, partitions = [], {}, {}
        for m in messages:
            if m is None:
                continue
            for path, st, pv in self._entries_of(m):
                files.append(path)
                stats[path] = st
                if pv is not None:
                    partitions[path] = pv
        table.publish_files(
            sorted(files),
            stats,
            mode="overwrite" if self.overwrite else "append",
            schema_json=self.schema_json,
            partitions=partitions or None,
            partition_by=self.partition_specs,
        )

    @staticmethod
    def _entries_of(m):
        if isinstance(m, SnapshotPartitionedWriteMessage):
            return [(p, s, pv) for p, s, pv in m.entries]
        if getattr(m, "path", None):
            return [(m.path, m.stats, None)]
        return []

    def abort(self, messages):
        import os

        for m in messages:
            if m is None:
                continue
            for path, _st, _pv in self._entries_of(m):
                try:
                    os.unlink(path)
                except OSError:
                    pass  # unreferenced orphan either way — vacuum's job
        try:
            os.rmdir(self._out_dir())
        except OSError:
            pass  # non-empty (a task file survived) or never created


class SnapshotDataSource(DataSource):
    """``spark.read.format("snapshot").option("root", path)`` — options:
    ``root`` (required), ``version`` (optional int, default latest),
    ``timestampAsOf`` (optional — unix seconds or ISO timestamp; time
    travel by commit time, exclusive with ``version``),
    ``columns`` (optional comma list — project/read only these),
    ``split_row_groups`` ("true"/"false", default true — split large
    files into row-group-range input partitions), ``groups_per_partition``
    (optional int — override the ~128 MiB-target split size).
    Batch CHANGE DATA FEED (round 11 — Delta's ``table_changes``):
    ``.option("readChangeFeed", "true")`` on a BATCH read delivers the
    row-level changes for versions [``startingVersion``,
    ``endingVersion``] (defaults: initial snapshot → head; the
    ``startingTimestamp``/``endingTimestamp`` spellings resolve by
    commit time), and ``columns`` narrows the feed (projection
    pushdown) — see ``SnapshotCDFBatchReader``.

    Also writable: ``df.write.format("snapshot").option("root", path)
    .mode("append"|"overwrite").save()`` runs the two-phase commit in
    ``SnapshotWriter``; ``.option("partitionBy", "day(ts),bucket(8,k)")``
    lays the write out under a (hidden-transform) partition scheme —
    appends inherit the table's layout automatically.

    Streaming options (``spark.readStream.format("snapshot")``):
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` (admission control,
    driver-ceiling-guarded), ``ignoreDeletes`` / ``ignoreChanges``
    (Delta-parity relaxed delivery), and — round 10 —
    ``readChangeFeed`` ("true": deliver ROW-LEVEL changes with
    ``_change_type``/``_commit_version`` columns — total over the DML
    matrix via commit-time change-data files, round 11; see
    ``SnapshotCDFStreamReader``) with optional ``startingVersion``
    (begin at that version's changes instead of the initial snapshot)
    and optional ``maxVersionsPerTrigger`` (version-granular admission
    control through ``SnapshotCDFSimpleStreamReader``)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def _manifest(self) -> dict:
        # resolved ONCE per load() (memoized): schema() and reader() both
        # need it, and resolving twice is not just a double JSON read — a
        # commit landing between the two calls would pair version N+1's
        # schema with version N's file list inside one query plan
        cached = getattr(self, "_manifest_cache", None)
        if cached is not None:
            return cached
        self._manifest_cache = self._load_manifest()
        return self._manifest_cache

    def _load_manifest(self) -> dict:
        root = self.options.get("root")
        if not root:
            raise ValueError("snapshot source requires option 'root'")
        mdir = os.path.join(root, "_manifests")
        version = self.options.get("version")
        ts_as_of = self.options.get("timestampasof") or self.options.get(
            "timestampAsOf"
        )
        if version is not None and ts_as_of is not None:
            raise ValueError("pass option 'version' OR 'timestampAsOf'")
        if ts_as_of is not None:
            # Delta's timestampAsOf: unix seconds or an ISO timestamp
            from f1_bigdata_pyspark_spark.sources.snapshots import (
                SnapshotTable,
            )

            try:
                at = float(ts_as_of)
            except ValueError:
                import datetime

                at = datetime.datetime.fromisoformat(
                    str(ts_as_of)
                ).timestamp()
            version = SnapshotTable(root).version_as_of(at)
        if version is None:
            versions = []
            for f in os.listdir(mdir):
                if f.startswith("v") and f.endswith(".json"):
                    try:  # same junk tolerance as SnapshotTable.versions
                        versions.append(int(f[1:-5]))
                    except ValueError:  # vBACKUP.json etc.
                        continue
            if not versions:
                raise FileNotFoundError(f"no commits at {root}")
            version = max(versions)
        from f1_bigdata_pyspark_spark.sources.snapshots import (
            load_manifest,
        )

        return load_manifest(root, int(version))

    def _cdf(self) -> bool:
        v = self.options.get("readChangeFeed") or self.options.get(
            "readchangefeed"
        )
        return v is not None and str(v).lower() == "true"

    def schema(self) -> StructType:
        committed = StructType.fromJson(
            json.loads(self._manifest()["schema"])
        )
        cols = self.options.get("columns")
        if self._cdf():
            from pyspark.sql.types import LongType, StringType, StructField

            fields = list(committed.fields)
            if cols:
                # CDF PROJECTION PUSHDOWN (round 11): an incremental
                # consumer folding only (key, value) narrows the feed —
                # the executor read then fetches only those byte ranges
                # (mask/selection machinery rides its own columns
                # regardless, see _read_partition_batches)
                want = [c.strip() for c in cols.split(",") if c.strip()]
                by_name = {f.name: f for f in committed.fields}
                missing = [c for c in want if c not in by_name]
                if missing:
                    raise ValueError(
                        f"columns option names unknown column(s) {missing}; "
                        f"table has {list(by_name)}"
                    )
                keep = set(want)
                fields = [f for f in committed.fields if f.name in keep]
            return StructType(
                fields
                + [
                    StructField(_CDF_TYPE_COL, StringType()),
                    StructField(_CDF_VERSION_COL, LongType()),
                ]
            )
        if not cols:
            return committed
        # COLUMN PRUNING (round 8): Spark 4.1's Python DataSource API has
        # no pruneColumns engine hook, so projection narrowing is an
        # explicit option — ``.option("columns", "a,b")`` serves only
        # those fields, and the executor read fetches only those byte
        # ranges (parquet is columnar). Committed order is kept so the
        # projection is deterministic regardless of option spelling.
        want = [c.strip() for c in cols.split(",") if c.strip()]
        by_name = {f.name: f for f in committed.fields}
        missing = [c for c in want if c not in by_name]
        if missing:
            raise ValueError(
                f"columns option names unknown column(s) {missing}; "
                f"table has {list(by_name)}"
            )
        keep = set(want)
        return StructType([f for f in committed.fields if f.name in keep])

    def reader(self, schema: StructType):
        if self._cdf():
            # BATCH CDF (round 11 — Delta's ``table_changes``): a
            # version-bounded batch read of the same partition plan the
            # streaming feed uses. startingVersion defaults to the
            # initial snapshot, endingVersion to the head.
            root = self.options.get("root")
            if not root:
                raise ValueError("snapshot source requires option 'root'")
            sv = self.options.get("startingVersion") or self.options.get(
                "startingversion"
            )
            ev = self.options.get("endingVersion") or self.options.get(
                "endingversion"
            )
            st = self.options.get("startingTimestamp") or self.options.get(
                "startingtimestamp"
            )
            et = self.options.get("endingTimestamp") or self.options.get(
                "endingtimestamp"
            )
            if (sv is not None and st is not None) or (
                ev is not None and et is not None
            ):
                raise ValueError(
                    "pass startingVersion OR startingTimestamp (and "
                    "endingVersion OR endingTimestamp), not both"
                )
            if st is not None:
                # Delta's startingTimestamp: the FIRST version committed
                # at or after the timestamp
                sv = _first_version_at_or_after(root, _parse_ts(st))
            if et is not None:
                # endingTimestamp: the last version committed at or
                # before the timestamp
                from f1_bigdata_pyspark_spark.sources.snapshots import (
                    SnapshotTable,
                )

                ev = SnapshotTable(root).version_as_of(_parse_ts(et))
            return SnapshotCDFBatchReader(
                root,
                schema,
                int(sv) if sv is not None else None,
                int(ev) if ev is not None else None,
            )
        return SnapshotReader(self._manifest(), schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> SnapshotWriter:
        root = self.options.get("root")
        if not root:
            raise ValueError("snapshot source requires option 'root'")
        spec_opt = self.options.get("partitionby") or self.options.get(
            "partitionBy"
        )
        # paren-aware split: "day(ts),bucket(4,k)" has a comma INSIDE
        # the bucket spec
        specs = _split_specs(spec_opt) if spec_opt else None
        if specs is None and not overwrite:
            # appends INHERIT the table's layout (the Delta/Hive
            # invariant: partitioning is a table property, not a
            # per-write choice) — an explicit option still wins and is
            # then validated against the head by publish_files
            try:
                specs = self._load_manifest().get("partition_by") or None
            except (FileNotFoundError, OSError):
                specs = None  # first commit: flat unless asked otherwise
        layout = _resolve_write_layout(schema, specs) if specs else None
        return SnapshotWriter(root, schema, overwrite, layout, specs)

    def _relaxations(self) -> tuple[bool, bool]:
        def flag(*names) -> bool:
            for n in names:
                v = self.options.get(n)
                if v is not None:
                    return str(v).lower() == "true"
            return False

        return (
            flag("ignoreDeletes", "ignoredeletes"),
            flag("ignoreChanges", "ignorechanges"),
        )

    def _budgets(self) -> tuple[int | None, int | None]:
        mf = self.options.get("maxFilesPerTrigger")
        mb = self.options.get("maxBytesPerTrigger")
        return (
            int(mf) if mf is not None else None,
            int(mb) if mb is not None else None,
        )

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:
        root = self.options.get("root")
        if not root:
            raise ValueError("snapshot source requires option 'root'")
        if self._cdf():
            if any(b is not None for b in self._budgets()):
                raise ValueError(
                    "readChangeFeed admission control is VERSION-"
                    "granular — use maxVersionsPerTrigger (image files "
                    "carry no commit-time byte meta for file/byte "
                    "budgets)"
                )
            if self._max_versions() is not None:
                # same routing trick as the plain admission path: the
                # Simple protocol's read(start) knows the checkpointed
                # position, so version capping is exact
                from pyspark.errors import PySparkNotImplementedError

                raise PySparkNotImplementedError(
                    errorClass="NOT_IMPLEMENTED",
                    messageParameters={
                        "feature": "CDF streamReader with admission "
                        "control (routes to simpleStreamReader)"
                    },
                )
            sv = self.options.get("startingVersion") or self.options.get(
                "startingversion"
            )
            return SnapshotCDFStreamReader(
                root, schema, int(sv) if sv is not None else None
            )
        if self._max_versions() is not None:
            raise ValueError(
                "maxVersionsPerTrigger applies to readChangeFeed "
                "streams; plain streams budget with maxFilesPerTrigger "
                "/ maxBytesPerTrigger"
            )
        if any(b is not None for b in self._budgets()):
            # ROUTE admission-controlled streams to the Simple reader:
            # raising PySparkNotImplementedError here makes the engine
            # fall back to simpleStreamReader() (datasource_internal.
            # _streamReader), whose read(start) knows the checkpointed
            # position — the only protocol where capping is exact
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={
                    "feature": "streamReader with admission control "
                    "(routes to simpleStreamReader)"
                },
            )
        return SnapshotStreamReader(
            root, schema, *self._relaxations()
        )

    def _max_versions(self) -> int | None:
        mv = self.options.get("maxVersionsPerTrigger") or self.options.get(
            "maxversionspertrigger"
        )
        return int(mv) if mv is not None else None

    def simpleStreamReader(self, schema: StructType):
        root = self.options.get("root")
        if not root:
            raise ValueError("snapshot source requires option 'root'")
        if self._cdf():
            sv = self.options.get("startingVersion") or self.options.get(
                "startingversion"
            )
            return SnapshotCDFSimpleStreamReader(
                root,
                schema,
                self._max_versions(),
                int(sv) if sv is not None else None,
            )
        mf, mb = self._budgets()
        ceiling = self.options.get("driverBatchBytesCeiling") or self.options.get(
            "driverbatchbytesceiling"
        )
        return SnapshotSimpleStreamReader(
            root,
            schema,
            mf,
            mb,
            int(ceiling) if ceiling is not None else None,
            *self._relaxations(),
        )


def register(spark) -> None:
    """Register the source AND enable the Python-DataSource filter
    pushdown conf (off by default in Spark 4.1; runtime-settable) —
    without it Spark refuses a reader that implements pushFilters.

    The REGISTRATION is guarded per session (r12): every serving face
    calls this on its timed path, and re-registering costs a py4j round
    trip plus a JVM-side "replaced a previously registered data source"
    warning per query — pure fixed cost at any scale. The guard is an
    attribute on the Python session wrapper: a stopped-and-recreated
    session is a fresh wrapper (re-registers), and the worst case — a
    new wrapper around an already-registered JVM session — merely
    re-registers, which was the previous behavior for every call.

    The CONF set is deliberately NOT guarded, and register() is its one
    owner in the package: a lazily returned face (snapshot_served_dv_scan)
    needs pushdown on when the caller collects, long after the face
    returned, so no face saves and restores it. Tests that flip the conf
    rely on the next register() call to re-establish it — guarding both
    broke 7 served faces in a registry-wide run (a restored "false" stuck for
    the rest of the session).

    The data-source workers import this package, so the package root goes
    on their path first: a session the caller built itself (not through
    ``session.get_spark``) would otherwise fail every scan with
    ``ModuleNotFoundError`` when the driver runs outside the checkout."""
    from f1_bigdata_pyspark_spark.session import set_up_workers

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    if getattr(spark, "_snapshot_source_registered", False):
        return
    set_up_workers(spark)
    spark.dataSource.register(SnapshotDataSource)
    spark._snapshot_source_registered = True


def _collect_plan_refs(jplan, refs: set) -> None:
    """Every attribute name the analyzed plan references, INCLUDING
    inside subquery expressions (round 10: ``QueryPlan.subqueries``
    exposes scalar/EXISTS/IN-subquery plans that ``children()`` does not
    descend into — a column referenced only there must not be pruned)."""

    def _walk(jnode) -> None:
        seq = jnode.references().toSeq()
        for i in range(seq.size()):
            refs.add(seq.apply(i).name())
        sub = jnode.subqueries()
        for i in range(sub.size()):
            _walk(sub.apply(i))
        ch = jnode.children()
        for i in range(ch.size()):
            _walk(ch.apply(i))

    _walk(jplan)


def _referenced_names(df) -> set:
    """Every attribute name the analyzed plan of ``df`` references
    (``_collect_plan_refs``), plus the names of its output columns: a
    plan that ends in a filter or a join passes scan columns through
    without any node referencing them."""
    plan = df._jdf.queryExecution().analyzed()
    refs: set[str] = set()
    _collect_plan_refs(plan, refs)
    out = plan.output()
    refs.update(out.apply(i).name() for i in range(out.size()))
    return refs


def _schema_stand_in(spark, root: str, options: dict):
    """An empty frame with the schema ``format("snapshot")`` serves for
    ``root`` and ``options``, from ``SnapshotDataSource.schema()`` run in
    the driver: analyzing a plan over it needs no data-source worker round
    trip, where each ``load()`` (and each size estimate over one) pays
    one."""
    from pyspark.sql.datasource import CaseInsensitiveDict
    from pyspark.sql.utils import to_str

    opts = {k: to_str(v) for k, v in options.items()}
    source = SnapshotDataSource(CaseInsensitiveDict(root=root, **opts))
    return spark.createDataFrame([], source.schema())


def served_read(spark, root: str, build, **options):
    """Projection-PRUNED served scan (round 9): Spark 4.1's Python
    DataSource API has no pruneColumns engine hook (traced in round 8),
    so a served query pays the table's full width unless the caller
    hand-passes the ``columns`` option. This helper derives it from the
    query itself, so served reads stop paying full width BY DEFAULT:

    1. plan ``build`` once against an empty stand-in with the table's
       served schema (``_schema_stand_in``) — nothing executes; only the
       ANALYZED logical plan is inspected,
    2. walk that plan's nodes collecting every referenced attribute
       name (filters, join keys, aggregates, so a filter-only column is
       kept) and the names of its output columns,
    3. plan ``build`` against the real scan, carrying
       ``columns=<referenced ∩ table columns>`` — the executor read
       then fetches only those byte ranges (parquet is columnar).

    ``build`` must be a PURE plan constructor (DataFrame -> DataFrame):
    it runs twice, the first time over no rows. Columns the plan never
    references are dropped; a query referencing every column (or none
    the table knows) serves full width unchanged. Extra ``options`` pass
    through to both scans (version/timestampAsOf time travel composes).
    An explicit ``columns`` option wins — the caller's narrowing is
    already the contract."""

    def scan(**extra):
        return (
            spark.read.format("snapshot")
            .option("root", root)
            .options(**options, **extra)
            .load()
        )

    if "columns" in options:
        return build(scan())
    stand_in = _schema_stand_in(spark, root, options)
    refs = _referenced_names(build(stand_in))
    # committed order, so the derived option is deterministic
    need = [c for c in stand_in.columns if c in refs]
    if not need or len(need) == len(stand_in.columns):
        return build(scan())  # full width (or nothing derivable)
    try:
        return build(scan(columns=",".join(need)))
    except Exception:
        # a reference the walk could not see (exotic expression shape):
        # losing the pruning is an efficiency miss, breaking a pure
        # caller at analysis would be a contract miss — serve full width
        return build(scan())


def served_read_tables(spark, roots: dict, build, report: dict | None = None):
    """Multi-table ``served_read``: derive per-table ``columns`` options
    for a query JOINING several snapshot tables. ``roots`` maps a name
    to each table's root; ``build`` takes ``{name: DataFrame}`` and
    returns the query plan. One analyzed-plan walk collects every
    referenced attribute name; each table then narrows to the
    referenced subset of ITS columns. A name shared by two tables is
    kept on both (over-keeping is the sound direction — star-schema
    column names are naturally disjoint). ``report`` (optional dict) is
    filled with ``{name: (n_columns_read, n_columns_total)}`` so a
    caller can pin the width arithmetic. The derivation pass plans over
    empty stand-ins, as in ``served_read``."""
    stand_ins = {n: _schema_stand_in(spark, r, {}) for n, r in roots.items()}
    refs = _referenced_names(build(stand_ins))

    def full(r):
        return spark.read.format("snapshot").option("root", r).load()

    narrowed = {}
    for n, r in roots.items():
        cols = stand_ins[n].columns
        need = [c for c in cols if c in refs]
        if report is not None:
            report[n] = (len(need) if need else len(cols), len(cols))
        if not need or len(need) == len(cols):
            narrowed[n] = full(r)
            continue
        narrowed[n] = (
            spark.read.format("snapshot")
            .option("root", r)
            .option("columns", ",".join(need))
            .load()
        )
    try:
        return build(narrowed)
    except Exception:
        # same fallback as served_read: never break a pure caller over
        # a reference the plan walk could not see
        if report is not None:
            for n in roots:
                width = len(stand_ins[n].columns)
                report[n] = (width, width)
        return build({n: full(r) for n, r in roots.items()})
