"""Snapshot-versioned parquet table: manifest-based atomic commits with
time travel and rollback — the lakehouse transaction mechanism (Delta /
Iceberg's core idea) built from scratch on plain parquet + JSON manifests.

Why this exists (SURVEY.md §2 S4/S6 extension): the reference's sinks are
an idempotent upsert and a truncate (`ingest_laps.py:57-68`,
`reset_collection.py:17-18`) against a transactional store (MongoDB).
Parquet has no transactions: a plain ``mode("overwrite")`` first DELETES
the directory, so a reader racing the writer sees a missing or partial
table, and a failed job leaves it destroyed. The manifest layer restores
the transactional behavior Mongo was providing — and adds history.

Mechanism (exactly the Delta log's, minus compaction of the log itself):

- Data files are immutable, written once under ``<root>/data/`` with a
  unique per-commit prefix. NOTHING ever rewrites or deletes a live file.
- A commit = write data files, then atomically publish manifest
  ``_manifests/v{N}.json`` describing the table's COMPLETE file set at
  version N (append = previous set + new files; overwrite = new files).
  On the wire (round 9) a version is either a self-contained CHECKPOINT
  or an O(changes) DELTA record against v{N-1} with periodic checkpoints
  — Delta's log economics; ``load_manifest`` resolves either form to
  the same complete dict, so consumers never see the difference.
- Atomicity: the manifest is written to a temp name and ``rename``d into
  place — a POSIX/HDFS atomic op. Readers either see v{N} fully or not
  at all; a crashed writer leaves only unreferenced orphan files (safe,
  vacuumable).
- Optimistic concurrency: the rename fails (or the version check refuses)
  if v{N} already exists — the loser retries on top of the winner, the
  Delta conflict protocol.
- Time travel: ``read(spark, version=K)`` lists v{K}'s files explicitly;
  Spark scans exactly that snapshot regardless of later commits.
- Rollback: publishing v{N+1} with v{K}'s file list — history is never
  rewritten (the audit-safe form of restore).

Scale: the manifest holds file PATHS (plus row counts), not data; at
100 TB a version is still a few MB of JSON, and a snapshot read plans
from the explicit file list with no directory listing storm. Appends are
O(new data) — the 1000-executor write never touches existing files —
and since round 9 an append's COMMIT METADATA is O(changeset) too (the
delta wire format above), so a million-file table no longer serializes
its whole stats map through the driver on every commit.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col
from pyspark.sql.functions import input_file_name as F_input_file_name
from pyspark.sql.functions import max as F_max
from pyspark.sql.functions import min as F_min
from pyspark.sql.functions import shiftleft as F_shiftleft
from pyspark.sql.functions import shiftright as F_shiftright

from f1_bigdata_pyspark_spark.sources.metadata_fs import LocalMetadataFS

# module default for the METADATA plane (manifests, clone refs, vacuum
# walks) — see sources/metadata_fs.py; pass fs=HadoopMetadataFS(spark)
# to SnapshotTable/load_manifest/vacuum for scheme'd (hdfs://, s3a://)
# metadata roots. The DATA plane (parquet) rides Spark/pyarrow, which
# resolve Hadoop schemes natively.
_LOCAL_FS = LocalMetadataFS()


class SnapshotConflictError(RuntimeError):
    """Another writer published this version first (optimistic-concurrency
    loser). Re-read the latest version and retry the commit."""


def _json_stat_value(v):
    """Serialize a parquet-footer min/max into JSON, tagged so pruning can
    reconstruct a comparable value. Returns (tag, value) or None for types
    we don't index (structs, arrays, decimals...) — unindexed means the
    file is never skipped on that column, which is always safe."""
    import datetime

    if isinstance(v, bool):  # bool before int: bool IS int in Python
        return None
    if isinstance(v, float):
        import math

        # a NaN bound poisons pruning (NaN comparisons are all False, so
        # "<" would UNSOUNDLY skip the file); writers are supposed to omit
        # stats for NaN-containing columns, but never trust that
        if math.isnan(v) or math.isinf(v):
            return None
        return ["num", v]
    if isinstance(v, int):
        return ["num", v]
    if isinstance(v, str):
        return ["str", v]
    if isinstance(v, bytes):
        try:
            return ["str", v.decode("utf-8")]
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.datetime):
        # footer stats come back tz-aware (UTC); store naive-UTC so the
        # stored form compares cleanly with naive session-time literals
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ["ts", v.isoformat()]
    if isinstance(v, datetime.date):
        return ["ts", datetime.datetime(v.year, v.month, v.day).isoformat()]
    return None


def _stat_pair_ok(mn, mx) -> bool:
    """Reject a footer [min, max] pair that cannot be trusted as bounds.

    Parquet writers TRUNCATE long binary statistics, and pyarrow 16.1
    reports the truncated bound as an EMPTY STRING while ``has_min_max``
    stays True (measured: values <= 4096 bytes round-trip exactly; any
    longer value's bound comes back ``''``; there is no
    ``is_min/max_value_exact`` API before Arrow 18). Ingesting that
    ``''`` as a genuine upper bound makes ``_file_may_match(col, '>=',
    lit)`` "prove" the file empty and unsoundly skip rows — including
    a ``delete_where`` that silently fails to delete. Guard: any string
    pair with an empty bound is discarded (a legitimately all-empty
    column merely forfeits pruning — sound), and any inverted pair
    (min > max — the shape every shrink-style truncation scheme
    produces) is discarded as cross-writer armor. Spark's parquet-mr
    writer drops min/max entirely for long values (``has_min_max``
    False — measured), so it never reaches this guard.
    """
    if mn[0] == "str" and (mn[1] == "" or mx[1] == ""):
        return False
    try:
        if _stat_to_py(mn) > _stat_to_py(mx):
            return False
    except TypeError:
        return False
    return True


def _is_nan_lit(v) -> bool:
    import math

    return isinstance(v, float) and math.isnan(v)


# Exact string bounds recorded from DATA (not the footer) are stored
# under sound truncation so a 100 KB document min/max never bloats the
# manifest: min = a 64-char PREFIX of the true min (a prefix orders <=
# the full string), max = the 64-char prefix of the true max with its
# last code point INCREMENTED (orders > every string sharing the
# prefix) — Iceberg's truncate(w) contract. Truncated entries carry
# ``tr: 1`` so exactness consumers (metadata_min_max) refuse them while
# pruning still uses the sound bounds.
_STRING_BOUND_WIDTH = 64


def _string_upper_bound(s: str, width: int) -> str | None:
    """Shortest string of <= ``width`` code points ordering >= every
    string that starts with ``s[:width]`` (None if impossible — every
    prefix char already U+10FFFF)."""
    if len(s) <= width:
        return s
    p = s[:width]
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000  # never store a lone surrogate
            return p[:i] + chr(nxt)
    return None


def _truncate_string_bounds(mn: str, mx: str):
    """(stored_min, stored_max, truncated?) under the sound-truncation
    contract above; stored_max None = give up (no evidence)."""
    if len(mn) <= _STRING_BOUND_WIDTH and len(mx) <= _STRING_BOUND_WIDTH:
        return mn, mx, False
    return (
        mn[:_STRING_BOUND_WIDTH],
        _string_upper_bound(mx, _STRING_BOUND_WIDTH),
        True,
    )


def _exact_stats_overlay(stats_entry: dict, tbl) -> None:
    """Overlay write-time evidence computed from the just-written DATA
    (an Arrow table) onto a footer-harvested stats entry — the two
    facts parquet footers cannot supply:

    - **float/double columns**: ``nanc`` (NaN count). pyarrow writes
      clean [min, max] that silently IGNORE NaN (measured: [1.0, NaN,
      2.0] -> min 1.0, max 2.0, null_count 0) while Spark orders NaN
      ABOVE every numeric value (``NaN > lit`` and ``NaN = NaN`` are
      TRUE) — so float bounds prove nothing about ``>``-class
      predicates unless NaN-freedom is recorded. ``nanc == 0`` is that
      proof; pruning and metadata aggregates degrade conservatively
      whenever it is absent or nonzero.
    - **string columns with no usable footer bounds** (the writer
      truncated/dropped them — long text, exactly the LLM-corpus
      column): exact min/max folded from the data, stored under sound
      64-char truncation (``tr: 1`` when truncated).

    In the 2PC DataSource writer this folds the Arrow batches ALREADY
    in executor memory — free and cluster-correct. The ``commit()``
    path reads the needed columns back per new file as the local-mode
    stand-in (same placement story as ``_file_bloom``): O(new files),
    column-pruned, executor-side at cluster scale.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    for i, field in enumerate(tbl.schema):
        name = field.name
        if "." in name:
            continue
        t = field.type
        if pa.types.is_floating(t):
            n = pc.sum(pc.is_nan(tbl.column(i))).as_py() or 0
            e = stats_entry.setdefault(name, {})
            e["fl"] = 1
            e["nanc"] = int(n)
        elif pa.types.is_string(t) or pa.types.is_large_string(t):
            e = stats_entry.get(name)
            if e is not None and "min" in e:
                continue  # footer bounds survived the guards: exact
            mm = pc.min_max(tbl.column(i))
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if mn is None:
                continue  # all-null: null counts already carry the proof
            lo, hi, truncated = _truncate_string_bounds(mn, mx)
            if hi is None:
                continue
            e = stats_entry.setdefault(name, {})
            e["min"] = ["str", lo]
            e["max"] = ["str", hi]
            if truncated:
                e["tr"] = 1
            elif "tr" in e:
                del e["tr"]


def _overlay_columns_needed(stats_entry: dict, arrow_schema) -> list[str]:
    """Columns ``_exact_stats_overlay`` would need data for: every
    top-level float/double column (NaN count), plus string columns the
    footer harvest yielded no usable bounds for. Empty for the common
    short-string/no-float commit — the read-back is then skipped
    entirely."""
    import pyarrow as pa

    need = []
    for field in arrow_schema:
        if "." in field.name:
            continue
        if pa.types.is_floating(field.type):
            need.append(field.name)
        elif pa.types.is_string(field.type) or pa.types.is_large_string(
            field.type
        ):
            if "min" not in stats_entry.get(field.name, {}):
                need.append(field.name)
    return need


# File-LEVEL metadata rides inside the per-file stats entry under this
# reserved key so every manifest carry path (merge, optimize, delete,
# clone, rollback, publish_files) transports it for free — the same
# placement lesson as the per-column blooms. The trailing dot makes a
# collision with a real column IMPOSSIBLE: stats collection skips every
# dotted path_in_schema (nested leaves), so no column entry can ever be
# written under a dotted key. Pruning never looks it up (predicates
# reference real columns only). Fields: ng (row-group count — drives
# row-group-range input-partition SPLITTING in the DataSource scan),
# rows, bytes (drive partition sizing and maxBytesPerTrigger admission).
FILE_META_KEY = "__file_meta."


def _file_column_stats(path: str) -> dict:
    """Per-column {min, max} for one parquet file, straight from the row-
    group FOOTER statistics (no data read — the same numbers the writer
    already computed). Only top-level primitive columns with complete
    min/max across every row group are indexed. At cluster scale this
    collection runs where the files are written (executor-side, merged
    into the commit like Delta's add-file stats); the driver-side footer
    read here is the local-mode stand-in — it is O(#new files) metadata,
    never data. Also records the ``FILE_META_KEY`` file-level entry
    (row-group count / rows / bytes) that lets the scan planner split
    large files into row-group-range partitions WITHOUT a driver footer
    read at plan time."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    meta = {
        "ng": md.num_row_groups,
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
    }
    acc: dict[str, list] = {}
    complete: set[str] = set()
    nulls: dict[str, int] = {}
    nulls_complete: set[str] = set()
    float_cols: set[str] = set()
    if md.num_row_groups == 0:
        return {FILE_META_KEY: meta}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        seen: set[str] = set()
        seen_n: set[str] = set()
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name:  # nested leaf — not a top-level column
                continue
            if c.physical_type in ("FLOAT", "DOUBLE"):
                float_cols.add(name)  # NaN-blind stats: tag for pruning
            st = c.statistics
            if st is None:
                continue
            # null counts are tracked INDEPENDENTLY of min/max: an
            # all-null column carries no min/max at all, yet its null
            # count is exactly what lets IS NOT NULL skip the file
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
                seen_n.add(name)
            if not st.has_min_max:
                continue
            mn = _json_stat_value(st.min)
            mx = _json_stat_value(st.max)
            if (
                mn is None
                or mx is None
                or mn[0] != mx[0]
                or not _stat_pair_ok(mn, mx)
            ):
                continue
            seen.add(name)
            if name not in acc:
                acc[name] = [mn, mx]
            else:
                if mn[1] < acc[name][0][1]:
                    acc[name][0] = mn
                if mx[1] > acc[name][1][1]:
                    acc[name][1] = mx
        complete = seen if rg == 0 else (complete & seen)
        nulls_complete = seen_n if rg == 0 else (nulls_complete & seen_n)
    out: dict[str, dict] = {
        name: {"min": acc[name][0], "max": acc[name][1]}
        for name in complete
    }
    for name in nulls_complete:
        e = out.setdefault(name, {})
        e["nc"] = nulls[name]  # nulls in this column across the file
        e["nr"] = md.num_rows  # file row count (the all-null test's bound)
    for name in float_cols:
        if name in out:
            out[name]["fl"] = 1  # float evidence: NaN-blind until nanc
    out[FILE_META_KEY] = meta
    return out


def _bloom_positions(value_str: str, k: int, m: int) -> list[int]:
    """The k bloom bit positions of one value: md5("<value>#<j>") taken
    as the usual portable 60-bit integer (first 15 hex chars), mod m.
    Deterministic and engine-replayable — a DuckDB oracle computes the
    identical bit set with ``CAST(('0x' || substr(md5(v || '#' || j),
    1, 15)) AS BIGINT) % m``, so bloom pruning decisions (including
    false positives) are exactly checkable, not just sound."""
    import hashlib

    return [
        int(
            hashlib.md5(f"{value_str}#{j}".encode()).hexdigest()[:15], 16
        )
        % m
        for j in range(k)
    ]


def _file_bloom(path: str, col: str, m: int, k: int) -> dict | None:
    """Per-file bloom filter over one column's values (int/str only —
    other types have no canonical cross-engine string form). This is the
    point-lookup complement to min/max stats: hash-distributed keys make
    every file's [min, max] span the whole domain (range pruning dead),
    while a ~m-bit bloom prunes an equality probe to the files that
    really (or false-positively) hold the key. Local-mode stand-in reads
    just the one column via pyarrow; at cluster scale the executor
    builds this during the write, like Delta's stats collection."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(path, columns=[col])
    bits = 0
    for v in tbl[col].to_pylist():
        if v is None:
            continue
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            return None  # unindexable type: no bloom, never prune
        s = v if isinstance(v, str) else str(v)
        for p in _bloom_positions(s, k, m):
            bits |= 1 << p
    return {"m": m, "k": k, "hex": format(bits, "x")}


def _bloom_may_contain(bloom: dict, lit) -> bool:
    """Sound membership test: False ONLY when the bloom proves absence.
    Unindexable literal types always pass."""
    if isinstance(lit, bool) or not isinstance(lit, (int, str)):
        return True
    bits = int(bloom["hex"], 16)
    s = lit if isinstance(lit, str) else str(lit)
    return all(
        (bits >> p) & 1
        for p in _bloom_positions(s, bloom["k"], bloom["m"])
    )


# ---------------------------------------------------------------- hidden
# partitioning (Iceberg-style partition TRANSFORMS). ``partition_by``
# accepts "year(ts)" / "month(ts)" / "day(ts)" / "hour(ts)" /
# "bucket(16,k)" / "truncate(4,name)" alongside plain column names. The
# commit computes a DERIVED directory column whose name is
# SELF-DESCRIBING ("<col>__<kind>" / "<col>__bucket<N>" /
# "<col>__trunc<N>"), so translating a directory value back into
# SOURCE-column pruning evidence needs no extra manifest metadata: the
# derived name rides inside the ``partitions`` point-stat dict that every
# carry path (merge, optimize, delete, clone, rollback, publish_files,
# partition evolution) already transports. The derived column never
# enters the table schema — queries filter the SOURCE column and prune
# through the transform (range-mapped for the monotone time/truncate
# transforms, hash-mapped for bucket), which is the Iceberg contract
# that kills the wrong-predicate trap of user-maintained layout columns.
# The bucket hash is the repo-wide portable md5 discipline
# (60-bit hex prefix, replayable in Python, Spark, and a DuckDB oracle).
# Reference analog: none (the reference stores one flat Mongo
# collection); this is Iceberg's partition-spec model re-hosted on the
# snapshot manifest.

_TIME_TRANSFORM_FORMATS = {
    "year": "yyyy",
    "month": "yyyy-MM",
    "day": "yyyy-MM-dd",
    "hour": "yyyy-MM-dd-HH",
}
_INTISH_TYPES = ("tinyint", "smallint", "int", "integer", "bigint", "long")

_TRANSFORM_SPEC_RE = __import__("re").compile(
    r"^\s*(year|month|day|hour|bucket|truncate)\s*\(\s*"
    r"(?:(\d+)\s*,\s*)?([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$"
)
_DERIVED_NAME_RE = __import__("re").compile(
    r"^(.+)__(?:(year|month|day|hour)|bucket(\d+)|trunc(\d+))$"
)


def _parse_transform_spec(spec: str) -> dict | None:
    """None when ``spec`` is a plain column name; else the parsed
    transform: {kind, param, col, name (derived dir column), canon
    (canonical spec string for the append-layout invariant)}."""
    m = _TRANSFORM_SPEC_RE.match(spec)
    if m is None:
        return None
    kind, param, col = m.group(1), m.group(2), m.group(3)
    if kind in ("bucket", "truncate"):
        if param is None:
            raise ValueError(
                f"{kind} transform needs a count/width: {spec!r} "
                f"(write {kind}(N,{col}))"
            )
        param = int(param)
        if param <= 0:
            raise ValueError(f"{kind} count/width must be positive: {spec!r}")
        short = "bucket" if kind == "bucket" else "trunc"
        return {
            "kind": kind,
            "param": param,
            "col": col,
            "name": f"{col}__{short}{param}",
            "canon": f"{kind}({param},{col})",
        }
    if param is not None:
        raise ValueError(f"{kind} transform takes one column only: {spec!r}")
    return {
        "kind": kind,
        "param": None,
        "col": col,
        "name": f"{col}__{kind}",
        "canon": f"{kind}({col})",
    }


def _canon_partition_spec(spec: str) -> str:
    t = _parse_transform_spec(spec)
    return spec if t is None else t["canon"]


def _transform_expr(t: dict, dtype: str):
    """The Spark Column computing transform ``t`` over its source column
    of declared type ``dtype`` — restricted to types whose string
    rendering is identical across Spark CAST, Python str(), and a SQL
    oracle, so the pruning replay stays exact."""
    from pyspark.sql import functions as F

    c = F.col(t["col"])
    kind = t["kind"]
    if kind in _TIME_TRANSFORM_FORMATS:
        if dtype not in ("timestamp", "timestamp_ntz", "date"):
            raise ValueError(
                f"{kind}() needs a timestamp/date column; "
                f"{t['col']} is {dtype}"
            )
        return F.date_format(c, _TIME_TRANSFORM_FORMATS[kind])
    if kind == "bucket":
        if dtype not in _INTISH_TYPES + ("string",):
            raise ValueError(
                f"bucket() needs an integer or string column; "
                f"{t['col']} is {dtype}"
            )
        return (
            F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10)
            .cast("long")
            % t["param"]
        )
    # truncate
    if dtype == "string":
        return F.substring(c, 1, t["param"])
    if dtype in _INTISH_TYPES:
        return (F.floor(c / t["param"]) * t["param"]).cast("long")
    raise ValueError(
        f"truncate() needs an integer or string column; "
        f"{t['col']} is {dtype}"
    )


def _bucket_of(lit, n: int) -> int | None:
    """Replay the bucket transform for a predicate literal — None when
    the literal's type has no exact cross-engine string rendering (never
    prune on doubt)."""
    import hashlib

    if isinstance(lit, bool) or not isinstance(lit, (int, str)):
        return None
    s = lit if isinstance(lit, str) else str(lit)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % n


def _write_dv(addresses: DataFrame, dv_buckets: int, data_dir: str) -> str:
    """Write a positional deletion vector under a fresh ``dv-*`` dir of
    ``data_dir`` and return that dir. ``addresses`` holds the dead rows'
    (``__file``, ``__pos``); they land under ``__b=<bucket>`` subdirs
    keyed by the md5 bucket of the file path — the bucket ``_bucket_of``
    replays on the read side, so a task serving one file opens only that
    file's slice of the vector."""
    from pyspark.sql import functions as F

    dv_dir = os.path.join(data_dir, f"dv-{uuid.uuid4().hex[:12]}")
    (
        addresses.withColumn(
            "__b",
            F.conv(F.substring(F.md5(F_col("__file")), 1, 15), 16, 10)
            .cast("long")
            % dv_buckets,
        )
        .write.partitionBy("__b")
        .parquet(dv_dir)
    )
    return dv_dir


_SCHEMA_COLS_CACHE: dict[str, frozenset] = {}


def _schema_cols(manifest: dict) -> frozenset:
    """Column-name set of the manifest's committed schema, memoized by
    the schema JSON string (pruning calls this once per file)."""
    s = manifest.get("schema")
    if s is None:
        return frozenset()
    got = _SCHEMA_COLS_CACHE.get(s)
    if got is None:
        if len(_SCHEMA_COLS_CACHE) >= 64:
            _SCHEMA_COLS_CACHE.clear()
        got = frozenset(f["name"] for f in json.loads(s)["fields"])
        _SCHEMA_COLS_CACHE[s] = got
    return got


_SCHEMA_FLOAT_CACHE: dict = {}


def _schema_float_cols(manifest: dict) -> frozenset:
    """Float/double column names of the manifest's committed schema,
    memoized like ``_schema_cols`` — lets pruning tag NaN-blind float
    evidence in OLD manifests (committed before write-time ``nanc``
    existed) without re-parsing the schema per file."""
    s = manifest.get("schema")
    if s is None:
        return frozenset()
    got = _SCHEMA_FLOAT_CACHE.get(s)
    if got is None:
        if len(_SCHEMA_FLOAT_CACHE) >= 64:
            _SCHEMA_FLOAT_CACHE.clear()
        got = frozenset(
            f["name"]
            for f in json.loads(s)["fields"]
            if f["type"] in ("float", "double")
        )
        _SCHEMA_FLOAT_CACHE[s] = got
    return got


def _derived_partition_transform(name: str, cols: frozenset) -> dict | None:
    """Parse a partition directory column name back into its transform —
    only when it is NOT a real table column (identity partitions keep
    their own name) and its prefix IS one (otherwise it is an unrelated
    directory layout we must not reinterpret)."""
    if name in cols:
        return None
    m = _DERIVED_NAME_RE.match(name)
    if m is None or m.group(1) not in cols:
        return None
    src = m.group(1)
    if m.group(3) is not None:
        return {"kind": "bucket", "param": int(m.group(3)), "col": src}
    if m.group(4) is not None:
        return {"kind": "trunc", "param": int(m.group(4)), "col": src}
    return {"kind": m.group(2), "param": None, "col": src}


def _apply_transform_evidence(ev: dict, t: dict, tv) -> None:
    """Fold one file's transform directory value into SOURCE-column
    pruning evidence. Footer stats for the source column (it lives in
    the data files, unlike an identity partition column) are tighter for
    ranges, so implied [min, max] is only added when absent; bucket and
    string-truncate add their own evidence keys, which compose with
    every other tier inside ``_file_may_match``."""
    import datetime

    src = t["col"]
    if tv is None:
        # transform(NULL) IS NULL: every row in the null directory has a
        # NULL source value — all-null point (comparisons and IS NOT
        # NULL prune it, IS NULL keeps it)
        if src not in ev:
            ev[src] = {"nc": 1, "nr": 1}
        return
    val = tv[1]
    entry = ev.setdefault(src, {})
    if "nc" not in entry:
        entry["nc"] = 0  # a value directory is null-free on the source
    kind = t["kind"]
    if kind == "bucket":
        entry["bucket"] = [t["param"], int(val)]
        return
    if kind == "trunc":
        if isinstance(val, str):
            entry["trunc"] = [t["param"], val]
        elif "min" not in entry:
            # floor(x/w)*w == v  =>  v <= x < v+w (inclusive max is loose
            # by one unit — sound: looseness only KEEPS files). Tagged
            # loose so exact folds (metadata_min_max) refuse it.
            entry["min"] = ["num", val]
            entry["max"] = ["num", val + t["param"]]
            entry["loose"] = True
        return
    if "min" in entry:
        return  # footer range is exact; the implied one adds nothing
    try:
        s = str(val)
        if kind == "year":
            lo = datetime.datetime(int(s), 1, 1)
            hi = datetime.datetime(int(s) + 1, 1, 1)
        elif kind == "month":
            y, mo = int(s[:4]), int(s[5:7])
            lo = datetime.datetime(y, mo, 1)
            hi = (
                datetime.datetime(y + 1, 1, 1)
                if mo == 12
                else datetime.datetime(y, mo + 1, 1)
            )
        elif kind == "day":
            lo = datetime.datetime.fromisoformat(s)
            hi = lo + datetime.timedelta(days=1)
        else:  # hour
            lo = datetime.datetime.strptime(s, "%Y-%m-%d-%H")
            hi = lo + datetime.timedelta(hours=1)
    except (ValueError, TypeError):
        return  # unparseable directory value: no implied range, no skip
    entry["min"] = ["ts", lo.isoformat()]
    entry["max"] = ["ts", hi.isoformat()]
    entry["loose"] = True  # period bounds, not the rows' true extremes


def row_group_stats(md, rg: int) -> dict:
    """Per-column {min, max, nc, nr} for ONE row group of an open parquet
    file's metadata — the row-group-granular twin of
    ``_file_column_stats``, used EXECUTOR-side to skip row groups inside
    a file the manifest could not prune (a file is the manifest's
    granularity; a row group is the reader's). Same conservative rules:
    only cleanly-tagged min/max are indexed, null counts independently."""
    g = md.row_group(rg)
    out: dict[str, dict] = {}
    for ci in range(g.num_columns):
        c = g.column(ci)
        name = c.path_in_schema
        if "." in name:
            continue
        st = c.statistics
        if st is None:
            continue
        e: dict = {}
        if st.has_null_count:
            e["nc"] = st.null_count
            e["nr"] = g.num_rows
        if st.has_min_max:
            mn = _json_stat_value(st.min)
            mx = _json_stat_value(st.max)
            if (
                mn is not None
                and mx is not None
                and mn[0] == mx[0]
                and _stat_pair_ok(mn, mx)
            ):
                e["min"] = mn
                e["max"] = mx
        if c.physical_type in ("FLOAT", "DOUBLE") and e:
            e["fl"] = 1  # NaN-blind footer bounds: conservative unless
            # the planner threads the file-level nanc==0 proof in
        if e:
            out[name] = e
    return out


def _stat_to_py(tagged):
    """Tagged JSON stat back to a comparable Python value."""
    import datetime

    tag, v = tagged
    return datetime.datetime.fromisoformat(v) if tag == "ts" else v


def _coerce_literal(lit, tag):
    """Make the user's predicate literal comparable with a stored stat."""
    import datetime

    if tag == "ts":
        if isinstance(lit, str):
            lit = datetime.datetime.fromisoformat(lit)
        elif isinstance(lit, datetime.date) and not isinstance(
            lit, datetime.datetime
        ):
            lit = datetime.datetime(lit.year, lit.month, lit.day)
        if isinstance(lit, datetime.datetime) and lit.tzinfo is not None:
            lit = lit.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return lit


def _nullable_form(dt):
    """``dt`` with every nullability flag forced True — the comparison
    form for schema projection. Parquet round-trips legitimately flip
    containsNull/valueContainsNull/nullable, and Spark REFUSES a cast
    between array/struct types differing only in those flags; comparing
    in nullable form lets the scan skip the cast exactly when it would
    both fail and be unnecessary."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    if isinstance(dt, ArrayType):
        return ArrayType(_nullable_form(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullable_form(dt.keyType), _nullable_form(dt.valueType), True
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullable_form(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def _project_to_schema(df, schema, extra):
    """Project a scanned frame to the committed schema: identical types
    (modulo nullability) pass through uncast; genuinely different types
    (partition-dir re-inference, evolution) cast to the exact committed
    dataType — never through simpleString, which cannot quote struct
    field names containing DDL metacharacters."""
    actual = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        a = actual.get(f.name)
        if a is not None and _nullable_form(a) == _nullable_form(f.dataType):
            cols.append(F_col(f.name))
        else:
            cols.append(F_col(f.name).cast(f.dataType))
    return df.select(*cols, *extra)


def _commit_root_of(path: str) -> str:
    """The ``commit-<id>`` ancestor directory of a data file, derived
    from the file's OWN path. Grouping scans by relpath against
    *this* table's data_dir assumed every file lives under it — false
    for a shallow clone (which references the SOURCE's files): the
    leading relpath segment there is ``..``, so a partitioned clone
    failed with 'Wrong basePath' and an evolved clone collapsed every
    source commit into one scan group (silently NULLing evolved
    columns). Each commit dir is the partition-discovery basePath and
    the schema-evolution unit, wherever it physically lives."""
    d = os.path.dirname(path)
    while d and not os.path.basename(d).startswith("commit-"):
        parent = os.path.dirname(d)
        if parent == d:  # filesystem root — no commit dir (foreign file)
            return os.path.dirname(path)
        d = parent
    return d or os.path.dirname(path)


_PRUNE_OPS = ("=", "==", "<", "<=", ">", ">=", "in", "is_null", "is_not_null")


def _file_may_match(stats: dict, col: str, op: str, lit) -> bool:
    """Can ANY row of a file with these [min, max] satisfy ``col op lit``?
    Unknown column / unindexable literal -> True (never skip on doubt).

    Null-count tier (round 7): per-file ``nc`` (null count) / ``nr`` (row
    count) let ``is_null`` skip no-null files and ``is_not_null`` skip
    all-null files — and an all-null file is also skipped by EVERY
    comparison op (three-valued logic: NULL op lit is never true). The
    literal is ignored for the null ops (pass None)."""
    if col not in stats:
        return True
    ev = stats[col]
    nc, nr = ev.get("nc"), ev.get("nr")
    if op == "is_null":
        return True if nc is None else nc != 0
    if op == "is_not_null":
        return not (nc is not None and nr is not None and nc == nr and nr > 0)
    if nc is not None and nr is not None and nc == nr and nr > 0:
        return False  # all-null: no row can satisfy a comparison
    # NaN tier (round 9): Spark orders NaN ABOVE every numeric value
    # (``NaN > lit`` and ``NaN = NaN`` evaluate TRUE), while pyarrow's
    # footer [min, max] silently IGNORE NaN — so float bounds say
    # nothing about what a ``>``-class or NaN-equality predicate can
    # match unless NaN-freedom is proven (write-time ``nanc`` == 0).
    # ``<``-class ops stay prunable (``NaN < lit`` is always FALSE).
    nan_possible = ev.get("fl") and ev.get("nanc") != 0
    if nan_possible and op in (">", ">="):
        return True
    if ev.get("fl") and op in ("=", "==") and _is_nan_lit(lit):
        # a NaN probe matches ONLY NaN rows; with nanc==0 the file
        # provably holds none — prunable even without min/max. (Non-
        # float columns fall through to the conservative default: a NaN
        # literal against them is an implicit-cast oddity, never pruned.)
        return bool(nan_possible)
    if op == "in" and nan_possible and any(_is_nan_lit(v) for v in lit):
        return True
    if op in ("<", "<=") and _is_nan_lit(lit):
        # Spark orders EVERY non-NaN value below NaN (probed: 0.0 < NaN
        # is TRUE), so ``col < NaN`` matches every non-NaN row — the
        # min/max range test (Python NaN comparisons are all False)
        # would unsoundly prune the file. Caught by the adversarial
        # hypothesis ladder, round 9.
        return True
    # bloom tier (round 7): equality/IN probes against a per-file bloom —
    # the point-lookup prune min/max can't provide on hash-distributed
    # keys. Composes with the range tier (each can only REMOVE files).
    bloom = ev.get("bloom")
    if bloom is not None:
        if op in ("=", "==") and not _bloom_may_contain(bloom, lit):
            return False
        if op == "in" and not any(_bloom_may_contain(bloom, v) for v in lit):
            return False
    # hidden-partitioning tiers (round 8): bucket directories prune
    # point probes structurally (zero false positives within the bucket
    # count, no bitmap to store); string-truncate directories prune by
    # prefix comparison — lexicographic order agrees with the full
    # string on the first w characters, so a differing prefix decides.
    bucket = ev.get("bucket")
    if bucket is not None:
        n_b, b = bucket
        if op in ("=", "=="):
            h = _bucket_of(lit, n_b)
            if h is not None and h != b:
                return False
        elif op == "in":
            hs = [_bucket_of(v, n_b) for v in lit]
            if hs and all(h is not None and h != b for h in hs):
                return False
    trunc = ev.get("trunc")
    if trunc is not None:
        w, p = trunc

        def _prefix_miss(v) -> bool:
            return isinstance(v, str) and v[:w] != p

        if op in ("=", "==") and _prefix_miss(lit):
            return False
        if op == "in" and lit and all(_prefix_miss(v) for v in lit):
            return False
        if op in ("<", "<=") and isinstance(lit, str) and p > lit[:w]:
            return False
        if op in (">", ">=") and isinstance(lit, str) and p < lit[:w]:
            return False
    if "min" not in ev:  # null-count/bloom-only entry (no usable min/max)
        return True
    tag = ev["min"][0]
    try:
        mn, mx = _stat_to_py(ev["min"]), _stat_to_py(ev["max"])
        if op == "in":
            # IN-list: the file survives if ANY member could be present —
            # the multi-point form a probed-cell index scan needs
            return any(
                mn <= _coerce_literal(v, tag) <= mx for v in lit
            )
        lit = _coerce_literal(lit, tag)
        if op in ("=", "=="):
            return mn <= lit <= mx
        if op == "<":
            return mn < lit
        if op == "<=":
            return mn <= lit
        if op == ">":
            return mx > lit
        if op == ">=":
            return mx >= lit
    except TypeError:  # incomparable literal vs stat type
        return True
    raise ValueError(f"unsupported prune op {op!r} (use one of {_PRUNE_OPS})")


# schema-JSON type names (and simpleString aliases) ranked by width —
# the legal append-time widenings are within-family only
_INT_WIDTH = {
    "byte": 0, "tinyint": 0,
    "short": 1, "smallint": 1,
    "integer": 2, "int": 2,
    "long": 3, "bigint": 3,
}
_FLOAT_WIDTH = {"float": 0, "double": 1}


def _widen_schema_prefix(want: list, got: list) -> list | None:
    """Merge two (name, type) prefixes under type widening: names must
    match positionally; types must be equal or in the same numeric
    family (the merged field takes the wider). None = not mergeable."""
    out = []
    for (wn, wt), (gn, gt) in zip(want, got):
        if wn != gn:
            return None
        if wt == gt:
            out.append((wn, wt))
        elif not (isinstance(wt, str) and isinstance(gt, str)):
            # complex types (struct/array/map) are DICTS in schema JSON —
            # unhashable, and never widenable; mismatch, not a crash
            return None
        elif wt in _INT_WIDTH and gt in _INT_WIDTH:
            out.append((wn, wt if _INT_WIDTH[wt] >= _INT_WIDTH[gt] else gt))
        elif wt in _FLOAT_WIDTH and gt in _FLOAT_WIDTH:
            out.append((wn, wt if _FLOAT_WIDTH[wt] >= _FLOAT_WIDTH[gt] else gt))
        else:
            return None
    return out


def _validate_constraints(df, constraints: dict, context: str) -> None:
    """Enforce the table's CHECK constraints on a frame about to be
    written (Delta's write-time enforcement). SQL-standard semantics: a
    row VIOLATES only when the expression is FALSE — NULL passes (add an
    explicit IS NOT NULL conjunct for NOT-NULL intent). One limit(1)
    probe per constraint over the new data only: O(changeset), never
    O(table)."""
    from pyspark.sql import functions as F

    for name in sorted(constraints or {}):
        expr = constraints[name]
        bad = (
            df.filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by "
                f"{context}; example row: {bad[0].asDict()}"
            )


def _file_all_match(stats: dict, col: str, op: str, lit) -> bool:
    """Does EVERY row of a file with this evidence satisfy ``col op lit``?
    The dual of ``_file_may_match`` — and dual soundness: False on any
    doubt (a wrong False only downgrades a metadata-only answer to a
    scan; a wrong True would corrupt it). Provable cases come from
    [min, max] containment plus null counts (a single NULL breaks every
    comparison, so nc == 0 is required throughout)."""
    if col not in stats:
        return False
    ev = stats[col]
    nc, nr = ev.get("nc"), ev.get("nr")
    if op == "is_null":
        return nc is not None and nr is not None and nc == nr
    if op == "is_not_null":
        return nc == 0
    if nc != 0 or "min" not in ev:
        return False
    if ev.get("fl") and ev.get("nanc") != 0:
        # NaN-freedom unproven: a NaN row breaks every ``<``-class
        # proof (NaN < lit is FALSE) while the NaN-blind footer bounds
        # would still "cover" it — refuse, degrading metadata-only
        # answers to a scan rather than to a wrong number
        return False
    tag = ev["min"][0]
    try:
        mn, mx = _stat_to_py(ev["min"]), _stat_to_py(ev["max"])
        if op == "in":
            return mn == mx and any(
                mn == _coerce_literal(v, tag) for v in lit
            )
        lit = _coerce_literal(lit, tag)
        if op in ("=", "=="):
            return mn == mx == lit
        if op == "<":
            return mx < lit
        if op == "<=":
            return mx <= lit
        if op == ">":
            return mn > lit
        if op == ">=":
            return mn >= lit
    except TypeError:
        return False
    return False


def _file_row_count(stats_entry: dict) -> int | None:
    """Row count of one file from its manifest stats entry alone: the
    file-meta record (round-8 commits) or any column's nr (round-7 null
    accounting). None when neither exists (pre-round-7 commit)."""
    meta = stats_entry.get(FILE_META_KEY)
    if meta and meta.get("rows") is not None:
        return int(meta["rows"])
    for v in stats_entry.values():
        if isinstance(v, dict) and v.get("nr") is not None:
            return int(v["nr"])
    return None


def _file_evidence(manifest: dict, f: str) -> dict:
    """Everything the manifest knows about one file's column ranges:
    parquet-footer min/max stats, plus — for Hive-partitioned commits —
    the directory partition values as POINT stats (min == max == value).
    Unifying the two tiers here means every pruning path (directory
    partitioning AND footer skipping) fires on the same ``read(where=)``
    scan with one planner."""
    ev = dict(manifest.get("stats", {}).get(f, {}))
    # column mapping (rename): stats of pre-rename files are keyed by the
    # PHYSICAL name — predicates name the logical one; alias the evidence
    for logical, phys in (manifest.get("column_mapping") or {}).items():
        if logical not in ev and phys in ev:
            ev[logical] = ev[phys]
    cols = _schema_cols(manifest)
    for col, tv in manifest.get("partitions", {}).get(f, {}).items():
        t = _derived_partition_transform(col, cols)
        if t is not None:
            # hidden-partitioning directory (round 8): the value prunes
            # the SOURCE column through the transform; the derived name
            # itself is not a table column and no predicate names it
            _apply_transform_evidence(ev, t, tv)
            continue
        if tv is not None:
            # a value partition is null-free on that column (nc=0) —
            # IS NULL prunes it; nr is unknown so is_not_null never
            # (wrongly) treats it as all-null. nanc=0 because every row
            # EQUALS the directory value, which JSON could not even
            # store were it NaN — the point stat is its own NaN proof.
            ev[col] = {"min": tv, "max": tv, "nc": 0, "nanc": 0}
        else:
            # __HIVE_DEFAULT_PARTITION__: every row's value is NULL —
            # encode as an all-null point (nc == nr), so IS NOT NULL and
            # every comparison prune it while IS NULL keeps it
            ev[col] = {"nc": 1, "nr": 1}
    # NaN tagging for OLD float evidence (round 9): manifests committed
    # before write-time NaN counts existed carry untagged float bounds;
    # mark them from the schema so the NaN-blind-footer guards fire.
    # Entries already carrying ``nanc`` (new commits, partition points)
    # keep their proof. Copy-on-write: the per-column dicts are shared
    # with the manifest's stats map.
    for col in _schema_float_cols(manifest):
        e = ev.get(col)
        if e is not None and "fl" not in e and "nanc" not in e:
            ev[col] = {**e, "fl": 1}
    return ev


def prune_files(manifest: dict, where: list[tuple[str, str, object]]) -> list[str]:
    """File paths of ``manifest`` that may contain rows satisfying the
    conjunction ``where`` — the data-skipping planner. A file survives
    only if EVERY predicate is possibly true within its [min, max]."""
    for _, op, _lit in where:
        if op not in _PRUNE_OPS:
            raise ValueError(
                f"unsupported prune op {op!r} (use one of {_PRUNE_OPS})"
            )
    return [
        f
        for f in manifest["files"]
        if all(
            _file_may_match(_file_evidence(manifest, f), col, op, lit)
            for col, op, lit in where
        )
    ]


def _carry_dvs(manifest: dict, carried: set) -> list:
    """Deletion-vector records still applicable after a rewrite: each
    record keeps only its CARRIED files (rewritten files have new paths
    and were built THROUGH the vectors — the rewrite scan applied the
    anti-join); records with no surviving file drop, and their dirs
    become vacuumable once the versions referencing them expire."""
    out = []
    for d in manifest.get("dvs") or []:
        files = [f for f in d["files"] if f in carried]
        if files:
            out.append({**d, "files": files})
    return out


def _file_masks(manifest: dict, files: list[str]) -> dict:
    """Which masks apply to each of ``files`` in ``manifest``:
    {file: (key-tombstone paths, deletion-vector bucket dirs)}. A
    tombstone applies to the files committed before it (its ``seq``
    postdates the file's; a file without a seq counts as oldest, so
    deletes apply); a vector applies to the files its record names,
    through the ``__b=<bucket>`` slice ``_write_dv`` put them in. Both
    lists keep the manifest's record order, which is commit order in
    every manifest, so a file whose masks compare equal in two manifests
    serves the same live rows from both."""
    seqs = manifest.get("file_seq", {})
    ts = manifest.get("tombstones") or []
    dvs = [
        (set(d["files"]), d["dir"], int(d["n_buckets"]))
        for d in manifest.get("dvs") or []
    ]
    out = {}
    for f in files:
        s = seqs.get(f, -1)
        out[f] = (
            [t["path"] for t in ts if t["seq"] > s],
            [
                os.path.join(dir_, f"__b={_bucket_of(f, nb)}")
                for fset, dir_, nb in dvs
                if f in fset
            ],
        )
    return out


# The manifest keys a new version takes from its base fall in three
# classes. VERSION-LOCAL keys (version, mode, op, txn, change_data,
# committed_at) describe one commit and never carry: a carried ``txn``
# would make ``last_committed_batch`` report a batch this version never
# wrote (an exactly-once writer then silently skips epochs), carried
# change images would describe another commit's rows, and ``op`` marks
# the one metadata-only version that set it. ``_publish`` alone stamps
# committed_at. TABLE PROPERTIES carry on every successor, overwrite
# included — an overwrite replaces data, not the contract. FILE-SCOPED
# state carries with the files it describes: the per-file maps and
# deletion vectors are restricted to the carried files, the keys below
# (masks, renamed/retired physical names, layout) carry whole because
# carried files still need them, and an overwrite — which carries no
# file — resets all of it.
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


def _successor(
    manifest: dict,
    mode: str,
    *,
    carried: list[str] | None = None,
    new: tuple = ((), {}, {}),
    **changes,
) -> dict:
    """The next version's manifest after ``manifest`` (``{}`` before a
    table's first commit), built under the key classes above.
    ``carried``: the base files the new version keeps, in base order
    (default all; mode ``overwrite`` keeps none). ``new``: the (files,
    stats, partitions) this commit wrote — stamped with the new
    version's sequence. ``changes``: the keys this commit states itself;
    a falsy value removes the key, and ``version`` overrides the number
    (a rollback or a clone is not its base's number + 1)."""
    new_files, new_stats, new_partitions = new
    version = changes.pop("version", manifest.get("version", -1) + 1)
    out = {k: manifest[k] for k in _TABLE_PROPS if manifest.get(k)}
    if mode == "overwrite":
        carried = []
    else:
        out.update({k: manifest[k] for k in _FILE_SCOPED if manifest.get(k)})
    if carried is None:
        files = list(manifest.get("files", []))
        maps = {k: dict(manifest.get(k, {})) for k in _PER_FILE_MAPS}
        dvs = manifest.get("dvs")
    else:
        keep = set(carried)
        files = list(carried)
        maps = {
            k: {f: e for f, e in manifest.get(k, {}).items() if f in keep}
            for k in _PER_FILE_MAPS
        }
        dvs = _carry_dvs(manifest, keep)
    maps["stats"].update(new_stats)
    maps["partitions"].update(new_partitions)
    maps["file_seq"].update(dict.fromkeys(new_files, version))
    out.update(
        version=version,
        mode=mode,
        files=files + list(new_files),
        stats=maps["stats"],
        file_seq=maps["file_seq"],
    )
    if maps["partitions"]:
        # carried point stats survive even when the current layout
        # dropped the column (partition evolution): old files keep
        # pruning through what their directories recorded
        out["partitions"] = maps["partitions"]
    if dvs:
        out["dvs"] = dvs
    for k, v in changes.items():
        if v:
            out[k] = v
        else:
            out.pop(k, None)
    return out


def _predicate_column(where: list[tuple[str, str, object]]):
    """The row-level Column for the same conjunction (skipping is coarse;
    this is the exact filter applied after the pruned scan)."""
    from pyspark.sql import functions as F

    out = None
    for col, op, lit in where:
        c = F.col(col)
        if op == "in":
            e = c.isin(list(lit))
        elif op == "is_null":
            e = c.isNull()
        elif op == "is_not_null":
            e = c.isNotNull()
        else:
            e = {
                "=": c == lit, "==": c == lit,
                "<": c < lit, "<=": c <= lit,
                ">": c > lit, ">=": c >= lit,
            }[op]
        out = e if out is None else (out & e)
    return out


def _parse_partition_segments(
    segments: list[str], type_by_col: dict[str, str]
) -> dict:
    """Decode Hive-style ``col=value`` path segments into tagged stat
    values (the manifest's point-stat form). ``__HIVE_DEFAULT_PARTITION__``
    (NULL partition) maps to None — ``_file_evidence`` encodes it as an
    all-null point (nc == nr), so every comparison and IS NOT NULL prune
    that file while IS NULL keeps it; value partitions conversely carry
    nc=0 so IS NULL prunes them."""
    import urllib.parse

    out: dict = {}
    for seg in segments:
        if "=" not in seg:
            continue
        col, _, raw = seg.partition("=")
        raw = urllib.parse.unquote(raw)
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[col] = None
            continue
        t = type_by_col.get(col, "string")
        if t in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
            out[col] = ["num", int(raw)]
        elif t in ("float", "double"):
            out[col] = ["num", float(raw)]
        elif t in ("date", "timestamp", "timestamp_ntz"):
            out[col] = _json_stat_value(
                __import__("datetime").datetime.fromisoformat(raw)
            )
        else:
            out[col] = ["str", raw]
    return out


# ------------------------------------------------------------ manifest
# wire format (round 9): INCREMENTAL COMMIT RECORDS. A published
# ``_manifests/v{N}.json`` is either a self-contained CHECKPOINT (the
# historical format: complete file list + per-file stats/partitions/
# file_seq) or a DELTA record against v{N-1} carrying only the commit's
# CHANGES — Delta Lake's log economics (O(changes) actions + periodic
# checkpoints) applied to this layout. Every ``_CHECKPOINT_EVERY``-th
# version is written as a checkpoint so a read resolves at most that
# many deltas; at 1M files an append's commit metadata is KBs, not the
# multi-GB full-snapshot JSON the round-8 format wrote per commit.
# Readers NEVER see the wire format: ``load_manifest`` resolves a
# version to the same complete dict the checkpoint form stores, and
# every consumer (SnapshotTable, the DataSource planner, the stream
# change feed) goes through it. Ops that UNLINK manifests (compact_log,
# vacuum) first materialize every retained delta as a checkpoint
# (``_checkpoint_manifest``) so no surviving version's base chain can
# be severed.

_CHECKPOINT_EVERY = 10
_PER_FILE_MAPS = ("stats", "partitions", "file_seq")


def load_manifest(root: str, version: int, fs=None) -> dict:
    """Load ``version``'s manifest and RESOLVE it to the complete
    (checkpoint-form) dict, following the delta chain backward at most
    ``_CHECKPOINT_EVERY`` hops. FileNotFoundError on the TOP manifest
    propagates — the same time-travel contract as before (a vacuumed/
    compacted version fails cleanly at the manifest).

    A FileNotFoundError BELOW the top gets one retry of the top read:
    a concurrent compact_log/vacuum checkpoints every RETAINED version
    before unlinking any base (so a retained version is never truly
    severed), but a reader that opened the delta record just before the
    compactor's os.replace can chase ``delta_of`` into a base already
    unlinked — by then the top has been rewritten self-contained, and
    re-reading it returns content-identical state. A top that is STILL
    a delta with a missing base is real corruption and propagates.

    ``fs`` (round 10): the metadata filesystem seam — POSIX by default,
    ``HadoopMetadataFS`` for scheme'd roots (see sources/metadata_fs.py
    for the per-store commit contract)."""
    if fs is None:
        fs = _LOCAL_FS
    try:
        return _load_manifest_resolved(root, version, fs)
    except FileNotFoundError:
        path = os.path.join(root, "_manifests", f"v{version}.json")
        # may itself raise FileNotFoundError: the TOP was vacuumed —
        # that is the contract's clean failure, not the race
        raw = json.loads(fs.read_text(path))
        if "delta_of" not in raw:
            return raw
        raise


def _load_manifest_resolved(root: str, version: int, fs) -> dict:
    path = os.path.join(root, "_manifests", f"v{version}.json")
    raw = json.loads(fs.read_text(path))
    if "delta_of" not in raw:
        return raw
    base = load_manifest(root, raw["delta_of"], fs)
    return _apply_delta(raw, base)


def _apply_delta(raw: dict, base: dict) -> dict:
    """Resolve a delta-form manifest record against its (already resolved)
    base — the single merge step ``_load_manifest_resolved`` applies per
    chain hop, split out so sequential per-version readers (the row feed,
    the streaming planners) can resolve v from the v-1 they already hold
    instead of re-walking the chain (r11: O(versions) total driver work
    for a feed drain instead of O(versions × chain length))."""
    remove = set(raw.get("files_remove", []))
    adds = raw.get("files_add", [])
    files = [f for f in base["files"] if f not in remove] + adds
    out = dict(raw.get("small", {}))
    out["version"] = raw["version"]
    out["files"] = files
    for key in raw.get("maps_present", []):
        bm = base.get(key, {})
        set_map = raw.get(f"{key}_set", {})
        unset = set(raw.get(f"{key}_unset", []))
        if not remove and not unset:
            # r11 append-shape fast path: nothing is dropped, so the
            # merged map is carried-entries overlaid with the delta's
            # sets — dict copy + update at C speed instead of a per-file
            # Python loop (the encoder guarantees set_map keys ⊆ files).
            merged = dict(bm)
            merged.update(set_map)
        else:
            merged = {}
            for f in files:
                if f in unset:
                    continue
                if f in set_map:
                    merged[f] = set_map[f]
                elif f in bm:
                    merged[f] = bm[f]
        out[key] = merged
    return out


def _encode_manifest_delta(full: dict, base: dict) -> dict | None:
    """Encode ``full`` (the next version's complete manifest) as a delta
    record against ``base`` (the resolved previous version). None =
    not encodable (an exotic file ordering or map key outside the file
    set) — the caller falls back to the checkpoint form, so encoding is
    an OPTIMIZATION that can never change what readers resolve.

    O(table) CPU over in-memory pointers (the set diffs), but O(changes)
    JSON written — the part that was O(table bytes) per commit."""
    base_files = base.get("files")
    new_files = full.get("files")
    if base_files is None or new_files is None:
        return None
    new_set = set(new_files)
    nb = len(base_files)
    if len(new_files) >= nb and new_files[:nb] == base_files:
        # r11 fast path — the append shape (base carried verbatim as a
        # prefix): one C-speed list compare replaces the two per-file
        # membership passes and the base set build (measured at 100k
        # files: ~25 ms less driver CPU on every append commit).
        adds = new_files[nb:]
        removes: list[str] = []
    else:
        base_set = set(base_files)
        adds = [f for f in new_files if f not in base_set]
        # the resolution rebuilds "carried in base order + adds" — any
        # caller that reordered carried files must publish a checkpoint
        if [f for f in base_files if f in new_set] + adds != new_files:
            return None
        removes = [f for f in base_files if f not in new_set]
    out = {
        "version": full["version"],
        "delta_of": base["version"],
        "files_add": adds,
        "files_remove": removes,
        "maps_present": [],
        "small": {},
    }
    for key in _PER_FILE_MAPS:
        if key not in full:
            continue
        fm, bm = full[key], base.get(key, {})
        if not fm.keys() <= new_set:
            return None  # entry for a non-file: not delta-expressible
        # r11 (driver CPU, measured at 100k files): dict/set comprehensions
        # instead of a per-file Python loop — same set/unset contents (the
        # resolver merges by key, order-free), ~2.5x less encode CPU. The
        # whole encode is ~90 ms at 100k files either way (vs ~220 ms just
        # to json-serialize a full checkpoint), so this stays O(table) CPU
        # by design: written bytes are the part that must be O(changes).
        set_map = {
            f: v for f, v in fm.items() if f not in bm or bm[f] != v
        }
        unset = [f for f in bm if f not in fm and f in new_set]
        out["maps_present"].append(key)
        out[f"{key}_set"] = set_map
        if unset:
            out[f"{key}_unset"] = unset
    for k, v in full.items():
        if k == "version" or k in _PER_FILE_MAPS or k == "files":
            continue
        out["small"][k] = v
    return out


class SnapshotTable:
    def __init__(self, root: str, fs=None):
        # absolutize ONCE: manifests record file paths verbatim, and a
        # relative root would make Spark resolve scans against the JVM's
        # working directory (not Python's) while input_file_name()
        # returns absolute URIs — every path comparison downstream
        # (findTouchedFiles, carry-by-identity, vacuum) assumes one
        # canonical spelling. A scheme'd root (hdfs://, s3a://, file:)
        # is already absolute and must NOT be mangled by os.path.
        self._fs = fs if fs is not None else _LOCAL_FS
        if "://" in root or root.startswith("file:"):
            self.root = root.rstrip("/")
        else:
            self.root = os.path.abspath(root)
        self.data_dir = os.path.join(self.root, "data")
        self.manifest_dir = os.path.join(self.root, "_manifests")
        self._fs.makedirs(self.data_dir)
        self._fs.makedirs(self.manifest_dir)

    # -- manifest plumbing --------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version}.json")

    def versions(self) -> list[int]:
        vs = []
        for f in self._fs.listdir(self.manifest_dir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    vs.append(int(f[1:-5]))
                except ValueError:
                    continue
        return sorted(vs)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_manifest(self, version: int) -> dict:
        return load_manifest(self.root, version, self._fs)

    def _read_manifest_from(self, version: int, base: dict | None) -> dict:
        """Resolve ``version``'s manifest, reusing an already-resolved
        ``base`` when the on-disk record is a delta against exactly
        ``base['version']`` — one JSON read + one merge instead of
        re-walking the delta chain. Sequential per-version consumers
        (row feed, streaming planners) hold v-1 resolved by construction,
        so their manifest cost drops from O(versions × chain) to
        O(versions). Falls back to the full resolution otherwise —
        content-identical either way (same ``_apply_delta`` step)."""
        raw = json.loads(self._fs.read_text(self._manifest_path(version)))
        if "delta_of" not in raw:
            return raw
        if base is not None and raw["delta_of"] == base.get("version"):
            return _apply_delta(raw, base)
        return load_manifest(self.root, version, self._fs)

    def _checkpoint_manifest(self, version: int) -> bool:
        """Materialize ``version``'s manifest as a self-contained
        checkpoint in place (atomic replace; content-equivalent, so a
        concurrent reader sees either form identically). Called by the
        ops that UNLINK manifests before they sever a delta's base
        chain. True = the file was a delta and got rewritten."""
        path = self._manifest_path(version)
        raw = json.loads(self._fs.read_text(path))
        if "delta_of" not in raw:
            return False
        full = self._read_manifest(version)
        self._fs.replace_atomic(path, json.dumps(full))
        return True

    def _publish(
        self, version: int, manifest: dict, base_manifest: dict | None = None
    ) -> None:
        """Atomically publish the manifest for ``version`` (write temp +
        rename). Raises SnapshotConflictError if the version exists.

        ``base_manifest``: the resolved manifest the caller built on.
        When it is version N−1 the delta encoder uses it as is, instead of
        resolving N−1 again (up to ``_CHECKPOINT_EVERY`` reads); any other
        base (a rebased commit, a rollback, none) reads N−1 from the log.

        Every published manifest carries ``committed_at`` — stamped HERE,
        not per-path, so no commit mode can forget it (a rollback once
        published unstamped, and ``version_as_of`` then resolved the
        rollback version for EVERY timestamp because unstamped manifests
        sort before any ts)."""
        manifest.setdefault("committed_at", __import__("time").time())
        final = self._manifest_path(version)
        if self._fs.exists(final):
            raise SnapshotConflictError(f"version {version} already committed")
        # incremental wire format (round 9): non-checkpoint versions
        # write O(changes) delta records against the previous version;
        # every _CHECKPOINT_EVERY-th version (and any commit the delta
        # encoder declines) stays a self-contained checkpoint
        encoded = manifest
        if version % _CHECKPOINT_EVERY != 0 and version > 0:
            base = base_manifest
            if base is None or base.get("version") != version - 1:
                try:
                    base = self._read_manifest(version - 1)
                except (FileNotFoundError, ValueError):
                    base = None
            if base is not None:
                encoded = (
                    _encode_manifest_delta(manifest, base) or manifest
                )
        try:
            # exclusive publish — the metadata-FS seam's put_if_absent
            # (POSIX: hard-link fail-if-exists; HDFS: atomic exclusive
            # create; S3A: see metadata_fs.py's documented contract) —
            # closes the check-then-rename race two concurrent committers
            # would otherwise slip through (rename overwrites on POSIX)
            self._fs.put_if_absent(final, json.dumps(encoded))
        except FileExistsError:
            raise SnapshotConflictError(
                f"version {version} already committed"
            ) from None

    def _head(
        self, expected_base_version: int | None = None
    ) -> tuple[int, dict]:
        """(version, manifest) of the head a write path builds on.
        FileNotFoundError on a table with no commits; SnapshotConflictError
        when ``expected_base_version`` is given and the head is another."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        if expected_base_version is not None and base != expected_base_version:
            raise SnapshotConflictError(
                f"table advanced to v{base}, expected "
                f"v{expected_base_version}"
            )
        return base, self._read_manifest(base)

    # -- write path ---------------------------------------------------------

    def last_committed_batch(self, app_id: str) -> int | None:
        """Highest streaming batch id committed under ``app_id`` (Delta's
        txnAppId/txnVersion mechanism): a foreachBatch writer checks this
        before committing a replayed epoch, making the stream→snapshot
        sink exactly-once on top of Structured Streaming's at-least-once
        replay.

        Evidence lives in the HEAD manifest's ``txns`` map ({app: batch},
        carried forward by every commit mode — like Delta's
        SetTransaction actions), so the check is one manifest read AND
        the evidence survives vacuum (which deletes old manifests; the
        per-version 'txn' stamp alone would vanish with them, silently
        re-opening the duplicate-batch window). Legacy per-version stamps
        are still scanned as a fallback for pre-upgrade tables."""
        head = self.latest_version()
        if head is None:
            return None
        hm = self._read_manifest(head)
        best = hm.get("txns", {}).get(app_id)
        if best is not None:
            return int(best)
        # legacy tables (no txns map yet): scan per-version stamps
        for v in self.versions():
            txn = self._read_manifest(v).get("txn")
            if txn and txn.get("app") == app_id:
                best = txn["batch"] if best is None else max(best, txn["batch"])
        return best

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        expected_base_version: int | None = None,
        txn: tuple[str, int] | None = None,
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
        evolve_partitioning: bool = False,
        on_conflict: str = "error",
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 1024,
        bloom_hashes: int = 4,
        change_data: bool = False,
        _before_publish=None,
    ) -> int:
        """Write ``df``'s rows as new immutable files and publish the next
        manifest. mode='append' keeps prior files; 'overwrite' starts the
        file set fresh (logical truncate — S6 — without deleting history).
        ``expected_base_version`` (optimistic check): refuse if the table
        advanced past it since the caller read. ``txn=(app_id, batch_id)``
        stamps the manifest for exactly-once streaming writers (see
        ``last_committed_batch``).

        ``partition_by`` — Hive-style directory partitioning for the
        commit's files (``col=value/`` subdirs). The manifest records each
        file's partition values as POINT stats, so ``read(where=)`` prunes
        on the partition column through the exact same planner as footer
        stats — the two tiers (directory pruning + stats skipping) compose
        on one scan. Appends to a partitioned table must repeat the same
        ``partition_by`` (the Delta/Hive invariant: partitioning is a
        table property, not a per-write choice) — UNLESS
        ``evolve_partitioning=True`` (Iceberg-style partition evolution):
        the commit declares a NEW layout; old files keep pruning through
        their recorded point stats, new files through the new layout, one
        ``prune_files`` pass over both generations. A later OPTIMIZE
        migrates old files to the current layout.

        ``on_conflict`` — optimistic-concurrency policy when another
        writer publishes this version first (Delta's logical conflict
        resolution): ``'error'`` (default) raises SnapshotConflictError;
        ``'rebase'`` (append mode only) automatically re-reads the new
        head, re-VALIDATES schema/partitioning against it, and republishes
        the SAME already-written file set as head+1 — two appends never
        conflict logically (their file sets are disjoint by construction),
        so the loser pays one manifest round-trip, zero data I/O. Rebase
        is incompatible with ``expected_base_version`` (which asks for the
        opposite: fail if the table moved).

        ``bloom_cols`` — per-file bloom filters for these columns enter
        the manifest beside the min/max stats: equality/IN reads prune
        files the bloom proves cannot hold the probe value, the
        point-lookup complement to range skipping (decisive when keys
        are hash-distributed and every file's [min, max] spans the
        domain). Sound by construction (false positives only keep
        files), and the md5-derived bit positions are engine-replayable,
        so even the pruning DECISIONS are oracle-checkable."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if change_data and mode != "overwrite":
            raise ValueError(
                "change_data=True applies to mode='overwrite' only — "
                "appends are O(new files) facts both change feeds already "
                "consume without extra images"
            )
        if partition_by:
            # hidden partitioning: transform specs ("day(ts)",
            # "bucket(16,k)", "truncate(4,s)") canonicalize here so the
            # append-layout invariant compares layouts, not spellings
            partition_by = [_canon_partition_spec(s) for s in partition_by]
        if on_conflict not in ("error", "rebase"):
            raise ValueError(f"on_conflict must be error|rebase, got {on_conflict!r}")
        if on_conflict == "rebase":
            if mode != "append":
                raise ValueError(
                    "on_conflict='rebase' supports mode='append' only — a "
                    "rebased overwrite would silently discard the winner's "
                    "commit"
                )
            if expected_base_version is not None:
                raise ValueError(
                    "expected_base_version and on_conflict='rebase' are "
                    "contradictory (pin the base OR follow the head)"
                )
        written: tuple | None = None
        cd_entry: dict | None = None
        validated_constraints: dict | None = None
        for _attempt in range(20):
            base = self.latest_version()
            # one parse per attempt — the manifest scales with file count
            # (and carries bloom bitmaps), so re-reading it per check is
            # real cost on big tables
            head_manifest = (
                self._read_manifest(base) if base is not None else {}
            )
            prior_manifest = head_manifest if mode == "append" else {}
            if (
                expected_base_version is not None
                and base != expected_base_version
            ):
                raise SnapshotConflictError(
                    f"table advanced to v{base}, "
                    f"expected v{expected_base_version}"
                )
            if txn is not None and base is not None:
                # txn-idempotence (Delta's txnAppId/txnVersion, enforced
                # INSIDE the commit loop, not just by the sink's
                # pre-check): a zombie-writer race — two drivers running
                # the same (app, batch) — must not land the batch twice.
                # Without this, on_conflict='rebase' would happily
                # republish the loser's identical batch on the new head.
                prior_batch = self.last_committed_batch(txn[0])
                if prior_batch is not None and prior_batch >= int(txn[1]):
                    return base  # batch already durably committed: no-op
            if mode == "append" and base is not None:
                committed_pb = prior_manifest.get("partition_by") or []
                if (
                    list(partition_by or []) != committed_pb
                    and not evolve_partitioning
                ):
                    raise ValueError(
                        f"append partition_by {partition_by!r} does not "
                        f"match the table's {committed_pb!r}; pass "
                        "evolve_partitioning=True to change the layout or "
                        "mode='overwrite' to rebuild"
                    )
            table_schema_json = df.schema.json()
            evolved = False
            if mode == "append" and base is not None:
                # schema-on-write (Delta's contract): an appended frame
                # must match the committed schema by field NAME and TYPE,
                # else the mixed file list silently drops/nulls columns
                # depending on which footer Spark samples at read time.
                # Nullability is not compared (parquet writers
                # legitimately tighten it). Re-checked on every rebase
                # attempt — the new head may have evolved meanwhile.
                prior_m = prior_manifest
                committed = json.loads(prior_m["schema"])
                want = [(f["name"], f["type"]) for f in committed["fields"]]
                got = [
                    (f["name"], f["type"])
                    for f in json.loads(df.schema.json())["fields"]
                ]
                evolved = bool(prior_m.get("evolved"))
                if want != got:
                    # ADDITIVE schema evolution (Delta's mergeSchema): the
                    # shared prefix must agree BY NAME, with TYPE WIDENING
                    # allowed inside a numeric family (Delta 4.0's type
                    # widening: int-family chains and float→double — the
                    # table schema takes the per-field WIDEST type; every
                    # read path already casts each file up to the
                    # committed schema, so narrow old files serve wide).
                    # A LONGER frame widens the table schema (old files
                    # read the new columns as NULL), a shorter one
                    # appends with its columns (the new ones read NULL
                    # for these rows). Anything non-prefix, or a type
                    # change across families, is a hard refuse — silent
                    # column remapping is how tables rot.
                    k = min(len(want), len(got))
                    widened = _widen_schema_prefix(want[:k], got[:k])
                    if not merge_schema or widened is None:
                        raise ValueError(
                            f"append schema mismatch vs v{base}: "
                            f"table has {want}, frame has {got}; "
                            "pass merge_schema=True for additive evolution "
                            "or mode='overwrite' to change the schema"
                        )
                    evolved = True
                    added = (
                        [n for n, _t in got[k:]]
                        if len(got) > len(want)
                        else []
                    )
                    retired_hit = set(added) & (
                        set(prior_m.get("retired_columns", []))
                        | set(
                            (prior_m.get("column_mapping") or {}).values()
                        )
                    )
                    if retired_hit:
                        # a DROPPED or RENAMED-AWAY column's bytes still
                        # live in old files under this physical name;
                        # re-adding it would resurrect stale data for
                        # pre-evolution rows
                        raise ValueError(
                            f"column name(s) {sorted(retired_hit)} are "
                            "retired physical names in this table's old "
                            "files — pick a fresh name or OPTIMIZE to "
                            "rewrite the old files first"
                        )
                    base_fields = json.loads(
                        prior_m["schema"]
                        if len(want) >= len(got)
                        else df.schema.json()
                    )
                    for i, (_n, ty) in enumerate(widened):
                        base_fields["fields"][i]["type"] = ty
                    table_schema_json = json.dumps(base_fields)
            # bloom spec is a TABLE PROPERTY: explicitly given on this
            # commit, else inherited from the head on append — otherwise
            # every rewrite path would silently shed the blooms and the
            # point-lookup prune would quietly degrade to full scans
            if bloom_cols:
                bloom_spec = {
                    "cols": list(bloom_cols),
                    "bits": bloom_bits,
                    "hashes": bloom_hashes,
                }
            elif mode == "append":
                bloom_spec = prior_manifest.get("bloom")
            else:
                bloom_spec = None
            # CHECK constraints are a TABLE PROPERTY surviving overwrite
            # (like txns — an overwrite replaces data, not the contract);
            # enforced on the frame per attempt: a rebase may land on a
            # head whose constraints changed since the first validation,
            # so re-validate whenever the effective set differs
            constraints = head_manifest.get("constraints")
            if constraints and constraints != validated_constraints:
                _validate_constraints(df, constraints, "the committed frame")
                validated_constraints = constraints
            if written is None:  # data files written ONCE; rebases reuse
                written = self._write_data_files(
                    df,
                    partition_by,
                    bloom_cols=(bloom_spec or {}).get("cols"),
                    bloom_bits=(bloom_spec or {}).get("bits", 1024),
                    bloom_hashes=(bloom_spec or {}).get("hashes", 4),
                )
            if change_data and cd_entry is None:
                # OPT-IN overwrite change data (round 11): the exact row
                # diff old-live vs new — O(old + new rows), which for an
                # overwrite is O(table); hence opt-in, unlike the CoW DML
                # paths whose images are O(changed rows) and always on.
                # With the entry present the STREAMING feed crosses the
                # overwrite instead of refusing. ``df`` is evaluated a
                # second time here — same determinism contract as the
                # write itself.
                if base is None:
                    frames = {"insert": df}
                else:
                    pre = _align_to(self.read(df.sparkSession, base), df)
                    frames = {
                        "delete": pre.exceptAll(df),
                        "insert": df.exceptAll(pre),
                    }
                cd_entry = self._write_change_data(frames)
            txns = dict(head_manifest.get("txns", {}))
            if txn is not None:
                prev = txns.get(txn[0])
                txns[txn[0]] = max(int(txn[1]), int(prev)) if prev is not None else int(txn[1])
            manifest = _successor(
                head_manifest,
                mode,
                new=written,
                schema=table_schema_json,
                evolved=evolved,
                bloom=bloom_spec,
                partition_by=list(partition_by or []),
                txns=txns,
                txn={"app": txn[0], "batch": int(txn[1])} if txn else None,
                change_data=cd_entry,
            )
            version = manifest["version"]
            if _before_publish is not None:  # test seam: deterministic race
                hook, _before_publish = _before_publish, None
                hook()
            try:
                self._publish(version, manifest, base_manifest=head_manifest)
                return version
            except SnapshotConflictError:
                if on_conflict != "rebase":
                    raise
                continue  # re-read head, re-validate, republish same files
        raise SnapshotConflictError(
            "rebase gave up after 20 attempts (writer livelock?)"
        )

    def publish_files(
        self,
        files: list[str],
        stats: dict,
        mode: str = "append",
        schema_json: str | None = None,
        on_conflict: str = "rebase",
        partitions: dict | None = None,
        partition_by: list[str] | None = None,
        _before_publish=None,
    ) -> int:
        """Register EXTERNALLY-WRITTEN parquet files as the next version —
        Iceberg's add_files / the commit half of a two-phase write. This
        is what the snapshot DataSource WRITER calls: executors write the
        files and collect their own footer stats (the real 100 TB shape —
        the driver never reads a footer), the driver only publishes the
        manifest here. ``schema_json`` is required for the first/
        overwrite commit and must MATCH the head schema on append (no
        merge_schema on this path). Defaults to rebase-on-conflict:
        externally-written appends are disjoint by construction, so the
        loser republishes free.

        ``partitions``/``partition_by`` — for files the writer laid out
        under a (possibly hidden-transform) partition scheme: per-file
        point values in the manifest's tagged form, plus the canonical
        layout spec. An append must repeat the table's layout exactly
        (the same invariant as ``commit``); flat files into a
        partitioned table (or vice versa) refuse."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if partition_by:
            partition_by = [_canon_partition_spec(s) for s in partition_by]
        for _attempt in range(20):
            base = self.latest_version()
            # the head is read in overwrite mode too: its file set is
            # discarded (overwrite starts clean) but the table properties
            # carry — dropping ``txns`` would erase every streaming
            # writer's exactly-once evidence, letting a replayed
            # foreachBatch epoch commit a second time
            head = self._read_manifest(base) if base is not None else {}
            if mode == "append" and base is not None:
                if list(partition_by or []) != (
                    head.get("partition_by") or []
                ):
                    raise ValueError(
                        f"publish_files layout {partition_by!r} does not "
                        f"match the table's "
                        f"{head.get('partition_by') or []!r}"
                    )
                if schema_json is not None:
                    want = [
                        (f["name"], f["type"])
                        for f in json.loads(head["schema"])["fields"]
                    ]
                    got = [
                        (f["name"], f["type"])
                        for f in json.loads(schema_json)["fields"]
                    ]
                    if want != got:
                        raise ValueError(
                            f"publish_files schema mismatch vs v{base}: "
                            f"table has {want}, files have {got}"
                        )
                use_schema = head["schema"]
            else:
                if schema_json is None:
                    raise ValueError(
                        "schema_json required for the first/overwrite commit"
                    )
                use_schema = schema_json
            # constraints carry as a table property; externally-written
            # files are NOT re-read here (no session) — the writer that
            # produced them owns validation (the DataSource writer's
            # frame came through Spark, so its rows were the caller's to
            # check; a raw add_files caller is trusted like Iceberg's)
            manifest = _successor(
                head,
                mode,
                new=(files, stats, partitions or {}),
                schema=use_schema,
                partition_by=list(partition_by or []),
            )
            version = manifest["version"]
            if _before_publish is not None:
                hook, _before_publish = _before_publish, None
                hook()
            try:
                self._publish(version, manifest, base_manifest=head)
                return version
            except SnapshotConflictError:
                if on_conflict != "rebase" or mode != "append":
                    raise
                continue
        raise SnapshotConflictError(
            "publish_files gave up after 20 attempts (writer livelock?)"
        )

    def _bloom_kwargs(self, manifest: dict) -> dict:
        """The write-path kwargs realizing a manifest's bloom table
        property — every rewrite (merge / optimize / replace_where)
        rebuilds blooms for its new files so the point-lookup prune
        never silently degrades."""
        spec = manifest.get("bloom") or {}
        return {
            "bloom_cols": spec.get("cols"),
            "bloom_bits": spec.get("bits", 1024),
            "bloom_hashes": spec.get("hashes", 4),
        }

    def _write_data_files(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 1024,
        bloom_hashes: int = 4,
    ) -> tuple[list[str], dict, dict]:
        """Write ``df`` as a fresh immutable file set under a new commit
        dir and return (files, footer stats, partition point-stats) —
        the shared physical-write half of commit() and merge().
        ``bloom_cols``: additionally build a per-file bloom filter for
        these columns, stored INSIDE the stats entry (so every carry path
        — merge, optimize, delete, clone, rollback — transports it for
        free)."""
        commit_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, f"commit-{commit_id}")
        # hidden partitioning: transform specs become DERIVED directory
        # columns (self-describing names — see the transform helpers);
        # identity columns pass through. The derived columns exist only
        # for the partitioned write — the table schema never sees them.
        aug = df
        dir_cols: list[str] = []
        if partition_by:
            src_types = {
                f["name"]: f["type"]
                for f in json.loads(df.schema.json())["fields"]
                if isinstance(f["type"], str)
            }
            for s in partition_by:
                t = _parse_transform_spec(s)
                if t is None:
                    dir_cols.append(s)
                    continue
                if t["col"] not in df.columns:
                    raise ValueError(
                        f"transform {s!r} names a missing column "
                        f"{t['col']!r}"
                    )
                if t["name"] in df.columns:
                    raise ValueError(
                        f"derived partition column {t['name']!r} collides "
                        f"with a real column; rename it"
                    )
                aug = aug.withColumn(
                    t["name"], _transform_expr(t, src_types.get(t["col"], ""))
                )
                dir_cols.append(t["name"])
        # Spark's legacy-compat default writes timestamps as INT96, which
        # carries NO footer min/max — that would silently disable data
        # skipping on every timestamp column. Pin the modern physical type
        # for the commit write (and restore the session conf after).
        conf = df.sparkSession.conf
        key = "spark.sql.parquet.outputTimestampType"
        prev = conf.get(key, None)
        conf.set(key, "TIMESTAMP_MICROS")
        try:
            w = aug.write.mode("error")
            if dir_cols:
                w = w.partitionBy(*dir_cols)
            w.parquet(out_dir)
        finally:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)
        new_files = sorted(
            os.path.join(dirpath, f)
            for dirpath, _, files in os.walk(out_dir)
            for f in files
            if f.endswith(".parquet")
        )
        type_by_col = {
            f["name"]: f["type"]
            for f in json.loads(aug.schema.json())["fields"]
            if isinstance(f["type"], str)
        }
        stats = {f: _file_column_stats(f) for f in new_files}
        # exact write-time evidence the footer cannot supply (NaN
        # counts; long-string bounds the writer truncated/dropped):
        # read back ONLY the needed columns per new file — O(changeset)
        # and column-pruned; skipped entirely for the common no-float
        # short-string commit. Local-mode stand-in for the executor-side
        # fold the 2PC DataSource writer does in-memory.
        import pyarrow.parquet as _pq

        for f in new_files:
            need = _overlay_columns_needed(
                stats[f], _pq.ParquetFile(f).schema_arrow
            )
            if need:
                _exact_stats_overlay(
                    stats[f], _pq.read_table(f, columns=need)
                )
        if bloom_cols:
            import pyarrow.parquet as pq

            for f in new_files:
                present = set(pq.ParquetFile(f).schema_arrow.names)
                for col in bloom_cols:
                    if col not in present:  # e.g. a partition column
                        continue
                    b = _file_bloom(f, col, bloom_bits, bloom_hashes)
                    if b is not None:
                        stats[f].setdefault(col, {})["bloom"] = b
        partitions = (
            {
                f: _parse_partition_segments(
                    os.path.relpath(f, out_dir).split(os.sep)[:-1],
                    type_by_col,
                )
                for f in new_files
            }
            if dir_cols
            else {}
        )
        return new_files, stats, partitions

    def _write_change_data(self, frames: dict) -> dict:
        """Write Delta-style CHANGE DATA files for one commit (round 11 —
        Delta's ``_change_data`` / cdc actions): ``frames`` maps a
        ``_change_type`` ∈ {insert, delete, update_preimage,
        update_postimage} to the DataFrame of exactly those row images,
        full table width. Each type lands under its own
        ``_change_type=<t>`` subdir of a fresh ``changes-*`` dir inside
        ``data_dir`` (so vacuum's walk can reclaim them with the
        version), and the returned manifest entry records the surviving
        file paths per type:

            {"dir": <changes dir>, "types": {<ctype>: [paths…]}}

        Zero-row part files are unlinked — an entry with EMPTY ``types``
        is a positive proof the commit changed no rows (a no-op UPDATE),
        which both feeds read as "emit nothing" instead of refusing.

        The writer paths that rewrite data (CoW delete/update, merge,
        replace_where) call this with the pre/post images they already
        materialize, so the extra cost is O(changed rows) — the move
        that makes the STREAMING change feed total over the DML matrix
        (the round-10 gap: ``_plan_cdf_partitions`` raised at every CoW
        version because a rewrite's row changes were only recoverable by
        the batch feed's two-sided multiset diff)."""
        import pyarrow.parquet as _pq

        cdir = os.path.join(self.data_dir, f"changes-{uuid.uuid4().hex[:12]}")
        types: dict[str, list[str]] = {}
        stats: dict[str, dict] = {}
        rows: dict[str, int] = {}
        for ctype, cdf in frames.items():
            if cdf is None:
                continue
            out_dir = os.path.join(cdir, f"_change_type={ctype}")
            conf = cdf.sparkSession.conf
            key = "spark.sql.parquet.outputTimestampType"
            prev = conf.get(key, None)
            conf.set(key, "TIMESTAMP_MICROS")  # same pin as data files
            try:
                cdf.write.mode("error").parquet(out_dir)
            finally:
                if prev is None:
                    conf.unset(key)
                else:
                    conf.set(key, prev)
            written = sorted(
                os.path.join(dirpath, f)
                for dirpath, _, files in os.walk(out_dir)
                for f in files
                if f.endswith(".parquet")
            )
            kept = []
            n = 0
            for f in written:
                nf = _pq.ParquetFile(f).metadata.num_rows
                if nf > 0:
                    kept.append(f)
                    n += nf
                    # footer stats let a FILTERED batch-CDF read prune
                    # whole image files (round 11 pushdown) — same
                    # evidence shape as data files
                    stats[f] = _file_column_stats(f)
                else:
                    self._fs.unlink(f)  # empty shuffle partition
            if kept:
                types[ctype] = kept
                rows[ctype] = n
        out = {"dir": cdir, "types": types}
        if stats:
            out["stats"] = stats
        if rows:
            # per-type image row counts — commit-time CDC metrics (free
            # from the footers just read), and what lets delete_where
            # derive rows_changed without a separate count scan
            out["rows"] = rows
        return out

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        *,
        matched_delete=None,
        matched_update=None,
        update_condition=None,
        not_matched_insert=None,
        expected_base_version: int | None = None,
        on_conflict: str = "error",
        _before_publish=None,
    ) -> dict:
        """Copy-on-write MERGE INTO this snapshot table — the transactional
        form of ``operators/merge.merge_into`` (which this delegates to for
        the row semantics; reference upsert: ingest_laps.py:59-66):

        1. **Find touched files** (Delta's findTouchedFiles): semi-join the
           target scan against the source's distinct keys, collecting the
           distinct ``input_file_name()`` set — data-proven, so a file is
           rewritten ONLY if it really contains a matched key. The scan is
           first PRE-PRUNED by the manifest's min/max stats on the leading
           key against the source's key range: at 100 TB the semi-join
           probe reads only files whose key range overlaps the changeset,
           and the source side broadcasts when small (the usual case).
        2. **Rewrite only those files**: merge_into over the touched rows —
           source keys absent from touched rows are absent from the whole
           table (any file holding a matched key IS touched), so matched /
           not-matched classification over the subset equals the global
           one. Untouched files carry into the new manifest BY IDENTITY
           (same paths, same stats — zero I/O).
        3. Publish as the next version, mode='merge'. Time travel, CDC
           (snapshot_diff) and rollback work unchanged.

        ``on_conflict='retry'`` — Delta-style logical conflict resolution
        when another writer wins the version race: the merge's REWRITE is
        reusable iff the winner(s) (a) did not remove or rewrite any of
        this merge's touched files, (b) added no tombstones (our rewritten
        files carry a newer seq and would escape them), and (c) added no
        files containing this merge's source keys (proven by the same
        stats-pre-pruned semi-join as findTouchedFiles, run over ONLY the
        winner's added files — O(overlapping added files), not O(table)).
        If all hold, the same new files are republished on the new head
        with the winner's additions carried by identity; any violation
        raises SnapshotConflictError (the caller must re-run the merge —
        its matched/not-matched classification is stale). Overwrite or
        rollback winners always raise (the file set was replaced).

        Returns {"version", "files_rewritten", "files_carried"}.
        """
        from urllib.parse import unquote, urlparse

        from f1_bigdata_pyspark_spark.operators.merge import merge_into

        _, manifest = self._head(expected_base_version)

        # stats pre-prune: only files overlapping the changeset's key range
        # can be touched (single-row source agg — bounded metadata)
        lead = keys[0]
        rng = source.agg(
            F_min(lead).alias("mn"), F_max(lead).alias("mx")
        ).head()
        src_keys = source.select(*keys).distinct()

        def probe_touched(m: dict, pool: list[str]) -> set[str]:
            """Files of ``pool`` that really contain a source key:
            stats-pre-prune the pool on the leading key's range, then one
            semi-join collecting distinct input_file_name() — one path per
            touched FILE, manifest-scale metadata, never data-proportional."""
            if rng.mn is None or not pool:
                return set()
            sub = dict(m)
            sub["files"] = pool
            cand = prune_files(
                sub, [(lead, ">=", rng.mn), (lead, "<=", rng.mx)]
            )
            if not cand:
                return set()
            probe = (
                self._scan_with_tombstones(spark, m, cand, with_file_name=True)
                .join(src_keys, keys, "left_semi")
                .select("__file")
                .distinct()
            )
            # input_file_name() yields ABSOLUTE, symlink-resolved URIs;
            # the manifest may hold relative (or symlinked) paths — map
            # back through realpath or a table opened via a relative root
            # would find NOTHING touched and silently insert duplicates
            by_real = {os.path.realpath(f): f for f in m["files"]}
            out = set()
            for r in probe.collect():
                p = unquote(urlparse(r["__file"]).path)
                out.add(by_real.get(os.path.realpath(p), p))
            return out

        touched = probe_touched(manifest, manifest["files"])
        touched_files = [f for f in manifest["files"] if f in touched]

        target_subset = self._scan_with_tombstones(
            spark, manifest, touched_files
        )
        merged = merge_into(
            target_subset,
            source,
            keys,
            matched_delete=matched_delete,
            matched_update=matched_update,
            update_condition=update_condition,
            not_matched_insert=not_matched_insert,
        )
        if manifest.get("constraints"):
            # enforced on the rewrite output: an update expression can
            # violate a CHECK the raw target satisfied
            _validate_constraints(
                merged, manifest["constraints"], "the merged rows"
            )
        new_files, new_stats, new_partitions = self._write_data_files(
            merged, manifest.get("partition_by"), **self._bloom_kwargs(manifest)
        )
        # change data (round 11): the merge's row images are the multiset
        # diff of the touched rows vs their rewrite — O(touched rows),
        # already materialized above. Rows the merge carried through
        # unchanged cancel in exceptAll, exactly as the feed's generic
        # diff path would report them. Reused verbatim by every retry
        # attempt: a disjoint winner's rows were reported at the
        # winner's own version.
        cd_entry = self._write_change_data(
            {
                "delete": target_subset.exceptAll(merged),
                "insert": merged.exceptAll(target_subset),
            }
        )
        cur = manifest  # the manifest this rewrite is valid against
        for _attempt in range(20):
            carried = [f for f in cur["files"] if f not in touched]
            # rewritten files were built THROUGH the tombstones and
            # vectors and get a post-delete seq, so the carried masks keep
            # applying only to the untouched old files — no resurrection,
            # no double-delete
            out = _successor(
                cur,
                "merge",
                carried=carried,
                new=(new_files, new_stats, new_partitions),
                change_data=cd_entry,
            )
            version = out["version"]
            if _before_publish is not None:  # test seam: deterministic race
                hook, _before_publish = _before_publish, None
                hook()
            try:
                self._publish(version, out, base_manifest=cur)
                return {
                    "version": version,
                    "files_rewritten": len(touched_files),
                    "files_carried": len(carried),
                }
            except SnapshotConflictError:
                if on_conflict != "retry":
                    raise
                head_v = self.latest_version()
                for v in range(cur["version"] + 1, head_v + 1):
                    wmode = self._read_manifest(v)["mode"]
                    if wmode.startswith("rollback") or wmode == "overwrite":
                        raise SnapshotConflictError(
                            f"concurrent v{v} is {wmode!r} — the file set "
                            "was replaced; re-run the merge from a fresh "
                            "snapshot"
                        )
                head = self._read_manifest(head_v)
                removed = set(cur["files"]) - set(head["files"])
                if removed & touched:
                    raise SnapshotConflictError(
                        "concurrent writer rewrote/removed files this "
                        "merge touched — re-run the merge"
                    )
                if head.get("tombstones", []) != cur.get("tombstones", []):
                    raise SnapshotConflictError(
                        "concurrent DELETE landed — this merge's rewritten "
                        "files would escape its tombstones; re-run the merge"
                    )
                added = [
                    f for f in head["files"] if f not in set(cur["files"])
                ]
                if probe_touched(head, added):
                    raise SnapshotConflictError(
                        "concurrent commit added rows matching the merge "
                        "source — matched/not-matched classification is "
                        "stale; re-run the merge"
                    )
                cur = head  # disjoint: republish the same rewrite on head
        raise SnapshotConflictError(
            "merge retry gave up after 20 attempts (writer livelock?)"
        )

    def replace_where(
        self,
        spark: SparkSession,
        df: DataFrame,
        where: list[tuple[str, str, object]],
        expected_base_version: int | None = None,
    ) -> dict:
        """Delta's ``replaceWhere``: atomically replace EXACTLY the rows
        matching ``where`` with ``df``'s rows — the targeted-rewrite
        primitive (repartition one hot cell, rebuild one day's partition,
        backfill one tenant) that neither ``overwrite`` (loses everything
        else) nor ``merge`` (key-matched, can't drop unmatched old rows)
        expresses.

        Exactness requires PROVABLE per-file membership, so every
        predicate column must have a recorded partition point value on
        EVERY live file (point stats make may-match == all-match; footer
        min/max ranges can only prove "maybe"). Files whose point values
        satisfy the whole conjunction are dropped; every other file is
        carried by identity (zero I/O); ``df`` is written as new files
        under the current layout. Refused when ``df`` contains rows
        OUTSIDE the predicate (they would silently leak into the table —
        the same guard Delta applies). Returns {"version",
        "files_replaced", "files_carried", "files_written"}."""
        base, manifest = self._head(expected_base_version)
        # same schema-on-write contract as append: silent column
        # remapping inside a replaced region is how tables rot
        want = [
            (f["name"], f["type"])
            for f in json.loads(manifest["schema"])["fields"]
        ]
        got = [
            (f["name"], f["type"])
            for f in json.loads(df.schema.json())["fields"]
        ]
        if want != got:
            raise ValueError(
                f"replace_where schema mismatch vs v{base}: table has "
                f"{want}, frame has {got}"
            )
        part_values = manifest.get("partitions", {})
        cols = {c for c, _, _ in where}
        for f in manifest["files"]:
            missing = cols - set(part_values.get(f, {}))
            if missing:
                raise ValueError(
                    f"replace_where needs partition point values for "
                    f"{sorted(cols)} on every live file; {f} lacks "
                    f"{sorted(missing)} (partition the table by these "
                    "columns, or OPTIMIZE after partition evolution)"
                )
        pred = _predicate_column(where)
        # rows outside the predicate must not ride in (NULL predicate
        # results count as outside — three-valued logic folded strictly)
        from pyspark.sql.functions import coalesce as F_coalesce
        from pyspark.sql.functions import lit as F_lit
        n_outside = df.filter(~F_coalesce(pred, F_lit(False))).limit(1).count()
        if n_outside:
            raise ValueError(
                "replace_where: df contains rows NOT matching the "
                "predicate — they would leak outside the replaced region"
            )
        # point stats: may-match == all-match, so this removal is exact
        removed = set(prune_files(manifest, where))
        carried = [f for f in manifest["files"] if f not in removed]
        if manifest.get("constraints"):
            _validate_constraints(
                df, manifest["constraints"], "the replacement rows"
            )
        new_files, new_stats, new_partitions = self._write_data_files(
            df, manifest.get("partition_by"), **self._bloom_kwargs(manifest)
        )
        # change data (round 11): old live rows of the replaced region vs
        # the replacement frame — exceptAll cancels re-written identical
        # rows, matching the feed's generic diff semantics exactly
        region = self._scan_with_tombstones(
            spark, manifest, [f for f in manifest["files"] if f in removed]
        )
        cd_entry = self._write_change_data(
            {
                "delete": region.exceptAll(df),
                "insert": df.exceptAll(region),
            }
        )
        # carried old files keep their masks; the replacement files get a
        # post-delete seq (their content is NEW rows by definition)
        self._publish(
            base + 1,
            _successor(
                manifest,
                "replace-where",
                carried=carried,
                new=(new_files, new_stats, new_partitions),
                change_data=cd_entry,
            ),
            base_manifest=manifest,
        )
        return {
            "version": base + 1,
            "files_replaced": len(removed),
            "files_carried": len(carried),
            "files_written": len(new_files),
        }

    def optimize(
        self,
        spark: SparkSession,
        sort_cols: list[str],
        target_files: int = 1,
        zorder: bool = False,
        zorder_bits: int = 12,
    ) -> int:
        """OPTIMIZE: rewrite the CURRENT snapshot into ``target_files``
        range-partitioned files sorted within each file by ``sort_cols``,
        published as a new version (rows identical; history intact — the
        old files stay referenced by old manifests until VACUUM).

        This is the Delta OPTIMIZE ... ZORDER/sort shape, and it composes
        directly with data skipping: after the rewrite each file owns a
        DISJOINT range of the sort key, so the manifest min/max stats
        prune range predicates to ~1 file where the pre-optimize layout
        (key ranges smeared across every ingest file) pruned nothing —
        pinned in tests/test_snapshots.py. Scale: repartitionByRange is
        one range exchange of the live snapshot (sampled boundaries), the
        per-file sort is local; small-file count drops from O(#commits)
        to O(target_files).

        ``zorder=True`` (Delta's OPTIMIZE ZORDER BY): instead of a
        lexicographic sort — which clusters only the LEADING key —
        cluster by the Morton interleave of the (non-negative integer)
        sort columns' low ``zorder_bits`` bits, so each rewritten file
        owns a compact range in EVERY sort dimension and the manifest
        stats prune predicates on any of them (pinned in tests: the
        lexicographic layout prunes nothing on the second column, the
        z-ordered one does). The z key is a pure narrow map; the
        exchange/sort cost is identical to the plain sort."""
        current = self.read(spark)
        if zorder:
            if len(sort_cols) < 2:
                raise ValueError("zorder needs >= 2 columns")
            z = None
            for b in range(zorder_bits):
                for ci, c in enumerate(sort_cols):
                    bit = F_shiftleft(
                        F_shiftright(
                            F_col(c).cast("long").bitwiseAND(1 << b), b
                        ),
                        b * len(sort_cols) + ci,
                    )
                    z = bit if z is None else z + bit
            keyed = current.withColumn("__z", z)
            rewritten = (
                keyed.repartitionByRange(target_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            rewritten = current.repartitionByRange(
                target_files, *sort_cols
            ).sortWithinPartitions(*sort_cols)
        # a partitioned table keeps its directory layout through OPTIMIZE
        # (Delta compacts within partitions); file count becomes
        # target_files x touched partition values
        pb = None
        bk = {}
        latest = self.latest_version()
        if latest is not None:
            m = self._read_manifest(latest)
            pb = m.get("partition_by")
            bk = self._bloom_kwargs(m)  # OPTIMIZE keeps the bloom property
        # pin the base: OPTIMIZE rewrites the snapshot it READ; publishing
        # over a head that moved meanwhile would silently drop the
        # concurrent commit's rows (every other rewrite path conflicts)
        return self.commit(
            rewritten,
            mode="overwrite",
            partition_by=pb,
            expected_base_version=latest,
            bloom_cols=bk.get("bloom_cols"),
            bloom_bits=bk.get("bloom_bits", 1024),
            bloom_hashes=bk.get("bloom_hashes", 4),
        )

    def optimize_deletions(
        self,
        spark: SparkSession,
        min_masked_fraction: float = 0.05,
    ) -> dict:
        """DV-AWARE compaction (Delta's PURGE / Iceberg's rewrite of
        position-deleted files): rewrite ONLY the files whose deletion-
        vector-masked row fraction reaches ``min_masked_fraction`` —
        they pay the anti-join read tax on mostly-dead bytes — and keep
        lightly-masked files serving through their vectors. The
        incremental payback half of the merge-on-read bargain: DELETE
        stays O(matching rows), and this touches O(heavily-masked
        bytes), never the table. Masked counts come from ONE narrow
        aggregation over the vectors themselves (O(deleted rows));
        rewritten files go THROUGH the scan (vectors + tombstones
        applied), carried files keep their entries via the usual carry
        filter, and vector records whose every file got rewritten drop
        (their dirs become vacuumable once old versions expire).
        Returns {"version", "files_rewritten", "files_carried",
        "rows_purged"}; no file over the threshold = no-op, nothing
        published."""
        base, manifest = self._head()
        dvs = manifest.get("dvs") or []
        noop = {
            "version": base,
            "files_rewritten": 0,
            "files_carried": len(manifest["files"]),
            "rows_purged": 0,
        }
        if not dvs:
            return noop
        from pyspark.sql import functions as F

        dv_parts = [spark.read.parquet(d["dir"]) for d in dvs]
        dead = dv_parts[0]
        for dvp in dv_parts[1:]:
            dead = dead.unionByName(dvp)
        masked = {
            r["__file"]: r["n"]
            for r in dead.groupBy("__file")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .collect()
        }
        stats = manifest.get("stats", {})
        live = set(manifest["files"])  # hoisted: the loop must not
        rewrite = []  # rebuild this per masked file (quadratic at 1M files)
        purged = 0
        for f, n in masked.items():
            if f not in live:
                continue  # stale entry (defensive): nothing to rewrite
            rows = _file_row_count(stats.get(f, {}))
            frac = (n / rows) if rows else 1.0  # unknown size: assume hot
            if frac >= min_masked_fraction:
                rewrite.append(f)
                purged += n
        if not rewrite:
            return noop
        df = self._scan_with_tombstones(spark, manifest, rewrite)
        new_files, new_stats, new_partitions = self._write_data_files(
            df, manifest.get("partition_by"), **self._bloom_kwargs(manifest)
        )
        rewritten = set(rewrite)
        carried = [f for f in manifest["files"] if f not in rewritten]
        self._publish(
            base + 1,
            _successor(
                manifest,
                "optimize-deletions",
                carried=carried,
                new=(new_files, new_stats, new_partitions),
            ),
            base_manifest=manifest,
        )
        return {
            "version": base + 1,
            "files_rewritten": len(rewrite),
            "files_carried": len(carried),
            "rows_purged": purged,
        }

    def consolidate_deletion_vectors(
        self,
        spark: SparkSession,
        max_records: int = 8,
        dv_buckets: int = 16,
    ) -> dict:
        """Fold ALL live deletion-vector records into ONE consolidated
        per-bucket vector when the record list exceeds ``max_records`` —
        the read-amplification bound merge-on-read needs at scale: N
        small DELETEs otherwise make every task of every scan open N
        bucket slices (and row-group-range splits of one file re-read
        them per split). Metadata + O(deleted rows) work: the new vector
        is the semi-joined union of the old ones (record ``files`` lists
        are authoritative — addresses for since-rewritten files are
        dropped), written under the same md5-bucket layout; the commit
        publishes a single ``dvs`` record and touches ZERO data files.
        Logically row-preserving, so the stream planner passes it like
        an append (it adds/removes no files) and the row-level change
        feed emits nothing for it. Old vector dirs stay referenced by
        old manifests until vacuum. Returns {"version",
        "dv_records_before", "dv_records_after", "rows_carried"}."""
        base, manifest = self._head()
        dvs = manifest.get("dvs") or []
        if len(dvs) <= max_records:
            return {
                "version": base,
                "dv_records_before": len(dvs),
                "dv_records_after": len(dvs),
                "rows_carried": 0,
            }
        from pyspark.sql import functions as F

        named = sorted({f for d in dvs for f in d["files"]})
        union = None
        for d in dvs:
            part = spark.read.parquet(d["dir"]).select("__file", "__pos")
            union = part if union is None else union.unionByName(part)
        names_df = spark.createDataFrame([(f,) for f in named], "__file string")
        vec = union.join(
            F.broadcast(names_df), "__file", "left_semi"
        ).distinct()
        dv_dir = _write_dv(vec, dv_buckets, self.data_dir)
        rows = spark.read.parquet(dv_dir).count()
        self._publish(
            base + 1,
            _successor(
                manifest,
                "dv-consolidate",
                dvs=[{"dir": dv_dir, "files": named, "n_buckets": dv_buckets}],
            ),
            base_manifest=manifest,
        )
        return {
            "version": base + 1,
            "dv_records_before": len(dvs),
            "dv_records_after": 1,
            "rows_carried": rows,
        }

    def optimize_incremental(
        self,
        spark: SparkSession,
        small_file_max_bytes: int,
        target_file_bytes: int | None = None,
        sort_cols: list[str] | None = None,
    ) -> dict:
        """Incremental OPTIMIZE (the runnable-at-100-TB form of
        ``optimize()``): compact ONLY the live files smaller than
        ``small_file_max_bytes`` into ~``target_file_bytes`` outputs;
        every adequately-sized file carries into the new version BY
        IDENTITY — same path, same manifest stats, zero I/O. A full
        rewrite per OPTIMIZE is not runnable at scale; this touches
        O(small-file bytes), which for a steady-state ingest is the last
        few commits. This is the executable form of the
        compaction_file_planner face (queries/extended.py): same
        size-threshold bin math, applied through a snapshot commit.

        ``sort_cols`` additionally range-clusters the compacted rows so
        the NEW files get tight min/max stats (the skipping payoff);
        untouched files keep whatever stats they had. No-op (returns the
        current version, nothing written) when fewer than 2 small files
        exist. Returns {"version", "files_compacted", "files_carried",
        "files_written"}."""
        base, manifest = self._head()
        # file sizes from the manifest's commit-time meta when recorded
        # (zero filesystem round-trips at 1M files; also works on
        # scheme'd roots); stat() only for pre-meta files
        _stats_m = manifest.get("stats", {})
        sizes = {}
        for f in manifest["files"]:
            b = (_stats_m.get(f, {}).get(FILE_META_KEY) or {}).get("bytes")
            sizes[f] = int(b) if b else os.path.getsize(f)
        small = [f for f in manifest["files"] if sizes[f] < small_file_max_bytes]
        large = [f for f in manifest["files"] if sizes[f] >= small_file_max_bytes]
        if len(small) < 2:
            return {
                "version": base,
                "files_compacted": 0,
                "files_carried": len(manifest["files"]),
                "files_written": 0,
            }
        if target_file_bytes is None:
            target_file_bytes = small_file_max_bytes
        n_out = max(1, -(-sum(sizes[f] for f in small) // target_file_bytes))
        df = self._scan_with_tombstones(spark, manifest, small)
        if sort_cols:
            df = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
                *sort_cols
            )
        else:
            df = df.repartition(n_out)
        new_files, new_stats, new_partitions = self._write_data_files(
            df, manifest.get("partition_by"), **self._bloom_kwargs(manifest)
        )
        # compacted files were rewritten through the masks; the carried
        # large files still need them
        self._publish(
            base + 1,
            _successor(
                manifest,
                "optimize-incremental",
                carried=large,
                new=(new_files, new_stats, new_partitions),
            ),
            base_manifest=manifest,
        )
        return {
            "version": base + 1,
            "files_compacted": len(small),
            "files_carried": len(large),
            "files_written": len(new_files),
        }

    def refresh_stats(
        self, spark: SparkSession, files: list[str] | None = None
    ) -> dict:
        """Backfill write-time evidence for CARRIED files (round 10):
        tables committed before the exact-stats overlay existed carry
        footer-only evidence — float columns without a NaN count
        (``nanc``), long-string columns without usable bounds — and the
        sound-by-refusal design then PERMANENTLY forfeits ``>``-class
        float pruning, long-text skipping, and metadata min/max on them
        until the files are rewritten. This op recomputes each stale
        file's stats FROM ITS OWN DATA (footer harvest + the same
        ``_exact_stats_overlay`` the write paths run, column-pruned to
        the few columns the overlay needs) and publishes a
        METADATA-ONLY append version: same file set, zero data bytes
        rewritten, streams see an empty delta and continue. Per-column
        blooms and everything else in the old entries carry. The
        per-file recompute distributes over the cluster
        (``sc.parallelize`` — per-file imperative pyarrow work, the same
        placement as the 2PC writer's executor-side stats collection).
        Returns {"version", "files_refreshed"}; nothing stale = no-op,
        nothing published."""
        base, manifest = self._head()
        fields = json.loads(manifest["schema"])["fields"]
        float_cols = [
            f["name"] for f in fields if f["type"] in ("float", "double")
        ]
        string_cols = [f["name"] for f in fields if f["type"] == "string"]
        stats = manifest.get("stats", {})

        def _stale(f: str) -> bool:
            st = stats.get(f, {})
            if _file_row_count(st) is None:
                return True  # no file meta: pre-round-8 commit
            ev = _file_evidence(manifest, f)
            for c in float_cols:
                e = ev.get(c)
                if e is not None and "nanc" not in e:
                    return True  # NaN-freedom unproven: no ">"-pruning
            for c in string_cols:
                e = ev.get(c) or {}
                if "min" in e:
                    continue  # usable (possibly tr-marked) bounds
                nc, nr = e.get("nc"), e.get("nr")
                if nc is not None and nr is not None and nc == nr:
                    continue  # provably all-null: exact already
                return True  # no bounds, rows present: refreshable
            return False

        todo = [f for f in (files or manifest["files"]) if _stale(f)]
        if not todo:
            return {"version": base, "files_refreshed": 0}
        fresh = dict(
            spark.sparkContext.parallelize(todo, min(len(todo), 64)).map(
                _recompute_file_stats
            ).collect()
        )
        out_stats = dict(stats)
        for f, new_st in fresh.items():
            old = out_stats.get(f) or {}
            merged = dict(new_st)
            for col, e in old.items():
                if col == FILE_META_KEY:
                    continue
                b = (e or {}).get("bloom")
                if b is not None:  # blooms only exist in the old harvest
                    merged[col] = {**merged.get(col, {}), "bloom": b}
            out_stats[f] = merged
        # mode append: same file set, streams skip clean
        self._publish(
            base + 1,
            _successor(
                manifest, "append", op="refresh-stats", stats=out_stats
            ),
            base_manifest=manifest,
        )
        return {"version": base + 1, "files_refreshed": len(todo)}

    def rollback(
        self, to_version: int, spark: SparkSession | None = None
    ) -> int:
        """Publish a NEW version whose file set equals ``to_version``'s —
        restore without rewriting history.

        ``spark`` (round 11, opt-in like overwrite's ``change_data``):
        when given, the commit also writes CHANGE DATA files holding the
        exact row diff head→target (delete/insert images via the same
        exceptAll semantics as the feed's generic path), so the
        STREAMING change feed crosses the rollback instead of refusing.
        O(differing rows) compute — a rollback that undoes one small
        commit diffs only the files the two manifests disagree on."""
        target = self._read_manifest(to_version)
        base = self.latest_version()
        version = (base if base is not None else -1) + 1
        cd_entry = None
        if spark is not None and base is not None:
            # restrict the two-sided diff to files whose VISIBILITY
            # differs between head and target (same signature rule as
            # the batch feed) — a rollback undoing one commit diffs one
            # commit's files, not the table
            pm = self._read_manifest(base)
            pf, tf = set(pm["files"]), set(target["files"])
            psig = _file_masks(pm, pm["files"])
            csig = _file_masks(target, target["files"])
            aff_prev = [
                f for f in pm["files"] if f not in tf or psig[f] != csig[f]
            ]
            aff_cur = [
                f for f in target["files"] if f not in pf or csig[f] != psig[f]
            ]
            if aff_prev or aff_cur:
                pre = self._scan_with_tombstones(spark, pm, aff_prev)
                post = self._scan_with_tombstones(spark, target, aff_cur)
                pre = _align_to(pre, post)
                frames = {
                    "delete": pre.exceptAll(post),
                    "insert": post.exceptAll(pre),
                }
            else:
                frames = {}
            cd_entry = self._write_change_data(frames)
        # the successor of the TARGET: its file set and every carried key
        # come back; only the version number continues from the head
        self._publish(
            version,
            _successor(
                target,
                f"rollback-to-v{to_version}",
                version=version,
                change_data=cd_entry,
            ),
            base_manifest=target,
        )
        return version

    # -- read path ----------------------------------------------------------

    def clone_from(self, source: "SnapshotTable") -> int:
        """Shallow clone (Delta's CLONE SHALLOW): publish v0 referencing
        the SOURCE table's current files — zero data copied, O(manifest).
        The clone then evolves independently (its commits write under its
        own root). Safety is TWO-directional (round 7): ``vacuum`` only
        deletes files under a table's OWN data_dir, so vacuuming a CLONE
        can never destroy the source's files; and cloning records a
        BACK-REFERENCE under the source's ``_clones/`` dir, so a vacuum
        of the SOURCE unions every live clone's referenced files into
        its keep set — the standard Delta shallow-clone footgun
        (vacuuming the source breaks clones) is closed instead of
        documented. Deleting a clone's directory releases its
        references on the source's next vacuum."""
        if self.versions():
            raise ValueError(f"clone target {self.root} is not empty")
        src_v, m = source._head()
        # back-reference for the source's vacuum (see its docstring) —
        # written ATOMICALLY (tmp + replace) like every manifest: a torn
        # ref would wedge every future vacuum of the source at json.load
        clones_dir = os.path.join(source.root, "_clones")
        source._fs.makedirs(clones_dir)
        ref = os.path.join(clones_dir, f"{uuid.uuid4().hex}.json")
        source._fs.replace_atomic(ref, json.dumps({"root": self.root}))
        # the source's ``txns`` certify the SOURCE writers' batches; a
        # clone committed no such batches, and an exactly-once writer
        # trusting them would silently skip its own epochs
        self._publish(
            0,
            _successor(
                m, f"clone-of-{source.root}@v{src_v}", version=0, txns=None
            ),
        )
        return 0

    def delete_keys(
        self, spark: SparkSession, keys_df: DataFrame, keys: list[str]
    ) -> dict:
        """Merge-on-read DELETE (the deletion-vector idea of modern Delta /
        Iceberg v2, at key granularity): instead of rewriting every file
        containing a matched key (copy-on-write — ``merge`` with a delete
        clause), the distinct keys are written as a tiny TOMBSTONE file
        and referenced by the next manifest; ``read`` applies one anti-join
        against the union of live tombstones. DELETE becomes O(changeset)
        regardless of how many 100 TB-table files hold the keys — the
        write-amplification knob every lakehouse exposes (delete cheap /
        read +1 anti-join), paid back when OPTIMIZE materializes: a full
        ``optimize`` reads through the tombstones and publishes a clean
        version with none. Appends carry tombstones (they keep applying to
        old files); the change feed refuses to cross a delete (same
        re-sync contract as overwrite). Returns {"version",
        "n_tombstoned"}."""
        base, manifest = self._head()
        prior_keys = manifest.get("tombstone_keys")
        if prior_keys is not None and prior_keys != keys:
            raise ValueError(
                f"tombstone keys {keys!r} differ from the table's "
                f"{prior_keys!r}"
            )
        distinct = keys_df.select(*keys).distinct()
        new_files, _, _ = self._write_data_files(distinct)
        n = (
            spark.read.parquet(*new_files).count() if new_files else 0
        )
        version = base + 1
        self._publish(
            version,
            _successor(
                manifest,
                "delete",
                # sequence-scoped (Iceberg v2 equality-delete contract):
                # a tombstone applies only to data files COMMITTED BEFORE
                # it, so a later re-insert of the same key is visible
                tombstones=manifest.get("tombstones", [])
                + [{"path": f, "seq": version} for f in new_files],
                tombstone_keys=keys,
            ),
            base_manifest=manifest,
        )
        return {"version": version, "n_tombstoned": n}

    def delete_where(
        self,
        spark: SparkSession,
        where: list[tuple[str, str, object]],
        expected_base_version: int | None = None,
    ) -> dict:
        """Copy-on-write ``DELETE FROM … WHERE`` over a simple
        conjunction: files the manifest PROVES unmatched carry by
        identity (zero I/O — the skipping planner is the DML planner);
        may-match files rewrite with TRUE-predicate rows removed
        (NULL-predicate rows survive, SQL DELETE semantics). The
        predicate-form complement of ``delete_keys`` (merge-on-read, key
        form) and ``replace_where`` (which needs point-provable
        membership; this one accepts ANY conjunction because it rewrites
        rather than drops whole files). O(may-match bytes) at 100 TB."""
        return self._cow_rewrite_where(
            spark,
            where,
            mode="delete-where",
            set_exprs=None,
            expected_base_version=expected_base_version,
        )

    def update_where(
        self,
        spark: SparkSession,
        set_exprs: dict,
        where: list[tuple[str, str, object]],
        expected_base_version: int | None = None,
    ) -> dict:
        """Copy-on-write ``UPDATE … SET … WHERE``: may-match files
        rewrite with ``set_exprs`` (column -> Column or SQL string)
        applied to TRUE-predicate rows; everything else carries by
        identity. CHECK constraints validate the rewrite output — an
        update can break a contract the raw rows satisfied."""
        if not set_exprs:
            raise ValueError("update_where needs at least one SET column")
        return self._cow_rewrite_where(
            spark,
            where,
            mode="update-where",
            set_exprs=set_exprs,
            expected_base_version=expected_base_version,
        )

    def delete_where_mor(
        self,
        spark: SparkSession,
        where: list[tuple[str, str, object]],
        expected_base_version: int | None = None,
        dv_buckets: int = 16,
        _before_publish=None,
    ) -> dict:
        """Merge-on-read ``DELETE FROM … WHERE`` via POSITIONAL DELETION
        VECTORS (Iceberg v2 position deletes / Delta deletion vectors):
        instead of rewriting may-match files (``delete_where``, copy-on-
        write) or requiring key columns (``delete_keys``), the matching
        rows' STABLE ADDRESSES — (file path, in-file row ordinal from
        Spark's ``_metadata.row_index``) — are written as a small
        parquet deletion vector and referenced by the next manifest;
        every read path (relational scan, DataSource serving, CoW DML,
        OPTIMIZE) anti-joins the address. A predicate GDPR delete on a
        100 TB table becomes O(matching rows) writes with ZERO data
        files rewritten, against ANY conjunction, with no key columns.

        The DV lays out under ``__b=<bucket>`` subdirectories keyed by
        the repo-portable md5 bucket of the file path, so the
        DataSource's executor tasks read only their own file's bucket
        (O(DV/16) per task) while the relational path anti-joins the
        whole vector in one distributed join. Addresses survive rename/
        widening (they are column-agnostic) and die naturally with
        rewrites (a rewritten file has a new path). Published as mode
        ``delete-dv`` (non-append): streams refuse and re-sync, the
        same contract as every other row-removal. OPTIMIZE materializes
        the deletes and the rewritten version carries no ``dvs``.

        WRITE-SITE INVARIANT (the streaming CDF depends on it): a
        ``delete-dv``/``update-dv`` commit publishes EXACTLY ONE new
        ``dvs`` record — ``_plan_cdf_partitions`` reads that record's
        bucket slices as the delete's row images and refuses a
        multi-record commit shape ("not a single-commit shape"). A
        future writer batching several vectors into one version must
        either keep this one-record shape (union the addresses into one
        dir, as ``consolidate_deletion_vectors`` does) or teach the
        planner to union multiple new records.

        Returns {"version", "rows_deleted", "files_touched",
        "files_rewritten": 0}; a predicate matching no rows publishes
        NOTHING (same no-op contract as the CoW form)."""
        from pyspark.sql import functions as F

        base, manifest = self._head(expected_base_version)
        touched = prune_files(manifest, where)
        noop = {
            "version": base,
            "rows_deleted": 0,
            "files_touched": 0,
            "files_rewritten": 0,
        }
        if not touched:
            return noop
        pred = F.coalesce(_predicate_column(where), F.lit(False))
        scan = self._scan_with_tombstones(
            spark, manifest, touched, with_row_pos=True
        )
        if scan.filter(pred).limit(1).count() == 0:
            # pruning kept may-match files, but no LIVE row matches
            # (e.g. a prior vector already masked them): publishing —
            # or even writing an empty partitioned vector — is a no-op
            return noop
        dv_dir = _write_dv(
            scan.filter(pred).select(
                F_col("__dv_file").alias("__file"),
                F_col("__dv_pos").alias("__pos"),
            ),
            dv_buckets,
            self.data_dir,
        )
        # accounting + routing from the written vector itself — the DV
        # is O(deleted rows), so one narrow read-back is O(changeset)
        dv = spark.read.parquet(dv_dir)
        touched_files = sorted(
            r["__file"] for r in dv.select("__file").distinct().collect()
        )
        rows_deleted = dv.count()
        if rows_deleted == 0:
            import shutil

            shutil.rmtree(dv_dir, ignore_errors=True)
            return noop
        stray = set(touched_files) - set(manifest["files"])
        if stray:  # address outside the snapshot: must never publish
            raise RuntimeError(
                f"deletion vector names non-snapshot files {sorted(stray)}"
            )
        if _before_publish is not None:  # test seam: deterministic race
            hook, _before_publish = _before_publish, None
            hook()
        # optimistic publish with DELTA-STYLE LOGICAL REBASE: a position
        # vector stays valid on any head that (a) still carries every
        # touched file BY IDENTITY (a rewrite would orphan the
        # addresses) and (b) added no file that may hold matching rows
        # (our vector would miss them — an incomplete DELETE). Both
        # checks are O(manifest); violation aborts with the conflict.
        record = {"dir": dv_dir, "files": touched_files, "n_buckets": dv_buckets}
        for _attempt in range(20):
            out = _successor(
                manifest,
                "delete-dv",
                dvs=(manifest.get("dvs") or []) + [record],
            )
            version = out["version"]
            try:
                self._publish(version, out, base_manifest=manifest)
            except SnapshotConflictError:
                if expected_base_version is not None:
                    raise  # the caller pinned the base: no rebase
                head_v = self.latest_version()
                head = self._read_manifest(head_v)
                if set(touched_files) - set(head["files"]):
                    raise SnapshotConflictError(
                        "concurrent writer rewrote a file this delete's "
                        "position vector addresses — re-run the delete "
                        "against the new head"
                    ) from None
                added = [
                    f
                    for f in head["files"]
                    if f not in set(manifest["files"])
                ]
                if any(
                    all(
                        _file_may_match(_file_evidence(head, f), c, op, lv)
                        for c, op, lv in where
                    )
                    for f in added
                ):
                    raise SnapshotConflictError(
                        "concurrent writer added files that may hold "
                        "rows matching this DELETE's predicate — the "
                        "vector would miss them; re-run against the "
                        "new head"
                    ) from None
                manifest = head
                continue
            return {
                "version": version,
                "rows_deleted": rows_deleted,
                "files_touched": len(touched_files),
                "files_rewritten": 0,
            }
        raise SnapshotConflictError(
            "delete_where_mor gave up after 20 rebase attempts "
            "(writer livelock?)"
        )

    def update_where_mor(
        self,
        spark: SparkSession,
        set_exprs: dict,
        where: list[tuple[str, str, object]],
        expected_base_version: int | None = None,
        dv_buckets: int = 16,
    ) -> dict:
        """Merge-on-read ``UPDATE … SET … WHERE``: the positional twin of
        ``update_where`` (copy-on-write). One version publishes BOTH a
        deletion vector masking the matching rows' old positions AND new
        data files holding their updated images — so an UPDATE touches
        O(matching rows), not O(may-match files), at any table size.
        Unmatched rows in touched files are NEVER rewritten (the classic
        write amplification CoW pays). CHECK constraints validate the
        updated images; hidden/Hive partition layouts and blooms apply
        to the new files exactly as a commit's would. Published as mode
        ``update-dv`` (non-append — streams refuse and re-sync). A
        predicate matching no rows publishes nothing."""
        if not set_exprs:
            raise ValueError("update_where_mor needs at least one SET column")
        from pyspark.sql import functions as F

        base, manifest = self._head(expected_base_version)
        touched = prune_files(manifest, where)
        noop = {
            "version": base,
            "rows_updated": 0,
            "files_touched": 0,
            "files_rewritten": 0,
        }
        if not touched:
            return noop
        pred = F.coalesce(_predicate_column(where), F.lit(False))
        scan = self._scan_with_tombstones(
            spark, manifest, touched, with_row_pos=True
        )
        matching = scan.filter(pred)
        schema_cols = [
            f["name"] for f in json.loads(manifest["schema"])["fields"]
        ]
        missing = set(set_exprs) - set(schema_cols)
        if missing:
            raise ValueError(f"SET names missing columns {sorted(missing)}")
        updated_cols = []
        for c in schema_cols:
            if c in set_exprs:
                e = set_exprs[c]
                updated_cols.append(
                    (F.expr(e) if isinstance(e, str) else e).alias(c)
                )
            else:
                updated_cols.append(F_col(c))
        if matching.limit(1).count() == 0:
            return noop
        updated = matching.select(*updated_cols)
        if manifest.get("constraints"):
            _validate_constraints(
                updated, manifest["constraints"], "the updated rows"
            )
        dv_dir = _write_dv(
            matching.select(
                F_col("__dv_file").alias("__file"),
                F_col("__dv_pos").alias("__pos"),
            ),
            dv_buckets,
            self.data_dir,
        )
        dv = spark.read.parquet(dv_dir)
        touched_files = sorted(
            r["__file"] for r in dv.select("__file").distinct().collect()
        )
        rows_updated = dv.count()
        stray = set(touched_files) - set(manifest["files"])
        if stray:
            # same guard as delete_where_mor: a vector naming addresses
            # outside the snapshot (e.g. a path normalization mismatch)
            # would mask NOTHING while the updated images still commit —
            # reads would then return BOTH old and new rows. Refuse
            # before any new file or manifest is published.
            raise RuntimeError(
                f"update vector names non-snapshot files {sorted(stray)}"
            )
        new_files, new_stats, new_partitions = self._write_data_files(
            updated,
            manifest.get("partition_by"),
            **self._bloom_kwargs(manifest),
        )
        record = {"dir": dv_dir, "files": touched_files, "n_buckets": dv_buckets}
        self._publish(
            base + 1,
            _successor(
                manifest,
                "update-dv",
                new=(new_files, new_stats, new_partitions),
                dvs=(manifest.get("dvs") or []) + [record],
            ),
            base_manifest=manifest,
        )
        return {
            "version": base + 1,
            "rows_updated": rows_updated,
            "files_touched": len(touched_files),
            "files_rewritten": 0,
        }

    def _cow_rewrite_where(
        self,
        spark: SparkSession,
        where: list[tuple[str, str, object]],
        mode: str,
        set_exprs: dict | None,
        expected_base_version: int | None,
    ) -> dict:
        from pyspark.sql import functions as F

        base, manifest = self._head(expected_base_version)
        touched = prune_files(manifest, where)
        touched_set = set(touched)
        carried = [f for f in manifest["files"] if f not in touched_set]
        if not touched:
            return {
                "version": base,
                "files_rewritten": 0,
                "files_carried": len(manifest["files"]),
                "rows_changed": 0,
            }
        pred = F.coalesce(_predicate_column(where), F.lit(False))
        scan = self._scan_with_tombstones(spark, manifest, touched)
        noop = {
            # pruning kept may-match files but no ROW satisfied the
            # predicate: publishing a byte-identical copy-on-write
            # version would force every streaming reader to refuse and
            # re-sync over a DML that changed nothing — report the
            # no-op against the CURRENT version instead
            "version": base,
            "files_rewritten": 0,
            "files_carried": len(manifest["files"]),
            "rows_changed": 0,
        }
        matched = scan.filter(pred)
        cd_entry: dict | None = None
        if set_exprs is None:
            # FUSED count (round 11): a delete's images ARE the matched
            # rows (the multiset diff the generic feed path would
            # compute — unmatched rows cancel), and the image footers
            # carry the count — one scan of the touched files instead
            # of a count pass plus an image pass
            cd_entry = self._write_change_data({"delete": matched})
            rows_changed = (cd_entry.get("rows") or {}).get("delete", 0)
            if rows_changed == 0:
                import shutil

                shutil.rmtree(cd_entry["dir"], ignore_errors=True)
                return noop
            new_df = scan.filter(~pred)
        else:
            rows_changed = matched.count()
            if rows_changed == 0:
                return noop
            cols = []
            for c in scan.columns:
                if c in set_exprs:
                    e = set_exprs[c]
                    e = F.expr(e) if isinstance(e, str) else e
                    cols.append(F.when(pred, e).otherwise(F.col(c)).alias(c))
                else:
                    cols.append(F.col(c))
            missing = set(set_exprs) - set(scan.columns)
            if missing:
                raise ValueError(
                    f"SET names missing columns {sorted(missing)}"
                )
            new_df = scan.select(*cols)
            # change data: diff the matched rows against their rewritten
            # forms — exceptAll keeps the exact semantics the two-sided
            # feed diff had (a SET to the identical value cancels and
            # emits nothing). Same `cols` as the rewrite, so the image
            # types match the written bytes.
            post_m = matched.select(*cols)
            cd_entry = self._write_change_data(
                {
                    "update_preimage": matched.exceptAll(post_m),
                    "update_postimage": post_m.exceptAll(matched),
                }
            )
        if manifest.get("constraints"):
            _validate_constraints(
                new_df, manifest["constraints"], "the rewritten rows"
            )
        new_files, new_stats, new_partitions = self._write_data_files(
            new_df,
            manifest.get("partition_by"),
            **self._bloom_kwargs(manifest),
        )
        # carried files keep their masks; the rewritten files went
        # THROUGH them (the scan applied the anti-joins), so their
        # post-rewrite seq exempts them
        self._publish(
            base + 1,
            _successor(
                manifest,
                mode,
                carried=carried,
                new=(new_files, new_stats, new_partitions),
                change_data=cd_entry,
            ),
            base_manifest=manifest,
        )
        return {
            "version": base + 1,
            "files_rewritten": len(touched),
            "files_carried": len(carried),
            "rows_changed": rows_changed,
        }

    def _scan_with_tombstones(
        self,
        spark: SparkSession,
        manifest: dict,
        files: list[str],
        with_file_name: bool = False,
        with_row_pos: bool = False,
    ) -> DataFrame:
        """Seq-aware merge-on-read scan: data files are grouped by WHICH
        tombstones postdate them (≤ #delete-commits + 1 groups), each
        group anti-joins its applicable tombstone union, groups union
        back. No tombstones → plain scan, zero cost.

        POSITIONAL DELETION VECTORS (round 9): manifests may also carry
        ``dvs`` — per-delete records of (file path, row ordinal) pairs
        written by ``delete_where_mor``. They apply as ONE anti-join on
        the (``__dv_file``, ``__dv_pos``) row address above the union
        (a DV names its exact file path, so it is a no-op for every
        other file AND for rewritten files, which carry new paths — no
        seq scoping needed, unlike key tombstones). The address columns
        are attached at the scan and dropped unless the caller asked
        for them."""
        ts = manifest.get("tombstones") or []
        dvs = [
            d
            for d in (manifest.get("dvs") or [])
            if set(d["files"]) & set(files)
        ]
        need_pos = with_row_pos or bool(dvs)
        if not files:
            # empty file list: _plan_scan returns the empty frame with
            # the committed schema (masking nothing is a no-op; the
            # grouping below would otherwise build zero parts and crash
            # — found by the round-11 randomized DML walk via an
            # empty-side rollback diff on a tombstoned table)
            return self._plan_scan(
                spark,
                manifest,
                files,
                with_file_name=with_file_name,
                with_row_pos=with_row_pos,
            )
        if not ts and not need_pos:
            return self._plan_scan(
                spark, manifest, files, with_file_name=with_file_name
            )
        masks = _file_masks(manifest, files)
        groups: dict[tuple, list[str]] = {}
        for f in files:
            groups.setdefault(tuple(masks[f][0]), []).append(f)
        parts = []
        for applicable, fs in sorted(groups.items()):
            df = self._plan_scan(
                spark,
                manifest,
                fs,
                with_file_name=with_file_name,
                with_row_pos=need_pos,
            )
            if applicable:
                dead = spark.read.parquet(*list(applicable)).distinct()
                df = df.join(dead, manifest["tombstone_keys"], "left_anti")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if dvs:
            # one scan per vector dir (each is its own __b-partitioned
            # root — Spark refuses mixing partition roots in one scan),
            # planner-level union, single distributed anti-join
            dv_parts = [
                spark.read.parquet(d["dir"]).select(
                    F_col("__file").alias("__dv_file"),
                    F_col("__pos").alias("__dv_pos"),
                )
                for d in dvs
            ]
            dead_pos = dv_parts[0]
            for dvp in dv_parts[1:]:
                dead_pos = dead_pos.unionByName(dvp)
            out = out.join(dead_pos, ["__dv_file", "__dv_pos"], "left_anti")
        if need_pos and not with_row_pos:
            out = out.drop("__dv_file", "__dv_pos")
        return out

    def describe_history(self) -> list[dict]:
        """Table history from the manifest log alone (Delta's DESCRIBE
        HISTORY): one record per RETAINED version, oldest first, with
        the operation mode, commit timestamp, file-level delta vs the
        previous retained version (added/removed counts), row count
        when the metadata can prove it (every file carries a recorded
        row count AND no row-level deletes are live — the same
        exactness contract as ``metadata_count``), live tombstone /
        deletion-vector counts, and the streaming txn stamp if the
        version committed a batch. O(versions x manifest) metadata
        reads, zero data files opened — the audit-trail face a table
        format owes its operators."""
        out = []
        prev_files: set[str] | None = None
        for v in self.versions():
            m = self._read_manifest(v)
            files = set(m["files"])
            stats = m.get("stats", {})
            rows: int | None = 0
            if m.get("tombstones") or m.get("dvs"):
                rows = None  # row-level deletes: counts live in data
            else:
                for f in m["files"]:
                    n = _file_row_count(stats.get(f, {}))
                    if n is None:
                        rows = None
                        break
                    rows += n
            rec = {
                "version": v,
                "mode": m.get("mode"),
                "committed_at": m.get("committed_at"),
                "n_files": len(files),
                "n_added": len(files - prev_files)
                if prev_files is not None
                else len(files),
                "n_removed": len(prev_files - files)
                if prev_files is not None
                else 0,
                "n_rows": rows,
                "n_tombstones": len(m.get("tombstones") or []),
                "n_deletion_vectors": len(m.get("dvs") or []),
            }
            if m.get("txn"):
                rec["txn"] = dict(m["txn"])
            if m.get("op"):  # metadata-only sub-operation (refresh-stats)
                rec["op"] = m["op"]
            if m.get("change_data") is not None:
                # commit-time CDC metrics (round 11 — Delta's
                # operationMetrics): per-type image row counts straight
                # from the manifest entry; {} = proven no-row-change
                rec["change_rows"] = dict(
                    m["change_data"].get("rows") or {}
                )
            out.append(rec)
            prev_files = files
        return out

    def version_as_of(self, ts: float) -> int:
        """Largest version committed at or before unix time ``ts`` —
        timestamp time travel (Delta's ``timestampAsOf``). Pre-feature
        manifests without a committed_at stamp are treated as older than
        any timestamp."""
        best = None
        for v in self.versions():
            at = self._read_manifest(v).get("committed_at", float("-inf"))
            if at <= ts:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no version committed at or before {ts} in {self.root}"
            )
        return best

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: list[tuple[str, str, object]] | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """Snapshot read: the file list of ``version`` (default latest),
        planned as an explicit multi-path parquet scan. Empty table (no
        files in the version) -> empty frame with the committed schema.

        ``where`` — optional conjunction of simple predicates
        ``(column, op, literal)`` with op in {=, <, <=, >, >=, in,
        is_null, is_not_null} (the null tests are value-less — pass
        ``None`` as the literal; they prune via per-file null counts).
        Files whose manifest stats PROVE the conjunction empty are dropped
        from the scan (Delta/Iceberg data skipping: the manifest is the
        coarse index, file granularity); the predicate is then still
        applied row-level, so skipping is purely an I/O optimization and
        never changes the answer. Columns without stats keep the file."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            version = self.version_as_of(as_of)
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        manifest = self._read_manifest(v)
        files = manifest["files"]
        if where:
            files = prune_files(manifest, where)
        df = self._scan_with_tombstones(spark, manifest, files)
        if where:
            df = df.filter(_predicate_column(where))
        return df

    def _plan_scan(
        self,
        spark: SparkSession,
        manifest: dict,
        files: list[str],
        with_file_name: bool = False,
        with_row_pos: bool = False,
    ) -> DataFrame:
        """Plan an explicit-file-list parquet scan honoring the manifest's
        schema. Partitioned commits need partition-value RECOVERY (the
        column lives in the directory name, not the file), which Spark
        does per ``basePath`` — so files are grouped by their commit dir,
        scanned with that commit's basePath, unioned by name, and
        normalized back to the committed column order/types. The union is
        planner-level (no data movement); at 100 TB this is one multi-
        scan plan, not N jobs.

        ``with_row_pos`` (round 9, the deletion-vector substrate):
        attach ``__dv_file`` (the file's plain absolute path, normalized
        from ``_metadata.file_path``'s ``file:`` URI at the scan) and
        ``__dv_pos`` (``_metadata.row_index`` — the row's ordinal within
        its file, Spark's parquet row-index metadata column). Together
        they are a STABLE row address into immutable files — exactly
        what a positional delete needs to name a row without any key
        column."""
        from pyspark.sql.functions import col as F_col_
        from pyspark.sql.functions import lit as F_lit
        from pyspark.sql.functions import regexp_replace as F_regexp_replace
        from pyspark.sql.functions import url_decode as F_url_decode
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(manifest["schema"]))
        if not files:
            df = spark.createDataFrame([], schema)
            if with_file_name:
                df = df.withColumn("__file", F_lit(None).cast("string"))
            if with_row_pos:
                df = df.withColumn(
                    "__dv_file", F_lit(None).cast("string")
                ).withColumn("__dv_pos", F_lit(None).cast("long"))
            return df
        # ``with_file_name``: the provenance column must be attached ON
        # the scan (input_file_name() refuses plans with >1 file source,
        # so it can never be added above a union or a join); same for
        # the _metadata struct behind the row-position columns
        extra = (
            [F_input_file_name().alias("__file")] if with_file_name else []
        )
        if with_row_pos:
            # ``_metadata.file_path`` is a URI: a disk path with a space
            # (Hive partition value) reads back percent-ENCODED
            # ("g=a b" -> "g=a%20b"), and a disk '%' double-encodes
            # ("g=c%25d" -> "g=c%2525d") — the raw URI would never
            # string-match the manifest's disk spelling, so every DV
            # address into such a file would mask NOTHING (probed on
            # Spark 4.1; the stray-file guards in *_where_mor catch the
            # mismatch loudly). Exact recovery: strip the scheme, shield
            # literal '+' (the URI path encoding leaves it raw but
            # java.net.URLDecoder would turn it into a space), then
            # url_decode — probed to round-trip space/unicode/%/#/+.
            extra = extra + [
                F_url_decode(
                    F_regexp_replace(
                        F_regexp_replace(
                            F_col_("_metadata.file_path"), "^file:/+", "/"
                        ),
                        r"\+",
                        "%2B",
                    )
                ).alias("__dv_file"),
                F_col_("_metadata.row_index").cast("long").alias("__dv_pos"),
            ]
        part_values = manifest.get("partitions", {})
        if not part_values and not manifest.get("evolved"):
            # r11: pass the committed schema to the reader — on this
            # fast path every live file physically matches it (any
            # mismatch sets manifest["evolved"], which takes the grouped
            # path below), and skipping footer inference cuts reader
            # creation ~6x (measured 102 → 18 ms per plan; the row feed
            # builds up to 2 scans per version).
            return _project_to_schema(
                spark.read.schema(schema).parquet(*files), schema, extra
            )
        # per-commit grouping: partitioned commits need a basePath each
        # for partition-value recovery, and schema-evolved tables need
        # per-group NULL-fill (a single multi-file scan samples ONE footer
        # and would drop or mis-type the columns the other commits carry).
        # Whether a group is partitioned is decided PER GROUP (partition
        # evolution mixes laid-out and flat commits in one live file set).
        # Groups union in the order their files first appear in ``files``
        # (never by their random dir names), so a rewrite over this scan
        # writes its rows in the same order on every run.
        by_commit: dict[str, list[str]] = {}
        for f in files:
            by_commit.setdefault(_commit_root_of(f), []).append(f)
        parts = []
        # partition values are recovered as STRINGS and cast to the
        # COMMITTED type: Spark's per-directory type inference would
        # rewrite numeric-looking string values ('042' -> int 42 ->
        # string '42'), silently changing the data
        conf = spark.conf
        inf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev_inf = conf.get(inf_key, None)
        conf.set(inf_key, "false")
        try:
            for root, fs in by_commit.items():
                r = spark.read
                if any(part_values.get(f) for f in fs):
                    r = r.option("basePath", root)
                p = r.parquet(*fs)
                mapping = manifest.get("column_mapping") or {}
                for fld in schema.fields:  # evolution: absent reads NULL
                    if fld.name not in p.columns:
                        phys = mapping.get(fld.name)
                        if phys and phys in p.columns:
                            # pre-rename file: the bytes live under the
                            # physical name — serve them as the logical
                            p = p.withColumnRenamed(phys, fld.name)
                        else:
                            p = p.withColumn(
                                fld.name, F_lit(None).cast(fld.dataType)
                            )
                parts.append(_project_to_schema(p, schema, extra))
        finally:
            if prev_inf is None:
                conf.unset(inf_key)
            else:
                conf.set(inf_key, prev_inf)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        # normalize to the committed schema: partition discovery appends
        # partition columns LAST and re-infers their type from the dir
        # string — select in committed order and cast back
        return df

    def scan_stats(
        self, version: int | None = None, where: list | None = None
    ) -> dict:
        """Skipping report for a (version, predicate) pair WITHOUT reading
        any data: total files in the snapshot vs files a ``read(where=)``
        would scan — the observability hook a table-format exposes so a
        pipeline can assert its layout actually clusters its predicates."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        manifest = self._read_manifest(v)
        total = len(manifest["files"])
        kept = len(prune_files(manifest, where)) if where else total
        return {"n_files_total": total, "n_files_scanned": kept}

    def metadata_count(
        self, version: int | None = None, where: list | None = None
    ) -> int | None:
        """``count(*)`` (optionally under a simple conjunction) answered
        from the MANIFEST ALONE — zero data files opened. At 100 TB a
        bare count is the single most common sanity query, and a correct
        table format answers it in O(manifest), the way Delta serves
        ``SELECT count(*)`` from the transaction log.

        Returns None whenever metadata cannot answer EXACTLY, and the
        caller falls back to a scan:
        - any live tombstones (merge-on-read deletes subtract an unknown
          per-file number of rows),
        - any file without a recorded row count (pre-round-7 commit),
        - any file the predicate can neither fully include
          (``_file_all_match``) nor fully exclude (``_file_may_match``) —
          the tri-state classification that makes the answer exact
          rather than approximate.
        Soundness: both classifiers err only toward None (their doubt
        directions compose — may_match never wrongly excludes,
        all_match never wrongly includes)."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        manifest = self._read_manifest(v)
        if manifest.get("tombstones") or manifest.get("dvs"):
            return None  # row-level deletes: per-file counts unknown
        for _, op, _lit in where or []:
            if op not in _PRUNE_OPS:
                raise ValueError(
                    f"unsupported prune op {op!r} (use one of {_PRUNE_OPS})"
                )
        total = 0
        stats = manifest.get("stats", {})
        for f in manifest["files"]:
            rows = _file_row_count(stats.get(f, {}))
            if rows is None:
                return None
            if not where:
                total += rows
                continue
            ev = _file_evidence(manifest, f)
            if not all(
                _file_may_match(ev, col, op, lit) for col, op, lit in where
            ):
                continue  # provably zero matching rows
            if all(
                _file_all_match(ev, col, op, lit) for col, op, lit in where
            ):
                total += rows  # provably every row matches
            else:
                return None  # mixed file: metadata cannot be exact
        return total

    def metadata_min_max(
        self, col: str, version: int | None = None
    ) -> tuple | None:
        """Exact (min, max) of ``col`` over non-null rows from the
        MANIFEST ALONE — parquet footer min/max are exact per-file bounds
        over non-null values, so their fold across files is the exact
        global answer (the other O(manifest) aggregate Delta serves from
        its log). Returns None when metadata cannot be exact: live
        tombstones, or any not-provably-all-null file without usable
        min/max for the column (stats never collected, NaN-poisoned
        float stats, unindexed type). Returns (None, None) for a table
        whose every row is NULL in ``col`` — that IS the exact answer."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no commits at {self.root}")
        manifest = self._read_manifest(v)
        if manifest.get("tombstones") or manifest.get("dvs"):
            return None  # a deleted row may have been the extreme
        mns: list = []
        mxs: list = []
        for f in manifest["files"]:
            e = _file_evidence(manifest, f).get(col)
            if e is None:
                return None
            nc, nr = e.get("nc"), e.get("nr")
            if nc is not None and nr is not None and nc == nr:
                continue  # provably all-null: contributes nothing
            if "min" not in e or e.get("loose"):
                # no stats, or only a transform-implied PERIOD bound
                # (sound for pruning, not an exact extreme) — refuse
                return None
            if e.get("tr"):
                # truncation-BOUNDED long-string evidence (sound for
                # pruning, not actual values) — refuse
                return None
            if e.get("fl") and e.get("nanc") != 0:
                # NaN-freedom unproven: Spark's max() would be NaN
                # (NaN orders greatest) while the footer bound ignores
                # it — refuse rather than report a non-NaN "max"
                return None
            mns.append(_stat_to_py(e["min"]))
            mxs.append(_stat_to_py(e["max"]))
        if not mns:
            return (None, None)
        return (min(mns), max(mxs))

    def add_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> int:
        """ALTER TABLE ADD CONSTRAINT CHECK (Delta's table constraints):
        register a SQL boolean expression every future write must
        satisfy. The EXISTING data is validated first (a constraint the
        table already violates must refuse, not rot) — O(one table scan),
        paid once at ALTER time like Delta. Published as a metadata-only
        append version (same file set: streams see an empty delta and
        continue). SQL-standard NULL semantics: only FALSE violates.

        Enforcement points: ``commit`` (also per rebase attempt against
        the current head's set), ``merge`` (on the rewrite output — an
        update expression can break a CHECK the raw target satisfied),
        ``replace_where``; ``optimize`` routes through commit.
        ``publish_files`` carries but cannot validate (no session —
        externally-written files are the caller's to check)."""
        base, manifest = self._head()
        constraints = dict(manifest.get("constraints", {}))
        if name in constraints:
            raise ValueError(
                f"constraint {name!r} already exists "
                f"({constraints[name]}); drop it first"
            )
        _validate_constraints(
            self.read(spark), {name: expr}, "the existing table"
        )
        constraints[name] = expr
        # mode append: same file set, streams skip it clean
        self._publish(
            base + 1,
            _successor(manifest, "append", constraints=constraints),
            base_manifest=manifest,
        )
        return base + 1

    def drop_constraint(self, name: str) -> int:
        """Remove a CHECK constraint (metadata-only append version)."""
        base, manifest = self._head()
        constraints = dict(manifest.get("constraints", {}))
        if name not in constraints:
            raise ValueError(f"no constraint {name!r} on this table")
        del constraints[name]
        self._publish(
            base + 1,
            _successor(manifest, "append", constraints=constraints),
            base_manifest=manifest,
        )
        return base + 1

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN via NAME MAPPING (Delta's column
        mapping / Iceberg's field-id idea, name-keyed): a metadata-only
        append version renames the LOGICAL schema field and records
        ``column_mapping[new] = physical`` — the name the bytes were
        written under — so files written before the rename keep serving
        (every read path resolves logical -> physical per file; new
        files write the new name directly and need no entry; an
        OPTIMIZE/overwrite rewrites everything to logical names and
        commit drops the mapping). Refuses while the column is
        entangled with name-keyed state whose translation would be
        silent guesswork: live tombstone keys, CHECK constraint
        expressions mentioning it, or the partition layout (identity or
        transform source) — resolve those first (OPTIMIZE, drop the
        constraint, evolve the layout)."""
        base, manifest = self._head()
        schema = json.loads(manifest["schema"])
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r} (table has {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        if old in (manifest.get("tombstone_keys") or []):
            raise ValueError(
                f"{old!r} is a live tombstone key — OPTIMIZE first to "
                "materialize the deletes, then rename"
            )
        for cname, cexpr in (manifest.get("constraints") or {}).items():
            if __import__("re").search(
                rf"\b{__import__('re').escape(old)}\b", cexpr
            ):
                raise ValueError(
                    f"constraint {cname!r} ({cexpr}) references {old!r} — "
                    "drop and re-add it under the new name"
                )
        for spec in manifest.get("partition_by") or []:
            t = _parse_transform_spec(spec)
            src = spec if t is None else t["col"]
            if src == old:
                raise ValueError(
                    f"partition layout {spec!r} references {old!r} — "
                    "evolve the layout first"
                )
        mapping = dict(manifest.get("column_mapping", {}))
        taken = set(manifest.get("retired_columns", [])) | set(
            mapping.values()
        )
        if new in taken:
            # old files still hold bytes under this PHYSICAL name (a
            # renamed-away or dropped column) — reusing it would serve
            # those stale bytes as the new column's data
            raise ValueError(
                f"{new!r} is a live physical name in pre-rename files — "
                "pick a fresh name or OPTIMIZE to rewrite them first"
            )
        physical = mapping.pop(old, old)
        mapping[new] = physical
        # prune identity entries (a column renamed back to its physical
        # name needs no translation)
        mapping = {k: v for k, v in mapping.items() if k != v}
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        # mode append: same file set, streams skip clean. ``evolved``:
        # mixed logical/physical file generations must route through the
        # per-commit-group scan path
        self._publish(
            base + 1,
            _successor(
                manifest,
                "append",
                schema=json.dumps(schema),
                evolved=True,
                column_mapping=mapping,
            ),
            base_manifest=manifest,
        )
        return base + 1

    def drop_column(self, col: str) -> int:
        """ALTER TABLE DROP COLUMN, metadata-only: the field leaves the
        logical schema (old files keep the bytes — never read again; an
        OPTIMIZE materializes the narrow schema). The physical name is
        recorded as RETIRED so a later merge_schema add of the same name
        cannot silently resurrect stale bytes from pre-drop files. Same
        entanglement refusals as rename."""
        base, manifest = self._head()
        schema = json.loads(manifest["schema"])
        names = [f["name"] for f in schema["fields"]]
        if col not in names:
            raise ValueError(f"no column {col!r} (table has {names})")
        if col in (manifest.get("tombstone_keys") or []):
            raise ValueError(
                f"{col!r} is a live tombstone key — OPTIMIZE first"
            )
        for cname, cexpr in (manifest.get("constraints") or {}).items():
            if __import__("re").search(
                rf"\b{__import__('re').escape(col)}\b", cexpr
            ):
                raise ValueError(
                    f"constraint {cname!r} ({cexpr}) references {col!r}"
                )
        for spec in manifest.get("partition_by") or []:
            t = _parse_transform_spec(spec)
            src = spec if t is None else t["col"]
            if src == col:
                raise ValueError(
                    f"partition layout {spec!r} references {col!r}"
                )
        mapping = dict(manifest.get("column_mapping", {}))
        physical = mapping.pop(col, col)
        schema["fields"] = [
            f for f in schema["fields"] if f["name"] != col
        ]
        retired = sorted(set(manifest.get("retired_columns", [])) | {physical})
        self._publish(
            base + 1,
            _successor(
                manifest,
                "append",
                schema=json.dumps(schema),
                evolved=True,
                retired_columns=retired,
                column_mapping=mapping,
            ),
            base_manifest=manifest,
        )
        return base + 1

    def count(
        self,
        spark: SparkSession,
        version: int | None = None,
        where: list | None = None,
    ) -> int:
        """Row count with the metadata fast path: O(manifest) when
        ``metadata_count`` can answer exactly, a pruned scan otherwise —
        the dispatch a query layer should do, packaged."""
        fast = self.metadata_count(version=version, where=where)
        if fast is not None:
            return fast
        return self.read(spark, version=version, where=where).count()

    def history(self) -> list[dict]:
        """One dict per version: version, mode, n_files."""
        return [
            {
                "version": v,
                "mode": (m := self._read_manifest(v))["mode"],
                "n_files": len(m["files"]),
            }
            for v in self.versions()
        ]

    def compact_log(self, every: int = 10, keep_recent: int = 2) -> list[int]:
        """Log checkpointing (round 8) — bound ``_manifests/`` growth.
        Every manifest here is SELF-CONTAINED (full file list + stats +
        blooms — by design, so readers plan from one JSON), which means
        the log grows O(versions × files) at high commit rates. This op
        applies Delta's ``_last_checkpoint`` economics to that layout:
        every ``every``-th version IS a checkpoint (being self-contained,
        no extra file needs writing), so the intermediate manifests
        between checkpoints are redundant history — drop them, keeping
        the checkpoints plus the ``keep_recent`` newest versions. After
        30 commits with K=10 the log holds ≤ ceil(30/K)+keep_recent
        manifests instead of 30.

        MANIFEST-ONLY: no data file is ever touched (that is vacuum's
        job — pass ``keep_every`` there so checkpoint-referenced files
        stay protected). Consequences, all by existing contracts: time
        travel to a dropped intermediate raises FileNotFoundError (same
        as after vacuum); a fresh stream baselines at the earliest
        RETAINED manifest; a stream checkpointed at a dropped version
        refuses with the re-sync error. Returns the dropped versions."""
        if every < 1:
            raise ValueError("every must be >= 1")
        if keep_recent < 1:
            raise ValueError("keep_recent must be >= 1 (the head must stay)")
        vs = self.versions()
        recent = set(vs[-keep_recent:])
        dropped = [
            v for v in vs if v % every != 0 and v not in recent
        ]
        dropped_set = set(dropped)
        # retained DELTA manifests must survive their base chain being
        # unlinked: materialize them as checkpoints first (round 9)
        for v in vs:
            if v not in dropped_set:
                self._checkpoint_manifest(v)
        for v in dropped:
            self._fs.unlink(self._manifest_path(v))
        return dropped

    def orphan_files(self) -> list[str]:
        """Data files referenced by NO manifest (crashed commits) — the
        vacuum candidates. Live files are never listed."""
        referenced: set[str] = set()
        for v in self.versions():
            m = self._read_manifest(v)
            referenced.update(m["files"])
            referenced.update(t["path"] for t in m.get("tombstones", []))
            for fl in (m.get("change_data", {}).get("types") or {}).values():
                referenced.update(fl)
            for d in m.get("dvs", []):
                for dp, fs_ in self._fs.walk_files(d["dir"]):
                    referenced.update(
                        os.path.join(dp, n)
                        for n in fs_
                        if n.endswith(".parquet")
                    )
        orphans = []
        for dirpath, files in self._fs.walk_files(self.data_dir):
            for f in files:
                p = os.path.join(dirpath, f)
                if f.endswith(".parquet") and p not in referenced:
                    orphans.append(p)
        return sorted(orphans)


def _recompute_file_stats(path: str) -> tuple[str, dict]:
    """Executor-side worker of ``SnapshotTable.refresh_stats``: one
    file's footer harvest plus the exact write-time overlay (NaN counts,
    long-string bounds), reading ONLY the columns the overlay needs."""
    import pyarrow.parquet as pq

    st = _file_column_stats(path)
    need = _overlay_columns_needed(st, pq.read_schema(path))
    if need:
        _exact_stats_overlay(st, pq.read_table(path, columns=need))
    return path, st


def snapshot_diff(
    spark: SparkSession,
    table: SnapshotTable,
    from_version: int,
    to_version: int,
    key_cols: list[str],
) -> DataFrame:
    """CDC between two snapshots: per key, emit ``insert`` (key only in
    ``to``), ``delete`` (key only in ``from``), or ``update`` (key in both
    with any non-key column changed). Unchanged rows are not emitted —
    the change feed a downstream incremental consumer replays.

    Relational form: one full-outer join on the key with row-struct
    equality — a single co-partitioned key exchange per side, the same
    budget as MERGE (operators/merge.py). At 100 TB the join prunes to
    the key + compared columns, and a production layout bucketed by the
    key makes the diff exchange-free."""
    old = table.read(spark, from_version)
    new = table.read(spark, to_version)
    import pyspark.sql.functions as F

    # the feed reports in the NEW version's schema (Delta CDF semantics):
    # a column added by schema evolution between the two versions reads
    # NULL on the old side — selecting it unfilled would crash the diff
    # exactly when an evolved table's consumers need it
    for fld in new.schema.fields:
        if fld.name not in old.columns:
            old = old.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    non_key = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols, F.struct(*non_key).alias("__old")
    )
    n = new.select(
        *key_cols, F.struct(*non_key).alias("__new")
    )
    joined = o.join(n, key_cols, "full_outer")
    # null-safe struct compare (<=>): a NULL→value change in any field is
    # an update, not a NULL comparison swallowed by three-valued logic
    change = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update"))
    )
    payload = F.coalesce(F.col("__new"), F.col("__old"))
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            payload.alias("row"),
            # both sides exposed for incremental view maintenance: an
            # update's aggregate delta is new - OLD, which the merged
            # payload alone cannot provide
            F.col("__old").alias("old_row"),
            F.col("__new").alias("new_row"),
        )
    )


def vacuum(
    table: SnapshotTable,
    keep_versions: int = 2,
    grace_seconds: float = 86400.0,
    keep_every: int | None = None,
    keep_change_data: bool = True,
) -> dict:
    """Physically delete files no LIVE version references: drop manifests
    older than the newest ``keep_versions``, then remove data files
    referenced by no surviving manifest (plus crashed-commit orphans).
    Returns {"removed_manifests": n, "removed_files": n}.

    The one DESTRUCTIVE snapshot op, so it is the only one that breaks
    time travel — and only past the retention window, exactly like
    ``VACUUM`` on Delta / ``expire_snapshots`` on Iceberg. Safe order:
    manifests are deleted FIRST (a concurrent reader either resolved its
    file list before the delete — files still present — or fails cleanly
    at the manifest), then unreferenced files.

    ``keep_every`` (round 8): retain every N-th version as a long-range
    checkpoint — its manifest AND its files survive, so coarse time
    travel outlives the recent window (the file-side complement of
    ``SnapshotTable.compact_log``).

    ``keep_change_data`` (round 11): retained versions normally keep
    their CHANGE DATA images (feed consumers read them). Pass False for
    COMPLIANCE ERASURE: a GDPR delete's own images hold the erased
    rows' bytes, so right-to-be-forgotten needs them reclaimed too —
    the images are deleted, the retained manifests' ``change_data``
    entries stripped (atomic rewrite), and both feeds fall back to the
    state-diff path for those versions (batch: correct, slower;
    streaming: refuses CoW versions again — re-sync). The same
    trade-off Delta documents for CDF + VACUUM retention.

    ``grace_seconds``: files younger than this (mtime) are NEVER deleted,
    even when unreferenced — a concurrent ``commit()`` has a window
    between writing its parquet files and publishing the manifest during
    which those files look like orphans; a graceless vacuum racing it
    would destroy the commit's data and the committer would then publish
    a manifest pointing at deleted files. Same defense as Delta VACUUM's
    retention threshold. Pass 0 only when no writer can be live.

    SHALLOW CLONES (round 7): ``clone_from`` records a back-reference
    under this table's ``_clones/`` dir, and vacuum unions every LIVE
    clone's referenced files into the keep set — so vacuuming a
    cloned-FROM table can no longer delete files a shallow clone still
    needs (the standard Delta caveat, closed by construction). A clone
    whose directory has been deleted releases its references; vacuuming
    the clone itself is always safe for the source (the walk covers only
    the clone's own data_dir). Known edge, detectable but not closed: a
    clone OF A CLONE is protected transitively only while the middle
    clone's manifests still reference the grandparent's files — if the
    middle table vacuums away those manifest versions, the grandparent's
    vacuum can no longer see the grandchild (chain clones sparingly, or
    re-clone from the root table)."""
    import time

    vs = table.versions()
    drop, keep = vs[:-keep_versions], vs[-keep_versions:]
    if keep_every is not None:
        # LOG CHECKPOINTS (round 8, composes with compact_log): every
        # keep_every-th version is retained as a long-range time-travel
        # checkpoint — its manifest survives and its files join the keep
        # set, so coarse history stays readable past the recent window
        ckpts = [v for v in drop if v % keep_every == 0]
        drop = [v for v in drop if v % keep_every != 0]
        keep = sorted(set(keep) | set(ckpts))
    mfs = table._fs  # metadata-FS seam (round 10): POSIX or Hadoop
    kept_files: set[str] = set()
    for v in keep:
        m = table._read_manifest(v)
        kept_files.update(m["files"])
        kept_files.update(t["path"] for t in m.get("tombstones", []))
        if keep_change_data:
            for fl in (m.get("change_data", {}).get("types") or {}).values():
                kept_files.update(fl)  # a retained version keeps its images
        for d in m.get("dvs", []):
            for dp, fs_ in mfs.walk_files(d["dir"]):
                kept_files.update(
                    os.path.join(dp, n)
                    for n in fs_
                    if n.endswith(".parquet")
                )
    clones_dir = os.path.join(table.root, "_clones")
    if mfs.isdir(clones_dir):
        for ref in mfs.listdir(clones_dir):
            if ref.endswith(".tmp"):
                continue  # in-flight (or crashed) ref write — not live yet
            try:
                clone_root = json.loads(
                    mfs.read_text(os.path.join(clones_dir, ref))
                )["root"]
            except (ValueError, KeyError):
                mfs.unlink(os.path.join(clones_dir, ref))  # torn ref:
                continue  # atomic writes make this unreachable; defensive
            if not mfs.isdir(os.path.join(clone_root, "_manifests")):
                # distinguish DELETED (parent exists, root gone — the
                # supported way to drop a clone) from INACCESSIBLE
                # (unmounted path): releasing the ref on a temporarily
                # unreachable clone would let the next vacuum destroy
                # files the still-live clone references
                if mfs.isdir(os.path.dirname(clone_root)):
                    mfs.unlink(os.path.join(clones_dir, ref))
                    continue
                raise RuntimeError(
                    f"clone root {clone_root} is unreachable (unmounted?) "
                    "— refusing to vacuum; restore the mount or remove "
                    f"the stale ref {ref} manually"
                )
            clone = SnapshotTable(clone_root, fs=mfs)
            for v in clone.versions():
                cm = clone._read_manifest(v)
                kept_files.update(cm["files"])
                kept_files.update(
                    t["path"] for t in cm.get("tombstones", [])
                )
                for fl in (
                    cm.get("change_data", {}).get("types") or {}
                ).values():
                    kept_files.update(fl)
                for d in cm.get("dvs", []):
                    for dp, fs_ in mfs.walk_files(d["dir"]):
                        kept_files.update(
                            os.path.join(dp, n)
                            for n in fs_
                            if n.endswith(".parquet")
                        )
    # retained DELTA manifests must survive their base chain being
    # unlinked: materialize them as checkpoints first (round 9)
    for v in keep:
        table._checkpoint_manifest(v)
        if not keep_change_data:
            # compliance erasure: strip the entry so no reader chases
            # deleted image files — the feeds then re-derive by state
            # diff (see the docstring)
            m = table._read_manifest(v)
            if "change_data" in m:
                m.pop("change_data")
                mfs.replace_atomic(table._manifest_path(v), json.dumps(m))
    for v in drop:
        mfs.unlink(table._manifest_path(v))
    removed = 0
    cutoff = time.time() - grace_seconds
    for dirpath, files in mfs.walk_files(table.data_dir, topdown=False):
        for f in files:
            p = os.path.join(dirpath, f)
            if (
                f.endswith(".parquet")
                and p not in kept_files
                and mfs.getmtime(p) <= cutoff
            ):
                mfs.unlink(p)
                removed += 1
        if dirpath != table.data_dir:
            mfs.rmdir_if_empty(dirpath)
    return {"removed_manifests": len(drop), "removed_files": removed}


# Versions whose manifests rewrite PHYSICAL layout while preserving the
# LOGICAL row multiset exactly — the row-level change feed emits nothing
# for them (Delta CDF's dataChange=false contract for compactions).
# Plain ``optimize`` publishes mode "overwrite" (it re-commits the read
# snapshot), so it takes the generic multiset-diff path instead, which
# proves the same emptiness by comparison rather than by trust.
_ROW_PRESERVING_MODES = frozenset(
    {"optimize-incremental", "optimize-deletions", "dv-consolidate"}
)


def _align_to(df: DataFrame, target: DataFrame) -> DataFrame:
    """Project ``df`` to ``target``'s schema: null-fill columns only the
    target has (additive evolution), cast columns whose type widened
    between versions (cast via simpleString — a dataType cast differing
    only in containsNull raises), drop columns only ``df`` has."""
    from pyspark.sql import functions as F

    have = {f.name: f for f in df.schema.fields}
    exprs = []
    for fld in target.schema.fields:
        ts = fld.dataType.simpleString()
        if fld.name not in have:
            exprs.append(F.lit(None).cast(ts).alias(fld.name))
        elif have[fld.name].dataType.simpleString() != ts:
            exprs.append(F.col(fld.name).cast(ts).alias(fld.name))
        else:
            exprs.append(F.col(fld.name))
    return df.select(*exprs)


def _row_changes_between(
    spark: SparkSession,
    table: SnapshotTable,
    pm: dict,
    cm: dict,
    gap: bool,
) -> DataFrame | None:
    """Row-level changes from manifest ``pm`` to ``cm`` (one commit, or
    a compacted-away RANGE when ``gap``), as a frame of the CURRENT
    schema's columns plus ``_change_type``. None = provably no change.

    The engine is a MULTISET DIFF restricted to the files whose
    visibility changed: a file absent from one side, or present in both
    with a different mask signature, is scanned live on each side and
    ``exceptAll`` yields exactly the removed/added row multisets —
    O(changed files), never O(table), and correct for EVERY commit mode
    (including modes collapsed inside a compacted gap) because it
    compares states instead of trusting intents. Mode-specific fast
    paths skip the double scan where the commit's own O(changes) facts
    already name the rows: a ``delete-dv``/``update-dv`` version's new
    vector IS the deleted addresses (semi-join, one scan), a ``delete``
    version's new tombstone IS the deleted keys. Classification:
    update modes emit Delta CDF's ``update_preimage``/``update_postimage``;
    everything else emits ``insert``/``delete``. A no-op update (SET to
    the identical value) cancels in the diff and emits nothing — the
    feed reports CHANGES, not intents."""
    from pyspark.sql import functions as F

    mode = cm.get("mode")
    if not gap and mode in _ROW_PRESERVING_MODES:
        return None
    # fast path (round 11): the commit WROTE its change data (CoW
    # delete/update, merge, replace_where, opt-in overwrite/rollback) —
    # read the recorded images instead of re-deriving them by the
    # two-sided diff. Exact by construction: the writer computed the
    # same exceptAll multisets this function's generic path would. An
    # entry with EMPTY types is a positive no-change proof.
    cd = cm.get("change_data")
    if not gap and cd is not None:
        from pyspark.sql.types import StructType

        # explicit schema (r11): images are written full table width at
        # this commit's schema — passing it skips per-type footer
        # inference on every feed build (~85 ms per reader, measured)
        img_schema = StructType.fromJson(json.loads(cm["schema"]))
        parts = []
        for ctype in sorted(cd.get("types") or {}):
            files = cd["types"][ctype]
            if files:
                parts.append(
                    spark.read.schema(img_schema)
                    .parquet(*files)
                    .withColumn("_change_type", F.lit(ctype))
                )
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    pf, cf = set(pm["files"]), set(cm["files"])
    psig, csig = _file_masks(pm, pm["files"]), _file_masks(cm, cm["files"])
    affected_prev = [
        f for f in pm["files"] if f not in cf or psig[f] != csig[f]
    ]
    affected_cur = [
        f for f in cm["files"] if f not in pf or csig[f] != psig[f]
    ]
    if not affected_prev and not affected_cur:
        return None  # metadata-only version (constraint, stats, txn)
    if not gap and mode in ("update-where", "update-dv"):
        del_t, ins_t = "update_preimage", "update_postimage"
    else:
        del_t, ins_t = "delete", "insert"
    # fast path: pure append — nothing on the prev side to diff against
    if not affected_prev:
        post = table._scan_with_tombstones(spark, cm, affected_cur)
        return post.withColumn("_change_type", F.lit(ins_t))
    # fast path: positional-vector DML — the new vector names the dead
    # rows' addresses; one prev-side scan + a semi-join replaces the
    # two-sided diff (the vector is O(changed rows) and broadcastable)
    if not gap and mode in ("delete-dv", "update-dv"):
        prev_dirs = {d["dir"] for d in pm.get("dvs") or []}
        new_recs = [
            d for d in (cm.get("dvs") or []) if d["dir"] not in prev_dirs
        ]
        if len(new_recs) == 1:
            rec = new_recs[0]
            touched = [f for f in rec["files"] if f in pf]
            pre = table._scan_with_tombstones(
                spark, pm, touched, with_row_pos=True
            )
            from f1_bigdata_pyspark_spark.operators.join_policy import (
                broadcast_if_small,
            )

            dv = broadcast_if_small(
                # explicit schema (r11): the vector layout is fixed —
                # skips footer inference on every feed build (the __b
                # partition column is recovered from the dirs regardless
                # and simply not selected)
                spark.read.schema("__file string, __pos long")
                .parquet(rec["dir"])
                .select(
                    F.col("__file").alias("__dv_file"),
                    F.col("__pos").alias("__dv_pos"),
                )
            )
            dead = (
                pre.join(dv, ["__dv_file", "__dv_pos"], "left_semi")
                .drop("__dv_file", "__dv_pos")
                .withColumn("_change_type", F.lit(del_t))
            )
            if mode == "delete-dv":
                return dead
            # update-dv: the post-images are exactly the files ADDED by
            # this version (the masked old files also sit in
            # affected_cur — their signature changed — but their live
            # rows are unchanged survivors, not post-images)
            added = [f for f in cm["files"] if f not in pf]
            post = table._scan_with_tombstones(spark, cm, added)
            return dead.unionByName(
                post.withColumn("_change_type", F.lit(ins_t))
            )
    # fast path: key-tombstone DELETE — the new tombstone names the keys
    if not gap and mode == "delete":
        prev_paths = {t["path"] for t in pm.get("tombstones") or []}
        new_paths = [
            t["path"]
            for t in (cm.get("tombstones") or [])
            if t["path"] not in prev_paths
        ]
        if new_paths and not [f for f in cm["files"] if f not in pf]:
            from f1_bigdata_pyspark_spark.operators.join_policy import (
                broadcast_if_small,
            )

            keys = cm["tombstone_keys"]
            dead_keys = broadcast_if_small(
                spark.read.parquet(*new_paths).select(*keys).distinct()
            )
            pre = table._scan_with_tombstones(spark, pm, affected_prev)
            return pre.join(dead_keys, keys, "left_semi").withColumn(
                "_change_type", F.lit("delete")
            )
    # generic: two-sided live scans of the affected files, multiset diff
    pre = table._scan_with_tombstones(spark, pm, affected_prev)
    post = table._scan_with_tombstones(spark, cm, affected_cur)
    pre = _align_to(pre, post)
    dels = pre.exceptAll(post).withColumn("_change_type", F.lit(del_t))
    ins = post.exceptAll(pre).withColumn("_change_type", F.lit(ins_t))
    return dels.unionByName(ins)


def _union_all_balanced(parts: list[DataFrame]) -> DataFrame:
    """Balanced (tree-shaped) ``unionByName`` fold: plan DEPTH O(log n)
    instead of the O(n) left spine a sequential fold builds — a feed
    consumer waking up 5,000 versions behind hands Catalyst a tree 13
    levels deep, not a 5,000-deep recursion (driver analysis blowup,
    the round-10 verdict's missing #3). Same multiset, same schema
    resolution (allowMissingColumns pairs propagate NULL-fill up the
    tree exactly as the linear fold did)."""
    while len(parts) > 1:
        nxt = [
            parts[i].unionByName(parts[i + 1], allowMissingColumns=True)
            for i in range(0, len(parts) - 1, 2)
        ]
        if len(parts) % 2:
            nxt.append(parts[-1])
        parts = nxt
    return parts[0]


def read_row_changes_since(
    spark: SparkSession,
    table: SnapshotTable,
    last_version: int | None,
    max_versions: int | None = None,
) -> tuple[DataFrame | None, int]:
    """ROW-LEVEL change data feed across the FULL DML matrix (Delta's
    CDF / ``table_changes``): the rows changed strictly after
    ``last_version``, each tagged ``_change_type`` ∈ {insert, delete,
    update_preimage, update_postimage} and ``_commit_version``, plus the
    new cursor. Unlike ``read_changes_since`` (append-only file feed,
    raises at the first non-append), this feed crosses deletes, updates
    (CoW and merge-on-read), merges, overwrites and rollbacks — the
    missing piece that let every downstream incremental consumer (ANN
    index maintenance, join-view IVM) survive a GDPR delete without a
    full resync.

    ``last_version=None`` emits the earliest RETAINED version's live
    rows as ``insert`` (Delta's initial-snapshot semantics) and then the
    per-version changes. A cursor naming a vacuumed version raises (the
    proof of what was delivered is gone — same contract as the stream).
    Work is O(changed files + changed rows) per version: see
    ``_row_changes_between``. Replaying the feed onto a row multiset
    reproduces ``table.read`` exactly (pinned in
    tests/test_row_change_feed.py, including across schema evolution —
    versions union by name with NULL-fill for added columns).

    PLAN-DEPTH BOUNDS (round 11): per-version frames combine through a
    BALANCED union tree (depth O(log #versions), not a linear spine),
    and ``max_versions`` caps how many versions fold into one frame —
    the returned cursor then points at the last version delivered, so a
    consumer 5,000 versions behind drains in bounded chunks instead of
    handing Catalyst a 5,000-way plan. Versions whose commit recorded
    CHANGE DATA files (CoW DML, merge, replace_where, opt-in
    overwrite/rollback) are served from those images directly — no
    two-sided diff, no table-file scan."""
    from pyspark.sql import functions as F

    latest = table.latest_version()
    if latest is None or (
        last_version is not None and latest <= last_version
    ):
        return None, latest if latest is not None else -1
    vs = table.versions()
    if last_version is not None and last_version not in vs:
        raise ValueError(
            f"cursor version v{last_version} has been vacuumed away — "
            "the feed cannot prove which rows were already delivered; "
            "re-sync from a snapshot read"
        )
    parts: list[DataFrame] = []
    if last_version is None:
        base_v = vs[0]
        baseline = table.read(spark, base_v)
        parts.append(
            baseline.withColumn("_change_type", F.lit("insert")).withColumn(
                "_commit_version", F.lit(base_v).cast("long")
            )
        )
        prev_v = base_v
    else:
        prev_v = last_version
    pm = table._read_manifest(prev_v)
    pending = [x for x in vs if prev_v < x <= latest]
    if max_versions is not None:
        # CHUNKED CONSUMPTION (round 11): cap the versions folded into
        # one frame; the returned cursor points at the last version
        # actually delivered, so a consumer arbitrarily far behind
        # drains in bounded-plan chunks:
        #   while True:
        #       feed, cur = read_row_changes_since(s, t, cur, max_versions=K)
        #       if feed is None and cur == t.latest_version(): break
        pending = pending[: max(1, int(max_versions))]
    for v in pending:
        # r11: resolve v against the pm we already hold (one read + one
        # merge) instead of re-walking v's whole delta chain per version
        cm = table._read_manifest_from(v, pm)
        ch = _row_changes_between(spark, table, pm, cm, gap=(v != prev_v + 1))
        if ch is not None:
            parts.append(
                ch.withColumn("_commit_version", F.lit(v).cast("long"))
            )
        prev_v, pm = v, cm
    cursor = prev_v if pending else latest
    if not parts:
        return None, cursor
    return _union_all_balanced(parts), cursor


def read_changes_since(
    spark: SparkSession, table: SnapshotTable, last_version: int | None
) -> tuple[DataFrame | None, int]:
    """Incremental change-feed consumption for APPEND-mode tables (the
    Delta streaming-source mechanism): return the rows added strictly
    after ``last_version`` (None = from the beginning) plus the new
    cursor, by planning a scan of exactly the NEW files in manifests
    (last_version, latest]. Consuming in a loop and persisting the
    returned cursor gives exactly-once delivery without re-reading
    history — the micro-batch pattern a 100 TB ingest tails with.

    Overwrite/rollback versions rewrite the file SET, so file-level
    deltas no longer mean row-level appends; those versions raise — the
    consumer must re-sync from a snapshot (Delta's
    ``ignoreChanges``-style contract, made explicit)."""
    latest = table.latest_version()
    if latest is None or (last_version is not None and latest <= last_version):
        return None, latest if latest is not None else -1
    seen: set[str] = set()
    if last_version is not None:
        seen = set(table._read_manifest(last_version)["files"])
    new_files: list[str] = []
    m: dict | None = None
    for v in table.versions():
        if last_version is not None and v <= last_version:
            continue
        # r11: resolve sequentially against the previous version's
        # resolved manifest — O(versions) reads, not O(versions × chain)
        m = table._read_manifest_from(v, m)
        # dv-consolidate adds/removes no files and preserves the logical
        # row multiset: the set difference below emits nothing for it
        if m["mode"] not in ("append", "dv-consolidate") and not (
            m["mode"] == "overwrite" and last_version is None and v == 0
        ):
            raise ValueError(
                f"v{v} is {m['mode']!r}, not append — change feed broken; "
                "re-sync from a snapshot read"
            )
        for f in m["files"]:
            if f not in seen:
                new_files.append(f)
                seen.add(f)
    if not new_files:
        return None, latest
    return (
        table._plan_scan(spark, table._read_manifest(latest), new_files),
        latest,
    )
